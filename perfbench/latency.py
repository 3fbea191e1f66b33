"""Offset-to-latency mapping for the stream workloads.

A tick is one `MemoryStream.addData` call: the generator sends `n` events at
once, and the stream assigns the whole call one offset (the offset advances
per call, not per row). A micro-batch covers every offset up to its end
offset, so a tick's events reach the sink with the first micro-batch, in
batch order, whose end offset is at least the tick's offset.

Latency runs from when the tick was *due*, not from when it was sent, so a
generator or engine stall is charged to every event it delays; a backlog
shows as rising latency and never as lost samples.
"""

import bisect


def map_ticks(ticks, batches):
    """Map ticks to the micro-batch that delivered them.

    ticks: sequence of dicts with `due`, `offset` and `n`.
    batches: sequence of dicts with `end_offset` and `done` (the time the sink
    finished writing the batch), in batch order.
    Returns one (latency_ms, n) pair per tick, in tick order. A tick that no
    batch covers raises ValueError: the run stopped before its events were
    processed, which the caller must not score.
    """
    ordered = sorted(batches, key=lambda b: b["end_offset"])
    ends = [b["end_offset"] for b in ordered]
    out = []
    for t in ticks:
        i = bisect.bisect_left(ends, t["offset"])
        if i == len(ends):
            raise ValueError("tick at offset %d was never delivered" % t["offset"])
        out.append((ordered[i]["done"] - t["due"], t["n"]))
    return out


def weighted_quantile(pairs, q):
    """The q-quantile (0 < q <= 1) of values weighted by counts, by nearest
    rank over the individual events: pairs are (value, count)."""
    pairs = sorted(p for p in pairs if p[1] > 0)
    total = sum(n for _, n in pairs)
    if total == 0:
        raise ValueError("no samples")
    rank = max(1, -(-q * total // 1))  # ceil(q * total), at least the first event
    seen = 0
    for value, n in pairs:
        seen += n
        if seen >= rank:
            return value
    return pairs[-1][0]


def backlog(ticks, batches, prev_end=-1):
    """Events offered but not yet in a committed batch, sampled when each
    micro-batch starts: events sent before its start minus the events of the
    batches before it. batches carry `start` and `end_offset` in batch order;
    prev_end is the end offset of the batch before the first one."""
    out = []
    for b in batches:
        sent = sum(t["n"] for t in ticks if t["sent"] <= b["start"])
        done = sum(t["n"] for t in ticks if t["offset"] <= prev_end)
        out.append(max(0, sent - done))
        prev_end = b["end_offset"]
    return out
