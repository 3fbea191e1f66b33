#!/usr/bin/env python3
"""Benchmark of the graft engine: the paper's streaming fold and the batch suite.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload stream_steady --seed 1 --seconds 15 --trace 0

Workloads (see perfbench/README.md for why each exists):
  stream_steady  open loop at a fixed rate, shipped 1 s trigger, state preloaded
  stream_growth  closed loop, every event on a new product code
  batch_suite    closed loop, one client, registered queries in name order

The first run in a checkout builds the engine and this harness with sbt
(offline); later runs reuse the build while the sources are unchanged. Each
run starts one JVM with a fresh private warehouse and checkpoint directory,
checks every output against an independent computation, prints a readable
report, and prints as its last line one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with --trace 0,
the per-layer metrics with --trace 1 (spans and listener detail on).
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

from latency import backlog, map_ticks, weighted_quantile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
DATA = os.path.join(HERE, "data", "sf0.1")
EXPECTED = os.path.join(HERE, "expected_hashes.json")

RUN_LIMIT_S = 170          # a run (after the build) must end within this
BUILD_LIMIT_S = 700        # the first run in a checkout builds: 700 + 170 < 900
GEN_LATE_BOUND_MS = 100.0  # a steady run whose generator ran later is invalid

# The queries of batch_suite, one or two per family of the registry: the
# paper's fold and its SCD2 twin, a TPC-H join, a window, approximate
# aggregates (no oracle: hash pinned), text, dedup, and a query served from a
# train-once artifact (built in set-up). Set-up and a few passes fit the run
# length on a 4-core host; the whole 212-query suite does not.
BATCH_QUERIES = [
    "approx_aggregates", "dedup_fingerprint", "inventory_fold", "inventory_scd2",
    "q13_order_distribution", "text_lm_perplexity", "text_url_extract",
    "window_running_sum",
]

WORKLOADS = ("stream_steady", "batch_suite", "stream_growth")

END_TO_END = [
    ("setup_s", "s"), ("events_per_s", "1/s"), ("latency_p50_ms", "ms"),
    ("latency_p99_ms", "ms"), ("suite_s", "s"), ("query_gmean_ms", "ms"),
    ("rss_peak_mb", "MiB"),
]

PER_LAYER = [
    ("session.create_ms", "ms"), ("sources.lag_events", "count"),
    ("operators.build_ms", "ms"), ("plans.plan_ms", "ms"),
    ("streaming.rows_in", "count"), ("streaming.rows_out", "count"),
    ("streaming.emit_ratio", "ratio"),
    ("state.rows_total", "count"), ("state.rows_updated", "count"),
    ("state.rows_growth", "ratio"), ("state.memory_bytes", "bytes"),
    ("state.rocksdb_sst_bytes", "bytes"), ("state.rocksdb_bytes_written", "bytes"),
    ("sink.rows", "count"),
    ("exec.action_ms", "ms"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.ms_per_job", "ms"), ("exec.task_cpu_ms", "ms"),
    ("exec.cpu_util", "ratio"), ("exec.gc_ms", "ms"), ("exec.sched_delay_ms", "ms"),
    ("exec.shuffle_write_bytes", "bytes"), ("exec.shuffle_read_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"), ("exec.task_skew", "ratio"),
    ("exec.failed_tasks", "count"), ("baseline.single_thread_eps", "1/s"),
]

# Spark on JDK 17 outside spark-submit (the same list build.sbt passes).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class Invalid(Exception):
    """The run's measurement cannot be scored."""


def log(msg):
    print(msg, flush=True)


# ---------------------------------------------------------------- building

def source_fingerprint():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(base, "**", "*"), recursive=True))
    h = hashlib.sha256()
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    tmp = os.path.join(WORK, "build", "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Djava.io.tmpdir=" + tmp, "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile the engine and the harness; return the runtime classpath."""
    stamp = os.path.join(WORK, "build", "stamp.json")
    fp = source_fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            st = json.load(fh)
        if st["fingerprint"] == fp and all(os.path.exists(p) for p in st["classpath"]):
            return st["classpath"]
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    logf = os.path.join(WORK, "build", "sbt.log")
    log("building engine and harness with sbt (log: %s)" % os.path.relpath(logf, ROOT))
    t0 = time.time()
    with open(logf, "w") as out:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       BUILD_LIMIT_S, cwd=HERE, env=sbt_env(), stdout=out)
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    if rc != 0 or not os.path.exists(cp_file):
        with open(logf) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit("build failed (exit %s)" % rc)
    with open(cp_file) as fh:
        cp = fh.read().strip().split(os.pathsep)
    with open(stamp, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": cp}, fh)
    log("build took %.1f s" % (time.time() - t0))
    return cp


def run_child(cmd, limit_s, **kw):
    """Run a child in its own process group; kill the group past the limit.
    Returns the exit code, or None on timeout. Never leaves the child running."""
    p = subprocess.Popen(cmd, start_new_session=True, stderr=subprocess.STDOUT, **kw)
    try:
        return p.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()


# ---------------------------------------------------------------- running

def host_cpu():
    """Jiffies from the first line of /proc/stat (user … steal), or None.
    Time the hypervisor gave to other guests shows as steal: a run with a
    high share of it measured a contended host."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def heap():
    return os.environ.get("SPARK_DRIVER_MEM") or "3g"


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def launch(cp, workload, seed, seconds, trace, extra, limit_s):
    """Run one JVM in a fresh private directory; return its record."""
    run_dir = os.path.join(WORK, "runs", "%s-%d-%d" % (workload, seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("warehouse", "local", "tmp"):
        os.makedirs(os.path.join(run_dir, d))
    out = os.path.join(run_dir, "record.json")
    # The heap is committed and touched at start, with a fixed young
    # generation: peak RSS is then the heap plus native memory (RocksDB,
    # metaspace, code, threads) and does not depend on when the collector ran.
    cmd = ["java", "-Xms" + heap(), "-Xmx" + heap(), "-Xmn384m", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.sql.warehouse.dir=" + os.path.join(run_dir, "warehouse"),
        "-Dspark.local.dir=" + os.path.join(run_dir, "local"),
        "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
        "-Dspark.hadoop.hadoop.tmp.dir=" + os.path.join(run_dir, "tmp"),
        "-cp", os.pathsep.join(cp), "graftbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--out", out, "--work", run_dir, "--cores", str(cores()),
    ] + extra
    logf = os.path.join(WORK, "last-%s.log" % workload)
    try:
        with open(logf, "w") as fh:
            rc = run_child(cmd, limit_s, cwd=ROOT, stdout=fh)
        if rc != 0 or not os.path.exists(out):
            with open(logf) as fh:
                sys.stderr.write(fh.read()[-6000:])
            raise SystemExit("benchmark JVM %s" % ("timed out" if rc is None else "failed, exit %s" % rc))
        shutil.copyfile(out, os.path.join(WORK, "last-%s.json" % workload))
        with open(out) as fh:
            return json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


# ---------------------------------------------------------------- reducing

def median(xs):
    return statistics.median(xs) if xs else 0.0


def pct(xs, q):
    """Nearest-rank percentile of unweighted samples."""
    return weighted_quantile([(x, 1) for x in xs], q)


def stream_metrics(rec, report):
    sink = {w["batch"]: w for w in rec["sink_writes"]}
    if any(b["batch"] not in sink for b in rec["batches"]):
        raise Invalid("a micro-batch has no sink write")
    before = [b for b in rec["batches"] if b["timestamp"] < rec["timed_start_ms"]]
    batches = timed_batches(rec)
    if not batches:
        raise Invalid("no micro-batch in the timed window")
    every = [dict(due=t[0], sent=t[1], offset=int(t[3]), n=int(t[4]), timed=t[5] == 1) for t in rec["ticks"]]
    ticks = [t for t in every if t["timed"]]
    mapped = [dict(end_offset=b["end_offset"], done=sink[b["batch"]]["end"]) for b in rec["batches"]]
    try:
        lat = map_ticks(ticks, mapped)
    except ValueError as e:
        raise Invalid(str(e))
    events = sum(t["n"] for t in ticks)
    last_done = max(t["due"] + ms for t, (ms, _) in zip(ticks, lat))
    wall_s = (last_done - ticks[0]["due"]) / 1000.0
    trig = [b["durations"]["triggerExecution"] for b in batches]
    late = [t["sent"] - t["due"] for t in ticks]
    lag = backlog(every, [dict(start=b["timestamp"], end_offset=b["end_offset"]) for b in batches],
                  before[-1]["end_offset"] if before else -1)
    third = max(1, len(lag) // 3)
    e2e = {
        "setup_s": (rec["ready_ms"] - rec["jvm_start_ms"]) / 1000.0,
        "events_per_s": events / wall_s,
        "latency_p50_ms": weighted_quantile(lat, 0.50),
        "latency_p99_ms": weighted_quantile(lat, 0.99),
        "suite_s": wall_s,
        "query_gmean_ms": statistics.geometric_mean(trig),
        "rss_peak_mb": rec["rss_peak_mb"],
    }
    report.update({
        "query_p50_ms": "%.1f ms" % pct(trig, 0.50),
        "query_p90_ms": "%.1f ms" % pct(trig, 0.90),
        "latency samples (events)": events, "micro-batches": len(batches),
        "sources.gen_late_ms p99": pct(late, 0.99), "sources.gen_late_ms max": max(late),
        "sources.lag_events first third": statistics.mean(lag[:third]),
        "sources.lag_events last third": statistics.mean(lag[-third:]),
    })
    if rec["workload"] == "stream_steady" and max(late) > GEN_LATE_BOUND_MS:
        raise Invalid("generator ran %.1f ms behind schedule (bound %.0f ms)" % (max(late), GEN_LATE_BOUND_MS))

    n = len(batches)
    dur = lambda k: [b["durations"].get(k, 0) for b in batches]  # noqa: E731
    st = [b["state"] for b in batches]
    custom = lambda k: [s["custom"].get(k, 0) for s in st]  # noqa: E731
    rows_in = sum(b["rows_in"] for b in batches)
    rows_out = sum(b["records_emitted"] for b in batches)
    sink_rows = sum(sink[b["batch"]]["rows"] for b in batches)
    ex = rec["exec"]
    layer = {
        "session.create_ms": rec["session_ms"],
        "sources.lag_events": median(lag),
        "operators.build_ms": rec["operators_build_ms"],
        "plans.plan_ms": statistics.mean(dur("queryPlanning")),
        "streaming.rows_in": rows_in / n,
        "streaming.rows_out": rows_out / n,
        "streaming.emit_ratio": rows_out / rows_in,
        "state.rows_total": st[-1]["rows_total"],
        "state.rows_updated": statistics.mean(s["rows_updated"] for s in st),
        "state.rows_growth": st[-1]["rows_total"] / max(1, st[0]["rows_total"]),
        "state.memory_bytes": st[-1]["memory_bytes"],
        "state.rocksdb_sst_bytes": custom("rocksdbSstFileSize")[-1],
        "state.rocksdb_bytes_written": statistics.mean(custom("rocksdbTotalBytesWritten")),
        "sink.rows": sink_rows / n,
        "exec.action_ms": statistics.mean(dur("addBatch")),
        "baseline.single_thread_eps": rec["baseline_eps"],
    }
    layer.update(exec_layer(ex, n, layer["exec.action_ms"], rec))
    offsets = [sum(b["durations"].get(k, 0) for k in ("latestOffset", "getBatch", "walCommit", "commitOffsets"))
               for b in batches]
    report.update({
        "streaming.trigger_ms p50": pct(trig, 0.5), "streaming.trigger_ms p99": pct(trig, 0.99),
        "streaming.add_batch_ms": statistics.mean(dur("addBatch")),
        "streaming.planning_ms": statistics.mean(dur("queryPlanning")),
        "streaming.offsets_ms": statistics.mean(offsets),
        "streaming.records_emitted (peek) / sink rows": "%d / %d" % (rows_out, sink_rows),
        "exec.task_run_ms (run - cpu = waiting)": ex["task_run_ms"] / n,
        "state.commit_ms": statistics.mean(s["commit_ms"] for s in st),
        "state.update_ms": statistics.mean(s["update_ms"] for s in st),
        "state.rocksdb_file_sync_ms": statistics.mean(custom("rocksdbCommitFileSyncLatencyMs")),
        "state.rocksdb_flush_ms": statistics.mean(custom("rocksdbCommitFlushLatency")),
        "state.rocksdb_checkpoint_ms": statistics.mean(custom("rocksdbCommitCheckpointLatency")),
        "state.rocksdb_put_ms": statistics.mean(custom("rocksdbPutLatency")),
        "state.rocksdb_get_ms": statistics.mean(custom("rocksdbGetLatency")),
        "state.rows_total first -> last": "%d -> %d" % (st[0]["rows_total"], st[-1]["rows_total"]),
        "sink.write_ms": statistics.mean(sink[b["batch"]]["end"] - sink[b["batch"]]["start"] for b in batches),
    })
    return e2e, layer, rec["attempted"], rec["failed"]


def exec_layer(ex, units, action_ms, rec):
    wall_s = (rec["timed_end_ms"] - rec["timed_start_ms"]) / 1000.0
    jobs = ex["jobs"] / units
    return {
        "exec.jobs": jobs, "exec.stages": ex["stages"] / units, "exec.tasks": ex["tasks"] / units,
        "exec.ms_per_job": action_ms / jobs if jobs else 0.0,
        "exec.task_cpu_ms": ex["task_cpu_ms"] / units,
        "exec.cpu_util": ex["task_cpu_ms"] / 1000.0 / (wall_s * cores()),
        "exec.gc_ms": rec["gc_ms"] / units,
        "exec.sched_delay_ms": ex["sched_delay_ms"] / units,
        "exec.shuffle_write_bytes": ex["shuffle_write_bytes"] / units,
        "exec.shuffle_read_bytes": ex["shuffle_read_bytes"] / units,
        "exec.spill_bytes": ex["spill_bytes"] / units,
        "exec.task_skew": ex["task_skew"],
        "exec.failed_tasks": ex["failed_tasks"],
    }


def batch_metrics(rec, report):
    with open(EXPECTED) as fh:
        expected = json.load(fh)["hashes"]
    passes = rec["passes"]
    runs = [q for p in passes for q in p]
    failed = [q["name"] for q in runs if q["error"] or q["hash"] != expected.get(q["name"])]
    for q in runs:
        if q["error"]:
            log("query %s failed: %s" % (q["name"], q["error"]))
        elif q["hash"] != expected.get(q["name"]):
            log("query %s: content hash %s, expected %s" % (q["name"], q["hash"], expected.get(q["name"])))
    # Per query, the median over the timed passes: on a shared host it
    # repeats from run to run better than graft.Bench's min, which one quiet
    # pass sets.
    per_query = {}
    for q in runs:
        per_query.setdefault(q["name"], []).append(q["wall_ms"])
    qt = [median(v) for v in per_query.values()]
    # The client's latency is the wait for a whole pass (the eight queries
    # back to back). A quantile over the eight per-query times would be one
    # query's time, which moved by 10-20% from one JVM to the next on a
    # 4-core host.
    pass_ms = [sum(q["wall_ms"] for q in p) for p in passes]
    ex = rec["exec"]
    e2e = {
        "setup_s": (rec["ready_ms"] - rec["jvm_start_ms"]) / 1000.0,
        "events_per_s": ex["records_read"] / len(passes) / (sum(qt) / 1000.0),
        "latency_p50_ms": statistics.median(pass_ms),
        "latency_p99_ms": pct(pass_ms, 0.99),
        "suite_s": sum(qt) / 1000.0,
        # Every query weighs the same, as in TPC-H's power metric. The
        # median of eight queries is the time of whichever query ranks
        # fourth, and the queries near the middle lie within 10-20% of each
        # other, so it jumps between them from run to run.
        "query_gmean_ms": statistics.geometric_mean(qt),
        "rss_peak_mb": rec["rss_peak_mb"],
    }
    n = len(passes)
    per_pass = lambda k: median([sum(q[k] for q in p) for p in passes])  # noqa: E731
    warm = {q["name"]: q for q in rec["warmup"]}
    artifact_ms = sum(max(0.0, warm[name]["wall_ms"] - median(v))
                      for name, v in per_query.items() if warm[name]["artifacts"] > 0)
    layer = {k: 0.0 for k, _ in PER_LAYER}
    layer.update({
        "session.create_ms": rec["session_ms"],
        "operators.build_ms": per_pass("build_ms"),
        "plans.plan_ms": per_pass("plan_ms"),
        "exec.action_ms": per_pass("action_ms"),
    })
    layer.update(exec_layer(ex, n, layer["exec.action_ms"], rec))
    report.update({
        "query_p50_ms": "%.1f ms" % pct(qt, 0.50), "query_p90_ms": "%.1f ms" % pct(qt, 0.90),
        "queries per pass": len(per_query), "timed passes": n,
        "sources.artifact_build_ms": artifact_ms,
        "queries that built artifacts": sum(1 for q in rec["warmup"] if q["artifacts"] > 0),
        "warm-up pass s": sum(q["wall_ms"] for q in rec["warmup"]) / 1000.0,
        "input records read per pass": ex["records_read"] / n,
        "exec.task_run_ms (run - cpu = waiting)": ex["task_run_ms"] / n,
    })
    return e2e, layer, len(runs), len(failed)


# ---------------------------------------------------------------- tracing

def timed_batches(rec):
    return [b for b in rec.get("batches", []) if b["timestamp"] >= rec["timed_start_ms"]]


def spans_of(rec):
    """The spans of a traced run's timed window, with Spark-reported intervals
    added and every span's parent resolved (by containment where it was not
    known)."""
    spans = [dict(s) for s in rec.get("spans", []) if s["start"] >= rec["timed_start_ms"]]
    next_id = max([s["id"] for s in rec.get("spans", [])] + [0]) + 1
    order = ["latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets"]
    layer_of = {"queryPlanning": "plans"}
    for b in timed_batches(rec):
        d = b["durations"]
        top = dict(id=next_id, parent=0, name="micro-batch", layer="streaming",
                   start=float(b["timestamp"]), end=float(b["timestamp"] + d["triggerExecution"]))
        spans.append(top)
        next_id += 1
        t = top["start"]
        for k in order + sorted(set(d) - set(order) - {"triggerExecution"}):
            if d.get(k):
                spans.append(dict(id=next_id, parent=top["id"], name=k, layer=layer_of.get(k, "streaming"),
                                  start=t, end=t + d[k]))
                next_id += 1
                t += d[k]
    for a, b in rec.get("jobs", []):
        spans.append(dict(id=next_id, parent=-1, name="job", layer="exec", start=float(a), end=float(b)))
        next_id += 1
    # containment: the shortest non-job span that holds the interval (2 ms
    # slack: Spark reports whole milliseconds)
    holders = sorted((s for s in spans if s["name"] != "job"), key=lambda s: s["end"] - s["start"])
    for s in spans:
        if s["parent"] == -1:
            s["parent"] = next((h["id"] for h in holders if h is not s and h["start"] - 2 <= s["start"]
                                and s["end"] <= h["end"] + 2), 0)
    return spans


def self_times(spans):
    """Per layer: span time minus the part of it that child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, last = 0.0, s["start"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            a, b = max(c["start"], last), min(c["end"], s["end"])
            if b > a:
                covered += b - a
                last = b
        out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - covered
    return out


def reconcile(rec):
    """Share of each unit's wall time that its child spans account for."""
    if rec.get("batches"):
        return [sum(v for k, v in b["durations"].items() if k != "triggerExecution")
                / max(1, b["durations"]["triggerExecution"]) for b in timed_batches(rec)]
    return [(q["build_ms"] + q["plan_ms"] + q["action_ms"]) / q["wall_ms"]
            for p in rec.get("passes", []) for q in p]


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        sys.stderr.write("engine sources not found next to perfbench/; run from a full checkout\n")
        return 2
    cp = build()
    extra = ["--data", DATA, "--queries", ",".join(BATCH_QUERIES)] if a.workload == "batch_suite" else []
    cpu0 = host_cpu()
    rec = launch(cp, a.workload, a.seed, a.seconds, a.trace, extra, RUN_LIMIT_S)
    cpu1 = host_cpu()
    busy = sum(cpu1) - sum(cpu0) - (cpu1[3] - cpu0[3]) if cpu0 and cpu1 else 0
    report = {"seed": a.seed, "workload": a.workload, "cores": cores(), "heap": heap(),
              "host steal, % of busy cpu": 100.0 * (cpu1[7] - cpu0[7]) / busy if busy else "n/a"}
    try:
        if a.workload == "batch_suite":
            e2e, layer, attempted, failed = batch_metrics(rec, report)
        else:
            e2e, layer, attempted, failed = stream_metrics(rec, report)
    except Invalid as e:
        sys.stderr.write("invalid run, not scored: %s\n" % e)
        return 3
    report["failed_frac"] = failed / attempted
    if a.trace:
        st = self_times(spans_of(rec))
        report.update({"self_ms." + k: v for k, v in sorted(st.items())})
        cov = reconcile(rec)
        report["child spans / unit wall, min"] = min(cov)
        report["child spans / unit wall, median"] = median(cov)
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    key = os.path.join(results, "%s-seed%d" % (a.workload, a.seed))
    with open("%s-trace%d.json" % (key, a.trace), "w") as fh:
        json.dump(e2e, fh)
    if a.trace and os.path.exists(key + "-trace0.json"):
        with open(key + "-trace0.json") as fh:
            base = json.load(fh)
        for k, v in e2e.items():
            if base.get(k):
                report["tracing overhead " + k] = "%+.1f%%" % (100.0 * (v / base[k] - 1.0))

    units = dict(END_TO_END + PER_LAYER)
    for k, v in list(report.items()):
        log("%-44s %s" % (k, v))
    for k, v in list(e2e.items()) + (list(layer.items()) if a.trace else []):
        log("%-44s %.6g %s" % (k, v, units[k]))
    chosen = PER_LAYER if a.trace else END_TO_END
    metrics = {k: {"value": float((layer if a.trace else e2e)[k]), "unit": u} for k, u in chosen}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
