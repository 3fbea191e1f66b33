"""Tests of the offset-to-latency mapping (perfbench/latency.py) and of the
metric declarations.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import os
import unittest

import run
from latency import backlog, map_ticks, weighted_quantile


def tick(due, offset, n=10, sent=None):
    return dict(due=due, sent=due if sent is None else sent, offset=offset, n=n)


class MapTicksTest(unittest.TestCase):

    def test_tick_maps_to_first_batch_whose_end_offset_covers_it(self):
        # MemoryStream gives each addData call one offset: ticks 0..5 are
        # offsets 0..5, and batch end offsets are inclusive.
        ticks = [tick(100.0 * i, i) for i in range(6)]
        batches = [dict(end_offset=1, done=1000.0), dict(end_offset=4, done=2000.0),
                   dict(end_offset=5, done=3000.0)]
        got = [ms + t["due"] for t, (ms, _) in zip(ticks, map_ticks(ticks, batches))]
        self.assertEqual(got, [1000.0, 1000.0, 2000.0, 2000.0, 2000.0, 3000.0])

    def test_batch_order_does_not_depend_on_input_order(self):
        ticks = [tick(0.0, 3)]
        batches = [dict(end_offset=9, done=900.0), dict(end_offset=3, done=300.0)]
        self.assertEqual(map_ticks(ticks, batches), [(300.0, 10)])

    def test_latency_runs_from_due_time_not_send_time(self):
        # the generator sent this tick 40 ms late; the wait counts
        ticks = [tick(1000.0, 0, sent=1040.0)]
        batches = [dict(end_offset=0, done=1500.0)]
        self.assertEqual(map_ticks(ticks, batches), [(500.0, 10)])

    def test_backlog_is_rising_latency_not_lost_samples(self):
        # a tick every 100 ms, batches that each take longer than the ticks
        # they carry: every tick is still delivered, and latency rises
        ticks = [tick(100.0 * i, i, n=5) for i in range(10)]
        batches = [dict(end_offset=2, done=600.0), dict(end_offset=5, done=1400.0),
                   dict(end_offset=9, done=2600.0)]
        lat = map_ticks(ticks, batches)
        self.assertEqual(sum(n for _, n in lat), 50)
        firsts = [lat[0][0], lat[3][0], lat[6][0]]
        self.assertTrue(firsts[0] < firsts[1] < firsts[2], firsts)

    def test_undelivered_tick_is_an_error_not_a_dropped_sample(self):
        with self.assertRaises(ValueError):
            map_ticks([tick(0.0, 7)], [dict(end_offset=6, done=10.0)])


class QuantileAndBacklogTest(unittest.TestCase):

    def test_weighted_quantile_counts_events(self):
        pairs = [(10.0, 98), (500.0, 2)]
        self.assertEqual(weighted_quantile(pairs, 0.5), 10.0)
        self.assertEqual(weighted_quantile(pairs, 0.98), 10.0)
        self.assertEqual(weighted_quantile(pairs, 0.99), 500.0)

    def test_backlog_counts_sent_but_uncommitted_events(self):
        ticks = [tick(100.0 * i, i, n=10) for i in range(6)]
        batches = [dict(start=250.0, end_offset=2), dict(start=550.0, end_offset=5)]
        # at 250 ms: ticks 0..2 sent, none committed; at 550 ms: ticks 0..5
        # sent, 0..2 committed
        self.assertEqual(backlog(ticks, batches), [30, 30])


class DeclarationTest(unittest.TestCase):

    def test_reported_metrics_match_benchmark_json(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
            decl = json.load(fh)
        self.assertEqual([(m["name"], m["unit"]) for m in decl["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in decl["per_layer"]], run.PER_LAYER)
        self.assertTrue(set(w["name"] for w in decl["workloads"]) <= set(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
