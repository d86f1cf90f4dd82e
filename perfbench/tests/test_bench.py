"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402
import stats  # noqa: E402


def progress(batch, start, end, ts, trigger, run="r"):
    return {"runId": run, "batchId": batch, "timestamp": ts, "numInputRows": 1,
            "durationMs": {"triggerExecution": trigger, "addBatch": trigger - 10},
            "sources": [{"startOffset": start, "endOffset": end}]}


class AttributionTest(unittest.TestCase):
    def setUp(self):
        # batch 0 commits offset 0 (the priming block), batch 1 offsets 1-2,
        # batch 2 offset 3; offset 4 is never committed
        self.bs = stats.batches([
            progress(1, 0, 2, "2026-01-01T00:00:01.000Z", 300),
            progress(0, None, 0, "2026-01-01T00:00:00.000Z", 900),
            progress(2, 2, 3, "2026-01-01T00:00:01.300Z", 250),
        ])
        self.t = stats.epoch_ms("2026-01-01T00:00:00.000Z")

    def test_batches_sorted_with_trigger_end(self):
        self.assertEqual([b["batch"] for b in self.bs], [0, 1, 2])
        self.assertEqual(self.bs[0]["start"], -1)
        self.assertAlmostEqual(self.bs[1]["t1"] - self.t, 1300.0)

    def test_offset_to_commit(self):
        c = stats.commit_times([0, 1, 2, 3, 4], self.bs)
        self.assertAlmostEqual(c[0] - self.t, 900.0)
        self.assertAlmostEqual(c[1] - self.t, 1300.0)
        self.assertAlmostEqual(c[2] - self.t, 1300.0)
        self.assertAlmostEqual(c[3] - self.t, 1550.0)
        self.assertIsNone(c[4])

    def test_event_latency_from_due_time(self):
        # (offset, first event, count, late ms): events 0-1 in block 1, 2 in
        # block 3, 3 in the uncommitted block 4
        blocks = [(1, 0, 2, 0.1), (3, 2, 1, 0.2), (4, 3, 1, 0.0)]
        due = {0: 900.0, 1: 950.0, 2: 1200.0, 3: 1500.0}
        lat = stats.event_latencies(blocks, self.bs, lambda i: self.t + due[i])
        self.assertAlmostEqual(lat[0], 400.0)
        self.assertAlmostEqual(lat[1], 350.0)
        self.assertAlmostEqual(lat[2], 350.0)
        self.assertIsNone(lat[3])

    def test_file_source_offsets(self):
        bs = stats.batches([progress(0, {"logOffset": 0}, {"logOffset": 1},
                                     "2026-01-01T00:00:00.000Z", 10)])
        self.assertEqual((bs[0]["start"], bs[0]["end"]), (0, 1))

    def test_backlog(self):
        dues = [0.0, 10.0, 20.0, 30.0]
        commits = [25.0, 25.0, 40.0, None]
        # at t=21: three due, none committed; at t=35: four due, two committed
        self.assertEqual(stats.backlog_max(dues, commits, [21.0, 35.0]), 3)
        self.assertEqual(stats.backlog_max(dues, commits, [35.0]), 2)


class PercentileTest(unittest.TestCase):
    def test_interpolates_like_numpy_linear(self):
        xs = [5.0, 1.0, 3.0, 2.0, 4.0]
        self.assertEqual(stats.percentile(xs, 50), 3.0)
        self.assertAlmostEqual(stats.percentile(xs, 95), 4.8)
        self.assertEqual(stats.percentile(xs, 0), 1.0)
        self.assertEqual(stats.percentile(xs, 100), 5.0)
        self.assertEqual(stats.percentile([7.0], 95), 7.0)

    def test_samples_beyond_each_percentile(self):
        xs = list(range(1, 101))
        p50, p95 = stats.percentile(xs, 50), stats.percentile(xs, 95)
        self.assertEqual(stats.beyond(xs, p50), 50)
        self.assertEqual(stats.beyond(xs, p95), 5)

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)
        with self.assertRaises(ValueError):
            stats.sliced_percentile([(5.0, 1.0)], 0.0, 4.0, 2, 50)

    def test_sliced_percentile_is_median_over_slices(self):
        # four slices of [0, 8): values 1, 2, 3 and a slow slice of 100s
        samples = [(t / 10.0, float(1 + int(t / 20))) for t in range(0, 60)]
        samples += [(6.0 + t / 10.0, 100.0) for t in range(20)]
        self.assertEqual(stats.sliced_percentile(samples, 0.0, 8.0, 4, 95), 2.5)
        self.assertEqual(stats.percentile([v for _, v in samples], 95), 100.0)
        # outside [t0, t1) is ignored; one slice is its own percentile
        self.assertEqual(stats.sliced_percentile(samples, 0.0, 2.0, 1, 50), 1.0)


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_per_layer(self):
        spans = [
            {"id": 0, "name": "queries.q", "start_ms": 0.0, "end_ms": 100.0, "parent": -1},
            {"id": 1, "name": "streaming.trigger", "start_ms": 10.0, "end_ms": 60.0, "parent": 0},
            {"id": 2, "name": "sql.sink_write", "start_ms": 20.0, "end_ms": 50.0, "parent": 1},
            {"id": 3, "name": "streaming.trigger", "start_ms": 60.0, "end_ms": 90.0, "parent": 0},
        ]
        self.assertEqual(stats.self_times(spans),
                         {"queries": 20.0, "streaming": 50.0, "sql": 30.0})

    def test_self_times_sum_to_root_duration(self):
        spans = [
            {"id": 0, "name": "setup", "start_ms": 0.0, "end_ms": 50.0, "parent": -1},
            {"id": 1, "name": "setup.session", "start_ms": 0.0, "end_ms": 20.0, "parent": 0},
            {"id": 2, "name": "plans.plan", "start_ms": 20.0, "end_ms": 30.0, "parent": 0},
        ]
        self.assertAlmostEqual(sum(stats.self_times(spans).values()), 50.0)

    def test_trigger_phases_nest_inside_their_trigger(self):
        bs = stats.batches([progress(0, None, 1, "2026-01-01T00:00:00.000Z", 100)])
        bs[0]["durations"] = {"triggerExecution": 100, "latestOffset": 5, "walCommit": 10,
                              "queryPlanning": 20, "addBatch": 50, "commitOffsets": 10}
        spans = [{"id": 0, "name": "queries.q", "start_ms": bs[0]["t0"] - 30,
                  "end_ms": bs[0]["t1"] + 20, "parent": -1, "run": "p"}]
        spans += stats.trigger_spans(bs, 0, 1, "p")
        trig = spans[1]
        phases = spans[2:]
        self.assertEqual(trig["name"], "streaming.trigger")
        self.assertTrue(all(s["parent"] == trig["id"] for s in phases))
        self.assertTrue(all(trig["start_ms"] <= s["start_ms"] <= s["end_ms"] <= trig["end_ms"]
                            for s in phases))
        self.assertEqual(stats.self_times(spans),
                         {"queries": 50.0, "streaming": 5.0 + 10 + 20 + 50 + 10, "sources": 5.0})


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_table(self):
        a, b = gen.events_table(7, 3000), gen.events_table(7, 3000)
        self.assertEqual(gen.table_digest(a), gen.table_digest(b))
        self.assertNotEqual(gen.table_digest(a), gen.table_digest(gen.events_table(8, 3000)))

    def test_table_invariants(self):
        t = gen.events_table(3, 5000).to_pydict()
        ts = t["ts"]
        self.assertEqual(len(set(ts)), len(ts))
        self.assertEqual(ts, sorted(ts))
        self.assertEqual(t["event_id"], list(range(5000)))
        self.assertEqual(set(t["event_type"]), set(gen.EVENT_TYPES))
        self.assertTrue(all(p.startswith('{"k": ') for p in t["props"]))
        self.assertTrue(min(t["value"]) >= 0.01)

    def test_live_content_depends_only_on_seed(self):
        a, b = gen.live_stream(4, 2000, 1.0), gen.live_stream(4, 2000, 1.0)
        self.assertEqual(gen.live_digest(a), gen.live_digest(b))
        self.assertNotEqual(gen.live_digest(a), gen.live_digest(gen.live_stream(5, 2000, 1.0)))
        self.assertEqual(len(a["off_us"]), 20 + 2000)
        self.assertGreater(a["sel_step"], 0.05)  # the walk produces steps

    def test_rate_must_give_whole_microseconds(self):
        with self.assertRaises(ValueError):
            gen.live_stream(1, 3000, 1.0)


if __name__ == "__main__":
    unittest.main()
