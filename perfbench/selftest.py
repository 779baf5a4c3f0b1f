#!/usr/bin/env python3
"""Self-tests of the benchmark's own code (no Spark needed):

    python3 perfbench/selftest.py

- the statistics, including the percentile rule;
- the independent `greatest` on the reference's documented cases;
- every metric the benchmark prints is named in BENCHMARK.json, and every
  metric named there is printed.
"""
import json
import math
import os
import statistics
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

NAN, INF = float("nan"), float("inf")


class Stats(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_percentile_needs_ten_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 90), 90)  # 10 samples beyond
        with self.assertRaises(ValueError):
            stats.percentile(xs, 91)  # 9 beyond
        with self.assertRaises(ValueError):
            stats.percentile(list(range(40)), 90)
        self.assertEqual(stats.percentile(list(range(1, 41)), 75), 30)

    def test_quartiles_and_spread(self):
        xs = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.4]
        self.assertEqual(stats.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))
        q1, q2, q3 = stats.quartiles(xs)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / q2)


class Greatest(unittest.TestCase):
    def same(self, got, exp):
        self.assertEqual(len(got), len(exp))
        for g, x in zip(got, exp):
            self.assertTrue(oracle.same(g, x), f"{got!r} != {exp!r}")

    def test_reference_cases(self):
        # integers stay integers
        self.same(oracle.greatest_ref([[1, 5, -3], [3, 2, -7]]), [3, 5, -3])
        # NULL is skipped; NULL only when every argument is NULL
        self.same(oracle.greatest_ref([[None, 1, None], [2, None, None]]), [2, 1, None])
        # Long with Double gives Double
        got = oracle.greatest_ref([[1, 3], [2.5, None]])
        self.same(got, [2.5, 3.0])
        self.assertIsInstance(got[1], float)
        # NaN is greater than every number, infinity included
        self.same(oracle.greatest_ref([[1.0, NAN, INF], [NAN, 2.0, NAN]]), [NAN, NAN, NAN])
        self.same(oracle.greatest_ref([[-INF, None], [None, INF]]), [-INF, INF])
        with self.assertRaises(ValueError):
            oracle.greatest_ref([[1, 2]])

    def test_check_finds_wrong_answers(self):
        cols = [[1, 4, None], [3, 2, None]]
        self.assertIsNone(oracle.check_greatest(cols, [3, 4, None]))
        self.assertIsNotNone(oracle.check_greatest(cols, [3, 2, None]))
        self.assertIsNotNone(oracle.check_greatest(cols, [3.0, 4.0, None]))
        self.assertIsNotNone(oracle.check_greatest(cols, [3, 4, 0]))
        self.assertIsNotNone(oracle.check_greatest([[1.0], [NAN]], [1.0]))

    def test_encoding_round_trips(self):
        for v in [None, 0, -12, 10**12, 1.5, -0.25, NAN, INF, -INF, 1e300]:
            back = oracle.decode(oracle.encode(v))
            self.assertTrue(oracle.same(back, v) or (math.isnan(v) and math.isnan(back)))

    def test_inputs_are_seeded(self):
        a = run.greatest_inputs(7, 4)
        self.assertEqual(repr(a), repr(run.greatest_inputs(7, 4)))
        self.assertNotEqual(repr(a), repr(run.greatest_inputs(8, 4)))


def fake_harness(sink):
    """A minimal harness.json: set-up, one cold and two steady passes of
    two operations, with one job, stage and planned statement each."""
    spans, jobs, stages, plans, passes = [], [], [], [], []

    def span(parent, name, start, end):
        spans.append({"id": len(spans), "parent": parent, "name": name,
                      "start_ns": start, "end_ns": end})
        return len(spans) - 1

    t = 1_000_000_000_000_000
    root = span(-1, "workload:x", t, t + 10**10)
    for i, kind in enumerate(["cold", "steady", "steady"]):
        ps = span(root, f"pass:{i}", t, t + 10**9)
        ops = []
        for op in ["a", "b"]:
            o = span(ps, f"op:{op}", t, t + 4 * 10**8)
            span(o, "reclaim", t, t + 10**6)
            span(o, "prepare", t + 10**6, t + 2 * 10**6)
            if sink != "binding":
                span(o, "build", t + 2 * 10**6, t + 10**8)
            body = span(o, "call" if sink == "binding" else "sink", t + 10**8, t + 4 * 10**8)
            jobs.append({"job": len(jobs), "span": body, "start_ms": (t + 2 * 10**8) // 10**6,
                         "end_ms": (t + 3 * 10**8) // 10**6})
            stages.append({"stage": len(stages), "span": body, "tasks": 4, "shuffle_read": 1024,
                           "shuffle_write": 2048, "spill": 0, "input": 4096,
                           "output": 512})
            ms = (t + 10**8) // 10**6
            plans.append({"qe": len(plans), "func": "save", "phases": {
                "analysis": [ms + 1, ms + 5], "optimization": [ms + 5, ms + 9],
                "planning": [ms + 9, ms + 12]}})
            ops.append({"op": op, "module": "Queries", "span": o, "wall_s": 0.4 + i / 100,
                        "error": None, "reclaim_s": 0.001, "prepare_s": 0.001, "build_s": 0.098,
                        "sink_s": 0.3, "sink_span": body, "rows": 8})
            t += 5 * 10**8
        passes.append({"pass": i, "kind": kind, "span": ps, "wall_s": 1.0 + i, "gc_s": 0.01,
                       "cpu_s": 2.0, "codegen_s": 0.2, "codegen_classes": 3, "ops": ops})
    return {"workload": "x", "jvm_to_main_s": 0.2, "session_s": 1.5,
            "setup_reps": [{"prepare_s": 0.3, "warmup_s": 0.4}] * 3, "peak_rss_mb": 900.0,
            "passes": passes, "spans": spans, "jobs": jobs, "stages": stages, "plans": plans}


class MetricNames(unittest.TestCase):
    bench = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))

    def test_end_to_end_names(self):
        got = run.end_to_end(fake_harness("noop"))
        want = {m["name"]: m["unit"] for m in self.bench["end_to_end"]}
        self.assertEqual({k: v["unit"] for k, v in got.items()}, want)

    def test_per_layer_names(self):
        want = {m["name"]: m["unit"] for m in self.bench["per_layer"]}
        for sink in ("noop", "parquet", "binding"):
            with tempfile.TemporaryDirectory() as d:
                got, doc = layers.per_layer(fake_harness(sink), sink, d)
            self.assertEqual({k: v["unit"] for k, v in got.items()}, want, sink)
            self.assertLess(doc["accounting"]["max_gap_share"], 0.5)
            self.assertGreater(got["plan_s"]["value"], 0)
            self.assertEqual(got["exec.jobs"]["value"], 2)

    def test_workloads_match(self):
        self.assertEqual(sorted(w["name"] for w in self.bench["workloads"]),
                         sorted(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
