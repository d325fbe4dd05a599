"""Tests of the benchmark's own logic. Run from the root of a checkout:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import benchlib
import layers
import run

HERE = os.path.dirname(os.path.abspath(__file__))


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(10, 0, -1))  # unsorted on purpose
        self.assertEqual(benchlib.percentile(xs, 50), 5)
        self.assertEqual(benchlib.percentile(xs, 90), 9)
        self.assertEqual(benchlib.percentile(xs, 99), 10)
        self.assertEqual(benchlib.percentile(xs, 100), 10)
        self.assertEqual(benchlib.percentile([7.5], 90), 7.5)
        with self.assertRaises(ValueError):
            benchlib.percentile([], 50)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(benchlib.beyond(100, 90), 10)
        self.assertEqual(benchlib.tail_percentile(1000), 99)
        self.assertEqual(benchlib.tail_percentile(999), 90)
        self.assertEqual(benchlib.tail_percentile(100), 90)
        self.assertEqual(benchlib.tail_percentile(20), 50)
        self.assertIsNone(benchlib.tail_percentile(10))

    def test_describe_prints_sample_count(self):
        line = benchlib.describe("latency", [float(i) for i in range(1, 201)], "ms")
        self.assertIn("n=200 samples", line)
        self.assertIn("p50=100 ms", line)
        self.assertIn("p90=180 ms", line)
        self.assertIn("tail with >=10 beyond: p90", line)


class SpanTest(unittest.TestCase):
    @staticmethod
    def span(i, kind, start, end, parent=None):
        return {"id": i, "kind": kind, "name": str(i), "start": start, "end": end, "parent": parent}

    def test_union_length(self):
        self.assertEqual(benchlib.union_length([(0, 10), (5, 15), (20, 30), (25, 26)]), 25)
        self.assertEqual(benchlib.union_length([(5, 5), (3, 1)]), 0)

    def test_self_time_subtracts_covered_part(self):
        spans = [self.span(0, "trigger", 0, 100), self.span(1, "phase", 10, 30, 0),
                 self.span(2, "phase", 20, 50, 0), self.span(3, "phase", 60, 70, 0),
                 self.span(4, "job", 22, 28, 2), self.span(5, "job", 40, 80, 2)]
        per_kind = benchlib.self_times(spans)
        self.assertEqual(spans[0]["self"], 100 - 50)
        self.assertEqual(spans[2]["self"], 30 - 6 - 10)  # job 5 clipped to the phase
        self.assertEqual(spans[4]["self"], 6)
        self.assertEqual(per_kind, {"trigger": 50, "phase": 20 + 14 + 10, "job": 46})

    def test_nest_picks_innermost_container(self):
        spans = [self.span(0, "workload", 0, 100), self.span(1, "trigger", 0, 40),
                 self.span(2, "trigger", 40, 90), self.span(3, "phase", 45, 60, 2),
                 self.span(4, "job", 50, 55), self.span(5, "job", 95, 99)]
        benchlib.nest(spans)
        self.assertEqual([s["parent"] for s in spans], [None, 0, 0, 2, 3, 0])

    def test_trigger_phases_are_laid_in_execution_order(self):
        trace = {"spans": [], "executions": [], "jobs": [], "stages": [], "progress": [
            {"batch": 3, "start": 1000, "duration": {
                "triggerExecution": 100, "addBatch": 60, "latestOffset": 5, "walCommit": 10,
                "queryPlanning": 20, "commitOffsets": 5}}]}
        spans = benchlib.build_spans(trace, "run")
        phases = [(s["name"], s["start"], s["end"]) for s in spans if s["kind"] == "phase"]
        self.assertEqual(phases, [("latestOffset", 1000, 1005), ("walCommit", 1005, 1015),
                                  ("queryPlanning", 1015, 1035), ("addBatch", 1035, 1095),
                                  ("commitOffsets", 1095, 1100)])
        self.assertTrue(all(s["run"] == "run" for s in spans))
        self.assertTrue(all(s["parent"] == 0 for s in spans[1:]))


class EndToEndTest(unittest.TestCase):
    def test_cpu_per_operation(self):
        m = {"batch_ms": [900, 1000, 1100], "rows": 750000, "seconds": 3.0,
             "cpu_s": 7.5, "batch_rows": 250000}
        metrics, extra, lat = benchlib.end_to_end("drain_keyed", m)
        self.assertEqual(metrics, {"cpu_ms_per_op": (2500.0, "ms")})
        self.assertEqual(extra["drain_cpu_s_per_mrow"], (10.0, "s"))
        self.assertEqual(extra["drain_rows_per_s"], (250000.0, "1/s"))
        self.assertEqual(lat, [900.0, 1000.0, 1100.0])
        g = {"passes": [{"wall_s": 3.0, "cpu_s": 9.0, "gate_ms": {"a": 1000, "b": 2000}},
                        {"wall_s": 2.0, "cpu_s": 7.0, "gate_ms": {"a": 900, "b": 1100}}]}
        metrics, extra, lat = benchlib.end_to_end("gate_mix", g)
        self.assertEqual(metrics, {"cpu_ms_per_op": (4000.0, "ms")})
        self.assertEqual(extra["gate_mix_cpu_s"], (8.0, "s"))
        self.assertEqual(lat, [1000, 2000, 900, 1100])


class BenchmarkFileTest(unittest.TestCase):
    def test_metric_lists_match_the_code(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertLessEqual({w["name"] for w in spec["workloads"]}, set(run.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]], layers.METRICS)
        m = {"batch_ms": [900, 1000], "rows": 500000, "seconds": 2.0, "cpu_s": 4.0,
             "batch_rows": 250000}
        metrics, _, _ = benchlib.end_to_end("drain_keyed", m)
        names = ["setup_s"] + list(metrics) + ["peak_rss_mb"]
        self.assertEqual([e["name"] for e in spec["end_to_end"]], names)


if __name__ == "__main__":
    unittest.main()
