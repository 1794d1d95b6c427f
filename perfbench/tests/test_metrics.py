"""Tests for the benchmark's own arithmetic and output contract.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


class SelfTime(unittest.TestCase):
    def span(self, i, start, end, parent=0):
        return {"id": i, "name": f"s{i}", "start": start, "end": end, "parent": parent, "op": "q"}

    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(metrics.union_length([(0, 5), (3, 8), (10, 12)], 0, 20), 10)
        self.assertEqual(metrics.union_length([(-5, 5), (15, 30)], 0, 20), 10)
        self.assertEqual(metrics.union_length([], 0, 20), 0)

    def test_self_time_subtracts_covered_children_once(self):
        spans = [self.span(1, 0, 100), self.span(2, 10, 40, 1), self.span(3, 30, 60, 1),
                 self.span(4, 35, 38, 2)]
        own = metrics.self_times(spans)
        self.assertEqual(own[1], 100 - 50)  # children cover [10, 60]
        self.assertEqual(own[2], 30 - 3)
        self.assertEqual(own[3], 30)
        self.assertEqual(own[4], 3)

    def test_self_times_sum_to_root_duration_for_nested_children(self):
        spans = [self.span(1, 0, 100), self.span(2, 0, 50, 1), self.span(3, 50, 90, 1),
                 self.span(4, 10, 20, 2)]
        self.assertEqual(sum(metrics.self_times(spans).values()), 100)


class OutputSchema(unittest.TestCase):
    def sample(self, op, p, start, wall_s, warmup=False, traced=False):
        return {"op": op, "pass": p, "warmup": warmup, "traced": traced, "start": start,
                "end": start + int(wall_s * 1e9), "cpu_ns": int(2e9 * wall_s), "gc_ms": 1,
                "codegen_ns": 0, "live_heap": 2**21, "rows": 3, "error": ""}

    def test_e2e_metrics_are_named_in_benchmark_json(self):
        samples = [self.sample("a", 1, 0, 9.0, warmup=True)] + [
            self.sample(op, p, p * 10**10 + i * 10**9, 0.1 * (i + 1))
            for p in (2, 3) for i, op in enumerate("abcdef")]
        values, info = metrics.e2e(samples, 12.5)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual(set(values), {m["name"] for m in bench["end_to_end"]})
        for m in bench["end_to_end"]:
            self.assertEqual(values[m["name"]][1], m["unit"])
        self.assertAlmostEqual(values["pass_s"][0], 2.1)
        self.assertAlmostEqual(values["op_max_s"][0], 0.6)
        self.assertAlmostEqual(values["op_p50_s"][0], 0.35)
        self.assertAlmostEqual(values["cpu_s"][0], 4.2)
        self.assertEqual(values["live_heap_mb"][0], 2.0)
        self.assertEqual(info["samples"], 12)

    def test_per_layer_metrics_are_named_in_benchmark_json(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        names = [n for n, _ in metrics.PER_LAYER]
        self.assertEqual(names, [m["name"] for m in bench["per_layer"]])
        self.assertEqual(dict(metrics.PER_LAYER), {m["name"]: m["unit"] for m in bench["per_layer"]})

    def test_per_layer_attributes_spans_and_events(self):
        s1 = self.sample("a", 3, 1000, 1e-6, traced=True)
        s2 = self.sample("a", 4, 5000, 1e-6)
        out = {
            "samples": [s1, s2],
            "spans": [{"id": 1, "name": "op", "start": 1000, "end": 2000, "parent": 0, "op": "a"},
                      {"id": 2, "name": "spark.execute", "start": 1200, "end": 1900,
                       "parent": 1, "op": "a"}],
            "events": [{"kind": "task", "start": 1300, "end": 1500, "run_ms": 2.0},
                       {"kind": "task", "start": 5100, "end": 5200, "run_ms": 7.0},
                       {"kind": "job", "start": 1250, "end": 1250}],
            "ingest": [],
        }
        v = metrics.per_layer(out)
        self.assertEqual(v["spark.tasks"][0], 1)         # the untraced pass is ignored
        self.assertEqual(v["spark.jobs"][0], 1)
        self.assertAlmostEqual(v["spark.task_run_s"][0], 0.002)
        self.assertAlmostEqual(v["spark.execute_s"][0], 700 / 1e9)
        self.assertAlmostEqual(v["trace.op_self_s"][0], 300 / 1e9)
        self.assertAlmostEqual(v["spark.sched_wait_s"][0], 500 / 1e9)


if __name__ == "__main__":
    unittest.main()
