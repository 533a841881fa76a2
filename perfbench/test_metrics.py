#!/usr/bin/env python3
"""Self-tests of the benchmark's metric math: python3 perfbench/test_metrics.py"""
import json
import os
import random
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402


def raw_run(ops, trace=False):
    raw = {"correct": True, "errors": [], "setup_s": 30.5, "measured_s": 8.0, "cpu_s": 4.0,
           "meta_bytes": 1000, "data_bytes": 4000, "peak_rss_kb": 2048000, "ops": ops}
    if trace:
        raw.update({"gauges": {"exec.jobs": 10, "sql.rows": 30, "sql.stmts": 3},
                    "plans": [[1, 2, 3], [3, 4, 5]],
                    "spans": [[1, -1, op["id"], op["kind"], 0, int(op["ms"] * 1e6)]
                              for op in ops if op["ok"]]})
    return raw


def op(i, ms, reads=(), ok=True):
    return {"id": i, "kind": "load", "ok": ok, "ms": ms if ok else 0,
            "reads": list(reads), "writes": [], "maintains": [],
            **({} if ok else {"error": "boom"})}


class Percentiles(unittest.TestCase):
    def test_p90_not_below_p50(self):
        rnd = random.Random(7)
        for n in (100, 137, 1000):
            xs = [rnd.lognormvariate(0, 1) for _ in range(n)]
            self.assertGreaterEqual(metrics.percentile(xs, 0.9), metrics.percentile(xs, 0.5))

    def test_tail_needs_ten_samples_beyond_it(self):
        self.assertIsNone(metrics.percentile(list(range(99)), 0.9))
        self.assertIsNotNone(metrics.percentile(list(range(100)), 0.9))
        self.assertIsNone(metrics.percentile(list(range(199)), 0.95))
        self.assertIsNotNone(metrics.percentile(list(range(200)), 0.95))

    def test_median(self):
        self.assertEqual(metrics.percentile([5.0], 0.5), 5.0)
        self.assertEqual(metrics.percentile([1, 2, 3, 4], 0.5), 2.5)
        self.assertIsNone(metrics.percentile([], 0.5))


class FailedOperations(unittest.TestCase):
    def test_failed_ops_are_counted_and_kept_out(self):
        good = [op(i, 100 + i, reads=[10 + i]) for i in range(5)]
        bad = [op(9, 1e6, reads=[1e6], ok=False)]
        out = metrics.report(raw_run(good + bad), trace=False)
        self.assertEqual(out["attempted"], 6)
        self.assertEqual(out["failed"], 1)
        self.assertEqual(out["metrics"]["cpu_ms_per_op"]["value"], 4000 / 5)
        wall = metrics.wall_clock(raw_run(good + bad))
        self.assertEqual(wall["op_ms_p50"], 102)
        self.assertEqual(wall["read_ms_p50"], 12)
        self.assertEqual(wall["ops_per_s"], 5 / 8.0)

    def test_failed_ops_spans_are_dropped(self):
        ops = [op(1, 50), op(2, 0, ok=False)]
        raw = raw_run(ops, trace=True)
        raw["spans"].append([2, -1, 2, "load", 0, int(9e9)])
        m = metrics.per_layer(raw)
        self.assertEqual(m["exec.jobs_per_op"], 10)
        self.assertAlmostEqual(m["bench.self_ms_per_op"], 50)

    def test_no_completed_op_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.report(raw_run([op(1, 0, ok=False)]), trace=False)


class Spans(unittest.TestCase):
    def test_self_time_subtracts_covered_children(self):
        parent = [1, -1, 1, "op", 0, 100]
        kids = [[2, 1, 1, "a", 10, 40], [3, 1, 1, "b", 30, 50], [4, 1, 1, "c", 90, 120]]
        self.assertEqual(metrics.self_time(parent, kids), 100 - 40 - 10)


class Declared(unittest.TestCase):
    def test_printed_metrics_match_benchmark_json(self):
        e2e, layer = metrics.declared()
        ops = [op(i, 100 + i, reads=[10 + i]) for i in range(5)]
        for trace, want in ((False, e2e), (True, layer)):
            out = metrics.report(raw_run(ops, trace), trace)
            self.assertEqual([(k, v["unit"]) for k, v in out["metrics"].items()], want)
            json.dumps(out)

    def test_every_metric_has_a_definition(self):
        e2e, layer = metrics.declared()
        raw = raw_run([op(1, 1, reads=[1])], trace=True)
        self.assertEqual(set(n for n, _ in e2e), set(metrics.end_to_end(raw)))
        self.assertEqual(set(n for n, _ in layer), set(metrics.per_layer(raw)))


if __name__ == "__main__":
    unittest.main()
