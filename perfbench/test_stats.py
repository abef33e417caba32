"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(list(range(19))))
        self.assertEqual(stats.tail_percentile(list(range(20)))[0], 50)
        self.assertEqual(stats.tail_percentile(list(range(39)))[0], 50)
        self.assertEqual(stats.tail_percentile(list(range(40)))[0], 75)
        self.assertEqual(stats.tail_percentile(list(range(100)))[0], 90)
        self.assertEqual(stats.tail_percentile(list(range(199)))[0], 90)
        self.assertEqual(stats.tail_percentile(list(range(200)))[0], 95)
        self.assertEqual(stats.tail_percentile(list(range(1000)))[0], 99)
        self.assertEqual(stats.tail_percentile(list(range(10000)))[0], 99.9)

    def test_value_is_the_interpolated_quantile(self):
        p, v = stats.tail_percentile([float(x) for x in range(101)])
        self.assertEqual(p, 90)
        self.assertAlmostEqual(v, 90.0)
        self.assertAlmostEqual(stats.quantile([1.0, 2.0, 3.0, 4.0], 0.5), 2.5)

    def test_count_beyond_is_at_least_ten(self):
        for n in range(20, 500, 7):
            p, v = stats.tail_percentile(list(range(n)))
            self.assertGreaterEqual(sum(1 for x in range(n) if x > v), 10 - 1e-9)


class UnionLength(unittest.TestCase):
    def test_overlaps_count_once(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (3, 4)]), 10)
        self.assertEqual(stats.union_length([(5, 6), (0, 1)]), 2)

    def test_touching_and_empty(self):
        self.assertEqual(stats.union_length([(0, 5), (5, 10)]), 10)
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(3, 3)]), 0)

    def test_clipped_to_window(self):
        self.assertEqual(stats.union_length([(0, 10), (12, 20)], lo=5, hi=15), 8)
        self.assertEqual(stats.union_length([(0, 4)], lo=5, hi=15), 0)

    def test_busy_and_gap_fill_the_wall(self):
        jobs = [(1, 3), (2, 6), (8, 9)]
        busy = stats.union_length(jobs, 0, 10)
        self.assertEqual(busy, 6)
        self.assertEqual(10 - busy, 4)  # driver gap

    def test_subtract(self):
        self.assertEqual(stats.subtract_length([(0, 10)], [(2, 4), (3, 5)], 0, 10), 7)
        self.assertEqual(stats.subtract_length([(0, 10)], [], 0, 10), 10)


class Reconcile(unittest.TestCase):
    OP = {"i": 0, "name": "q", "start_ms": 0.0, "build_ms": 40.0, "end_ms": 100.0}

    def parts(self, jobs, plans):
        r = stats.reconcile(self.OP, [{"start_ms": a, "end_ms": b} for a, b in jobs], plans)
        return r

    def test_parts_add_up_to_wall(self):
        r = self.parts([(10, 20), (50, 90)], [(0, 5), (45, 55)])
        self.assertAlmostEqual(r["wall_s"], 0.1)
        self.assertAlmostEqual(r["busy_s"], 0.05)
        self.assertAlmostEqual(r["plans_s"], 0.010)  # (0,5) and (45,50)
        self.assertAlmostEqual(r["build_self_s"], 0.025)  # 40 - 10 job - 5 plan
        self.assertAlmostEqual(r["other_s"], 0.015)
        total = r["busy_s"] + r["plans_s"] + r["build_self_s"] + r["other_s"]
        self.assertAlmostEqual(total, r["wall_s"])

    def test_nothing_is_counted_twice(self):
        # phases and jobs overlapping each other and the build span
        r = self.parts([(0, 60), (30, 100)], [(0, 100), (20, 30)])
        self.assertAlmostEqual(r["busy_s"], 0.1)
        self.assertAlmostEqual(r["plans_s"], 0.0)
        self.assertAlmostEqual(r["build_self_s"], 0.0)
        self.assertAlmostEqual(r["other_s"], 0.0)

    def test_layer_record_matches_reconcile(self):
        jobs = [{"job": 1, "start_ms": 10.0, "end_ms": 20.0,
                 "callsite": "localCheckpoint at Materialize.scala:40"},
                {"job": 2, "start_ms": 50.0, "end_ms": 60.0, "callsite": "parquet at Tables.scala:26"},
                {"job": 3, "start_ms": 60.0, "end_ms": 90.0, "callsite": "parquet at Tables.scala:120"}]
        stages = [{"job": 3, "tasks": 4, "run_ms": 200, "in_rows": 7, "in_bytes": 2e6}]
        queries = [{"func": "collect", "analysis": [0, 5], "optimization": [45, 50],
                    "planning": [50, 55]}]
        r = stats.layer_record(dict(self.OP, codegen_compiles=3), jobs, stages, queries, 4)
        self.assertAlmostEqual(r["exec.busy_s"], 0.05)
        self.assertAlmostEqual(r["operators.driver_gap_s"], 0.05)
        self.assertAlmostEqual(r["operators.build_s"], 0.04)
        self.assertEqual(r["operators.loop_jobs"], 1)
        self.assertAlmostEqual(r["operators.memo_job_s"], 0.01)
        self.assertEqual(r["sources.scan_rows"], 7)
        self.assertAlmostEqual(r["sources.scan_mb"], 2.0)
        self.assertEqual(r["exec.jobs"], 3)
        self.assertAlmostEqual(r["exec.core_util"], 0.2 / (0.1 * 4))
        rec = r["reconcile"]
        self.assertAlmostEqual(rec["busy_s"] + rec["plans_s"] + rec["build_self_s"]
                               + rec["other_s"], r["wall_s"])
        self.assertAlmostEqual(r["exec.busy_s"] + r["operators.driver_gap_s"], r["wall_s"])


class Attribute(unittest.TestCase):
    def test_by_op_property_and_phase_start(self):
        ops = [{"i": 0, "start_ms": 0, "end_ms": 10}, {"i": 1, "start_ms": 10, "end_ms": 20}]
        trace = {"jobs": [{"op": "0", "start_ms": 1, "end_ms": 2},
                          {"op": "1", "start_ms": 11, "end_ms": 12},
                          {"op": "check", "start_ms": 30, "end_ms": 31},
                          {"op": "1", "start_ms": 13}],
                 "stages": [{"op": "1"}, {"op": None}],
                 "queries": [{"func": "collect", "analysis": [12, 13]}]}
        by_op = stats.attribute(ops, trace)
        self.assertEqual(len(by_op["0"][0]), 1)
        self.assertEqual(len(by_op["1"][0]), 1)  # the unfinished job is left out
        self.assertEqual(len(by_op["1"][1]), 1)
        self.assertEqual(len(by_op["1"][2]), 1)
        self.assertEqual(len(by_op["0"][2]), 0)


if __name__ == "__main__":
    unittest.main()
