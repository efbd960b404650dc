"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import statistics
import unittest

import report
from stats import covered, median, merge, percentile, self_time, union_length


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_nearest_ranks(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(percentile(xs, 0), 1.0)
        self.assertEqual(percentile(xs, 100), 4.0)
        self.assertAlmostEqual(percentile(xs, 50), 2.5)
        self.assertAlmostEqual(percentile(xs, 90), 3.7)

    def test_median_matches_statistics(self):
        for xs in ([5], [1, 9], [3, 1, 2], [0.5, 0.1, 0.9, 0.4, 0.7]):
            self.assertAlmostEqual(median(xs), statistics.median(xs))

    def test_no_values(self):
        with self.assertRaises(ValueError):
            percentile([], 50)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlapping_and_touching_jobs(self):
        self.assertEqual(merge([(5, 7), (0, 2), (1, 3), (3, 4), (9, 9)]),
                         [(0, 4), (5, 7)])
        self.assertEqual(union_length([(0, 2), (1, 3), (5, 7)]), 5)

    def test_covered_clips_to_the_window(self):
        jobs = [(0, 4), (6, 12)]
        self.assertEqual(covered(jobs, 2, 10), 6)
        self.assertEqual(covered(jobs, 4, 6), 0)

    def test_driver_gap_is_wall_minus_job_union(self):
        # op from 0 to 10; two concurrent jobs 1..4 and 2..5, one at 7..8
        jobs = [(1, 4), (2, 5), (7, 8)]
        self.assertEqual(10 - covered(jobs, 0, 10), 5)

    def test_self_time_subtracts_covered_part_only(self):
        self.assertEqual(self_time((0, 10), []), 10)
        self.assertEqual(self_time((0, 10), [(2, 4), (3, 6)]), 6)
        # a child reaching outside its parent only counts inside it
        self.assertEqual(self_time((0, 10), [(8, 15)]), 8)


class LayerTest(unittest.TestCase):
    def raw(self, exec_end_ms):
        # one op: construct 0..4 ms, execute 4..10 ms (harness clock, us);
        # Spark's clocks (ms): a planning phase 4..5, one job 5..9 and the
        # SQL execution around them, 4..exec_end
        op = {"id": 0, "pass": 1, "name": "q", "module": "M", "t0": 0, "t1": 4000,
              "t2": 10000, "builds": [["memo", 0.001]], "ok": True}
        trace = {"jobs": [{"id": 0, "group": "op-0", "exec": "3", "start": 5,
                           "end": 9, "stages": 2, "tasks": 3, "run_ms": 4,
                           "cpu_ns": 1, "gc_ms": 0, "busy_ms": 8, "shuffle_w": 0,
                           "shuffle_r": 0, "spill": 0, "input": 0}],
                 "phases": [{"name": "planning", "start": 4, "end": 5}],
                 "aqe_exec_ids": [3, 3],
                 "sql_execs": [{"id": 3, "start": 4, "end": exec_end_ms}]}
        return {"trace_data": trace}, [op]

    def test_split_of_one_op(self):
        raw, ops = self.raw(10)
        rows, _, _ = report.layer_rows(raw, ops)
        r = rows[0]
        self.assertAlmostEqual(r["job_s"], 0.004)
        self.assertAlmostEqual(r["gap_s"], 0.006)
        self.assertAlmostEqual(r["plan.planning_s"], 0.001)
        self.assertAlmostEqual(r["driver_s"], 0.005)
        self.assertAlmostEqual(r["construct_s"], 0.003)
        self.assertAlmostEqual(r["accounted_s"], 0.010)
        self.assertEqual((r["jobs"], r["exec.tasks"], r["aqe_replans"]), (1, 3, 2))
        self.assertTrue(r["adds_up"])

    def test_time_spark_did_not_see_does_not_add_up(self):
        # the harness's execute window is 6 ms, Spark's execution 4 ms
        raw, ops = self.raw(8)
        rows, _, _ = report.layer_rows(raw, ops)
        self.assertAlmostEqual(rows[0]["accounted_s"], 0.008)
        self.assertFalse(rows[0]["adds_up"])


class MetricNamesTest(unittest.TestCase):
    def test_report_prints_what_benchmark_json_lists(self):
        spec = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")
        if not os.path.exists(spec):
            self.skipTest("no BENCHMARK.json next to the benchmark")
        with open(spec) as f:
            bench = json.load(f)

        def op(i, p, name, t0):
            return {"id": i, "pass": p, "name": name, "module": "Relational", "t0": t0,
                    "t1": t0 + 100, "t2": t0 + 1000, "builds": [], "ok": True}
        samples = [op(i, p, "q", 10000 * i) for i, p in enumerate((-1, 0, 1, 2))]
        raw = {"samples": samples, "passes": 3, "traced_passes": [1], "peak_rss_mb": 1.0,
               "retained_heap_mb": 1.0,
               "setup_s": 2.1, "session_s": 1.0, "warmup_s": 1.0,
               "trace_data": {"jobs": [], "phases": [], "aqe_exec_ids": [], "sql_execs": []}}
        rec = report.build(raw, {"q": ("Relational", ["t"])}, {"t": 10}, {})
        for key, section in (("end_to_end", "end_to_end"), ("per_layer", "per_layer")):
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in rec[section].items()}
            self.assertEqual(got, want)

    def test_query_p50_is_geometric_mean_of_op_medians(self):
        def op(i, name, ms):
            return {"id": i, "pass": 0, "name": name, "module": "Relational", "t0": 0,
                    "t1": 0, "t2": ms * 1000, "builds": [], "ok": True}
        samples = [op(0, "a", 10), op(1, "a", 30), op(2, "a", 20), op(3, "b", 80)]
        raw = {"samples": samples, "passes": 1, "traced_passes": [], "peak_rss_mb": 1.0,
               "retained_heap_mb": 1.0, "setup_s": 2.1, "session_s": 1.0, "warmup_s": 1.0}
        rec = report.build(raw, {"a": ("Relational", []), "b": ("Relational", [])}, {}, {})
        # medians 20 ms and 80 ms
        self.assertAlmostEqual(rec["end_to_end"]["query_p50_s"]["value"], 0.04)


if __name__ == "__main__":
    unittest.main()
