"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import math
import os
import unittest

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_keeps_gaps(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(metrics.union_length([(5, 6), (0, 10)]), 10)
        self.assertEqual(metrics.union_length([(0, 1), (1, 2)]), 2)
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(3, 3), (4, 2)]), 0)

    def test_driver_gap_is_span_minus_covered_part(self):
        # jobs cover [1,3] and [4,5] inside the span [0,10]; one job
        # sticks out of the span and only its inside part counts
        self.assertEqual(metrics.driver_gap((0, 10), [(1, 3), (2, 3), (4, 5), (9, 12)]), 6)
        self.assertEqual(metrics.driver_gap((0, 10), []), 10)
        self.assertEqual(metrics.driver_gap((0, 10), [(-5, 20)]), 0)

    def test_overlap_counts_concurrent_jobs(self):
        self.assertEqual(metrics.overlap([(0, 2), (2, 4)]), 1.0)
        self.assertEqual(metrics.overlap([(0, 2), (0, 2)]), 2.0)
        self.assertEqual(metrics.overlap([]), 1.0)


class PercentileTest(unittest.TestCase):
    def test_ten_samples_stay_above_the_tail(self):
        xs = list(range(1, 101))  # 1..100
        p, v, n = metrics.tail_percentile(xs)
        self.assertEqual((p, v, n), (90, 90, 100))
        self.assertEqual(sum(x > v for x in xs), 10)

    def test_odd_sizes_round_the_percentile_down(self):
        xs = list(range(1, 131))  # 130 queries
        p, v, n = metrics.tail_percentile(xs)
        self.assertEqual(p, 92)
        self.assertGreaterEqual(sum(x > v for x in xs), 10)
        # the next whole percentile would leave fewer than ten above
        nxt = xs[math.ceil((p + 1) * n / 100) - 1]
        self.assertLess(sum(x > nxt for x in xs), 10)

    def test_few_samples_fall_back_to_the_maximum(self):
        self.assertEqual(metrics.tail_percentile([3.0, 1.0]), (100, 3.0, 2))
        self.assertEqual(metrics.tail_percentile(list(range(14))), (100, 13, 14))
        self.assertEqual(metrics.tail_percentile(list(range(99))), (100, 98, 99))
        self.assertEqual(metrics.tail_percentile([]), (None, None, 0))


class ModuleTest(unittest.TestCase):
    def test_frames_map_to_packages(self):
        self.assertEqual(metrics.module_of("graft.cv.CrossValidation$"), "cv")
        self.assertEqual(metrics.module_of("graft.ml.Models$GbtBinaryClassifier"), "ml")
        self.assertEqual(metrics.module_of("graft.core.Par$"), "core.Par")
        self.assertEqual(metrics.module_of("graft.core.Memo$"), "core.Memo")
        self.assertEqual(metrics.module_of("graft.Queries$"), "queries")
        self.assertEqual(metrics.module_of("graft.queries.MlQueries$"), "queries")
        self.assertIsNone(metrics.module_of("perfbench.Harness$"))

    def test_innermost_and_inclusive(self):
        frames = ["graft.ml.Metrics$", "graft.cv.CrossValidation$", "graft.core.Par$",
                  "graft.fs.FeatureSelection$", "graft.pipeline.Solution$"]
        inner, every = metrics.job_modules(frames, "queries")
        self.assertEqual(inner, "ml")
        self.assertEqual(every, {"ml", "cv", "core.Par", "fs", "pipeline"})
        self.assertEqual(metrics.job_modules([], "queries"), ("queries", {"queries"}))

    def test_pool_jobs_take_their_sql_execution_call_site(self):
        records = [
            {"type": "sql_start", "execution": "7", "frames": ["graft.dedup.Dedup$"]},
            {"type": "job_start", "job": 1, "t": 100, "frames": [], "execution": "7",
             "root_execution": "7"},
            {"type": "job_end", "job": 1, "t": 150, "ok": True},
            {"type": "stage", "job": 1, "stage": 3, "t0": 101, "t1": 149, "tasks": 4,
             "run_ms": 40, "cpu_ns": 1, "shuffle_read": 0, "shuffle_write": 0,
             "spill": 0, "ok": True},
        ]
        [job] = metrics.traced_jobs(records)
        self.assertEqual(job["frames"], ["graft.dedup.Dedup$"])
        self.assertEqual(len(job["stages"]), 1)


    def test_dispatched_frames_hold_the_state_at_start_and_changes_inside(self):
        dispatch = [(0, ["graft.hpo.Bayes$"]), (100, []), (200, ["graft.fs.Select$"])]
        self.assertEqual(metrics.dispatched_frames(dispatch, 50, 60), {"graft.hpo.Bayes$"})
        self.assertEqual(metrics.dispatched_frames(dispatch, 150, 160), set())
        self.assertEqual(metrics.dispatched_frames(dispatch, 150, 250), {"graft.fs.Select$"})
        self.assertEqual(metrics.dispatched_frames(dispatch, -10, 50), {"graft.hpo.Bayes$"})
        self.assertEqual(metrics.dispatched_frames([], 0, 10), set())

    def test_par_pool_jobs_take_their_dispatchers_frames(self):
        records = [
            {"type": "dispatch", "t": 90, "frames": ["graft.core.Par$", "graft.hpo.Bayes$"]},
            {"type": "job_start", "job": 1, "t": 100, "execution": None, "root_execution": None,
             "frames": ["graft.ml.Models$", "graft.core.Par$"]},
            {"type": "job_end", "job": 1, "t": 150, "ok": True},
            {"type": "job_start", "job": 2, "t": 100, "execution": None, "root_execution": None,
             "frames": ["graft.ml.Models$"]},
            {"type": "job_end", "job": 2, "t": 150, "ok": True},
        ]
        pooled, direct = metrics.traced_jobs(records)
        self.assertEqual(pooled["outer"], ["graft.core.Par$", "graft.hpo.Bayes$"])
        self.assertEqual(direct["outer"], [])
        m = metrics.layer_metrics({}, [{"name": "build", "t0": 0, "t1": 200, "wall_s": 0.2}],
                                  [pooled], "pipeline", {})
        self.assertAlmostEqual(m["hpo.busy_s"], 0.05)
        self.assertEqual((m["hpo.jobs"], m["ml.jobs"]), (0, 1))

    def test_jobs_whose_plan_uses_a_graft_function_credit_functions(self):
        records = [
            {"type": "sql_start", "execution": "3", "frames": ["graft.dedup.Dedup$"],
             "functions": True},
            {"type": "job_start", "job": 1, "t": 100, "frames": [], "execution": "3",
             "root_execution": "3"},
            {"type": "job_end", "job": 1, "t": 300, "ok": True},
        ]
        jobs = metrics.traced_jobs(records)
        m = metrics.layer_metrics({}, [{"name": "q", "t0": 0, "t1": 400, "wall_s": 0.4}],
                                  jobs, "queries", {})
        self.assertEqual((m["functions.jobs"], m["dedup.jobs"]), (1, 1))
        self.assertAlmostEqual(m["functions.busy_s"], 0.2)


class LayerMetricsTest(unittest.TestCase):
    def test_jobs_outside_calls_are_ignored(self):
        calls = [{"name": "q1", "t0": 0, "t1": 1000, "wall_s": 1.0}]
        jobs = [
            {"t0": 100, "t1": 400, "frames": ["graft.ops.Stats$"], "stages": [
                {"t0": 100, "t1": 400, "run_ms": 900, "cpu_ns": 5e8, "shuffle_read": 0,
                 "shuffle_write": 1048576, "spill": 0}]},
            {"t0": 2000, "t1": 2100, "frames": [], "stages": []},  # a check, after the call
        ]
        m = metrics.layer_metrics({"tasks": 4}, calls, jobs, "queries", {"g": ["q1"]})
        self.assertEqual(m["spark.jobs"], 1)
        self.assertAlmostEqual(m["driver.gap_s"], 0.7)
        self.assertAlmostEqual(m["spark.task_s"], 0.9)
        self.assertEqual(m["spark.shuffle_write_mb"], 1.0)
        self.assertEqual((m["ops.jobs"], m["ops.stages"]), (1, 1))
        self.assertAlmostEqual(m["ops.busy_s"], 0.3)
        self.assertEqual(m["group.g_s"], 1.0)


class RegistryListsTest(unittest.TestCase):
    """The frozen light/heavy split: disjoint, and together exactly the
    registry's keys (SparkEntry.queries, listed in registry.json)."""

    def test_lists_partition_the_registry(self):
        with open(os.path.join(HERE, "registry.json")) as f:
            reg = json.load(f)
        light, heavy = set(reg["light"]), set(reg["heavy"])
        self.assertEqual(len(light), len(reg["light"]))
        self.assertEqual(len(heavy), len(reg["heavy"]))
        self.assertFalse(light & heavy)
        self.assertEqual(light | heavy, set(reg["registry"]))
        grouped = {q for names in reg["groups"].values() for q in names}
        self.assertLessEqual(grouped, heavy)

    def test_measured_subset_is_heavy_and_keeps_memo_groups_whole(self):
        with open(os.path.join(HERE, "registry.json")) as f:
            reg = json.load(f)
        measured = set(reg["measured"])
        self.assertLessEqual(measured, set(reg["heavy"]))
        for names in reg["groups"].values():
            self.assertIn(len(measured & set(names)), (0, len(names)))


if __name__ == "__main__":
    unittest.main()
