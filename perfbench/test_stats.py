"""Tests of the benchmark's own statistics.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import stats


class TailTest(unittest.TestCase):
    def test_too_few_samples(self):
        self.assertIsNone(stats.tail(list(range(10))))

    def test_eleven_samples_is_the_minimum(self):
        pct, value, beyond = stats.tail(list(range(11)))
        self.assertEqual((value, beyond), (0, 10))
        self.assertAlmostEqual(pct, 100 / 11)

    def test_hundred_samples_gives_p90(self):
        xs = [float(i) for i in range(100, 0, -1)]
        pct, value, beyond = stats.tail(xs)
        self.assertEqual((pct, value, beyond), (90.0, 90.0, 10))

    def test_ties_count_as_samples(self):
        pct, value, beyond = stats.tail([1.0] * 30)
        self.assertEqual((value, beyond), (1.0, 10))
        self.assertAlmostEqual(pct, 100 * 20 / 30)


class MixRateTest(unittest.TestCase):
    def test_entry_median_weighs_entries_equally(self):
        by = {"a": [1.0, 1.0, 1.0, 1.0], "b": [3.0], "c": [5.0, 9.0]}
        self.assertEqual(stats.entry_median(by), 3.0)
        self.assertEqual(stats.entry_median({"a": [1.0], "b": [2.0]}), 1.5)

    def test_entry_gmean_uses_every_entry(self):
        by = {"a": [1.0, 1.0, 7.0], "b": [4.0], "c": [2.0, 2.0]}
        self.assertAlmostEqual(stats.entry_gmean(by), 2.0)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        ivs = [(0, 10), (5, 15), (20, 30), (28, 40)]
        self.assertEqual(stats.union(ivs, 0, 35), 15 + 15)
        self.assertEqual(stats.union(ivs, 12, 25), 3 + 5)

    def test_nested_intervals_count_once(self):
        self.assertEqual(stats.union([(0, 100), (10, 20), (30, 40)], 0, 100), 100)

    def test_gaps_complement_union(self):
        ivs = [(3, 5), (4, 9), (12, 13), (20, 25)]
        for lo, hi in [(0, 30), (4, 22), (6, 11), (0, 3)]:
            self.assertEqual(stats.union(ivs, lo, hi) + stats.gaps(ivs, lo, hi),
                             hi - lo)

    def test_gaps_with_no_jobs_is_the_window(self):
        self.assertEqual(stats.gaps([], 5, 17), 12)


class SelfTimeTest(unittest.TestCase):
    def test_span_without_children_is_all_self(self):
        self.assertEqual(stats.self_time(0, 40, []), 40)

    def test_children_covering_part_of_the_span(self):
        self.assertEqual(stats.self_time(0, 40, [(0, 10), (10, 30)]), 10)

    def test_overlapping_children_are_counted_once(self):
        self.assertEqual(stats.self_time(0, 20, [(0, 10), (5, 15)]), 5)

    def test_children_outside_the_span_are_clipped(self):
        self.assertEqual(stats.self_time(10, 20, [(0, 12), (18, 30)]), 6)


class ReconcileTest(unittest.TestCase):
    OP = {"start_ms": 1000, "end_ms": 1100, "construct_end_ms": 1040,
          "construct_s": 0.04, "wall_s": 0.1}
    SQL = [{"start_ms": 1041, "end_ms": 1099}]

    def test_parts_that_add_up_pass(self):
        jobs = [{"start_ms": 1010, "end_ms": 1020}, {"start_ms": 1050, "end_ms": 1090}]
        self.assertEqual(stats.reconcile(self.OP, jobs, self.SQL), [])

    def test_job_outliving_the_op_is_reported(self):
        jobs = [{"start_ms": 1050, "end_ms": 1180}]
        problems = stats.reconcile(self.OP, jobs, self.SQL)
        self.assertEqual(len(problems), 1)
        self.assertIn("job union 0.130s", problems[0])

    def test_wall_other_than_the_window_is_reported(self):
        op = dict(self.OP, wall_s=0.12)
        problems = stats.reconcile(op, [], [{"start_ms": 1041, "end_ms": 1119}])
        self.assertEqual(len(problems), 1)
        self.assertIn("!= wall 0.120s", problems[0])

    def test_driver_work_outside_sql_executions_is_reported(self):
        sql = [{"start_ms": 1041, "end_ms": 1060}, {"start_ms": 1080, "end_ms": 1090}]
        problems = stats.reconcile(self.OP, [], sql)
        self.assertEqual(len(problems), 1)
        self.assertIn("sql 0.029s", problems[0])

    def test_executions_during_construction_do_not_count(self):
        sql = [{"start_ms": 1005, "end_ms": 1035}] + self.SQL
        self.assertEqual(stats.reconcile(self.OP, [], sql), [])


class LayerReportTest(unittest.TestCase):
    def test_reconciles_one_op(self):
        traced = {
            "ops": [{"name": "q", "round": 0, "start_ms": 1000, "end_ms": 1100,
                     "construct_end_ms": 1040, "construct_s": 0.04,
                     "execute_s": 0.06, "wall_s": 0.1, "error": "",
                     "scratch_changed": False}],
            "jobs": [
                {"id": 0, "start_ms": 1010, "end_ms": 1020, "site": "Pq.scala",
                 "layer": "io", "stages": [0]},
                {"id": 1, "start_ms": 1050, "end_ms": 1090, "site": "x",
                 "layer": "", "stages": [1, 2]}],
            "stages": [
                {"id": 0, "tasks": 1, "run_ms": 5, "cpu_ns": 4e6, "gc_ms": 0,
                 "shuffle_write": 0, "shuffle_read": 0, "spill": 0,
                 "out_bytes": 0},
                {"id": 1, "tasks": 4, "run_ms": 120, "cpu_ns": 1e8, "gc_ms": 2,
                 "shuffle_write": 100, "shuffle_read": 0, "spill": 0,
                 "out_bytes": 0},
                {"id": 2, "tasks": 1, "run_ms": 10, "cpu_ns": 1e7, "gc_ms": 0,
                 "shuffle_write": 0, "shuffle_read": 100, "spill": 0,
                 "out_bytes": 0}],
            "execs": [{"at_ms": 1041, "analysis_ms": 1, "optimization_ms": 3,
                       "planning_ms": 2}],
            "sql": [{"start_ms": 1041, "end_ms": 1099}],
            "failed_tasks": 0, "scratch_bytes": 0}
        m, bad, observed = stats.layer_report(traced, slots=4)
        self.assertEqual(bad, [])
        self.assertEqual(observed, {"q": False})
        self.assertAlmostEqual(m["driver.job_union_s"], 0.05)
        self.assertAlmostEqual(m["driver.gap_s"], 0.05)
        self.assertEqual((m["io.setup_jobs"], m["exec.jobs"]), (1, 1))
        self.assertAlmostEqual(m["io.setup_s"], 0.01)
        self.assertEqual((m["exec.stages"], m["exec.tasks"]), (3, 6))
        self.assertEqual(m["exec.single_task_stages"], 2)
        self.assertAlmostEqual(m["exec.slot_util"], 0.135 / (0.1 * 4))
        self.assertAlmostEqual(m["fixed_share"], 0.6)
        self.assertAlmostEqual(m["catalyst.planning_s"], 0.002)
        # construct [1000, 1040] holds the io job, execute [1040, 1100]
        # the exec job
        self.assertAlmostEqual(m["ops.construct_self_s"], 0.03)
        self.assertAlmostEqual(m["driver.execute_self_s"], 0.02)
        self.assertAlmostEqual(m["exec.job_s"], 0.04)


if __name__ == "__main__":
    unittest.main()
