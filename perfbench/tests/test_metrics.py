"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import metrics as M  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p99_needs_ten_samples_beyond(self):
        self.assertTrue(M.supported(1000, 0.99))
        self.assertFalse(M.supported(999, 0.99))
        self.assertTrue(M.supported(100, 0.9))
        self.assertFalse(M.supported(99, 0.9))

    def test_unsupported_tail_is_refused(self):
        with self.assertRaises(ValueError):
            M.quantile(range(50), 0.9)

    def test_nearest_rank(self):
        xs = list(range(1, 1001))
        self.assertEqual(M.quantile(xs, 0.99), 990)
        self.assertEqual(M.quantile(xs, 0.5), 500)
        self.assertEqual(M.median([3, 1, 2]), 2)
        self.assertEqual(M.quantile(list(range(1, 101)), 0.9), 90)


    def test_failed_operations_rank_last(self):
        # 28 of 29 queries succeed: the p65 rank is taken over 29, so it is
        # the 19th time, as it would be had the 29th query been the slowest
        times = [float(t) for t in range(1, 29)]
        self.assertEqual(M.quantile(times, 0.65, base=29), 19.0)
        self.assertIsNone(M.quantile(times[:10], 0.65, base=29))
        with self.assertRaises(ValueError):
            M.quantile(times, 0.65, base=28)  # 28 - 19 = 9 beyond


class OperationStats(unittest.TestCase):
    def test_one_failed_query_of_29(self):
        attempted, failed, secs = M.ops_summary(
            [(True, t / 10) for t in range(1, 29)] + [(False, None)])
        st = M.op_stats([s * 1000.0 for s in secs], attempted, 0.65)
        self.assertEqual((attempted, failed), (29, 1))
        self.assertEqual(st["p50_ms"], (1500.0, 28))
        self.assertEqual(st["tail_ms"], (1900.0, 28))
        self.assertAlmostEqual(st["mean_ms"][0], 1450.0)

    def test_every_operation_failed(self):
        st = M.op_stats([], 29, 0.65)
        self.assertEqual(st, {"p50_ms": (None, 0), "tail_ms": (None, 0), "mean_ms": (None, 0)})


class LatencyFromCommits(unittest.TestCase):
    def test_rows_take_their_batch_commit_time(self):
        commit = {1: 5000.0, 2: 10000.0}
        rows = [(1, 1000.0), (1, 4500.0), (2, 6000.0)]
        self.assertEqual(M.row_latencies(commit, rows), [4000.0, 500.0, 4000.0])

    def test_due_time_counts_from_the_run_start(self):
        # the source starts 700 ms after the run: that start-up is latency
        start, rate = 100000.0, 10000
        due = [M.due_ms(start, v, rate) for v in (0, 10000, 25000)]
        self.assertEqual(due, [100000.0, 101000.0, 102500.0])
        self.assertEqual(M.row_latencies({3: 103700.0}, [(3, d) for d in due]),
                         [3700.0, 2700.0, 1200.0])

    def test_rows_of_uncommitted_batches_are_skipped(self):
        self.assertEqual(M.row_latencies({1: 10.0}, [(1, 4.0), (3, 5.0)]), [6.0])


class SchedulingGap(unittest.TestCase):
    def test_overlapping_stages_count_once(self):
        # exec [0, 100); stages [10, 40) and [30, 60) overlap; [80, 120) is clipped
        gap = M.sched_gap(0.0, 100.0, [(10.0, 40.0), (30.0, 60.0), (80.0, 120.0)])
        self.assertEqual(gap, 100.0 - 50.0 - 20.0)

    def test_no_stages_is_all_gap(self):
        self.assertEqual(M.sched_gap(5.0, 9.0, []), 4.0)

    def test_union_of_nested_intervals(self):
        self.assertEqual(M.union_length([(0, 10), (2, 3), (9, 12)]), 12)


class SelfTime(unittest.TestCase):
    def test_nested_spans(self):
        spans = {
            "q": (None, 0.0, 100.0),
            "build": ("q", 0.0, 20.0),
            "exec": ("q", 25.0, 100.0),
            "job1": ("exec", 30.0, 60.0),
            "job2": ("exec", 50.0, 90.0),  # overlaps job1
            "stage": ("job1", 35.0, 55.0),
        }
        layer = {"q": "query", "build": "build", "exec": "exec",
                 "job1": "job", "job2": "job", "stage": "stage"}
        st = M.layer_self_times(spans, layer)
        self.assertEqual(st, {"build": 20.0, "query": 5.0, "exec": 15.0,
                              "job": 40.0, "stage": 20.0})
        # the layers account for the root's wall time exactly
        self.assertEqual(sum(st.values()), 100.0)

    def test_concurrent_children_share_time(self):
        spans = {"j": (None, 0.0, 10.0), "s1": ("j", 0.0, 8.0), "s2": ("j", 2.0, 10.0)}
        st = M.layer_self_times(spans, {"j": "job", "s1": "stage", "s2": "stage"})
        self.assertEqual(st, {"stage": 10.0})


class FailedOperations(unittest.TestCase):
    def test_a_query_that_throws_is_counted_and_not_timed(self):
        attempted, failed, times = M.ops_summary([(True, 0.2), (False, None), (True, 0.4)])
        self.assertEqual((attempted, failed), (3, 1))
        self.assertEqual(times, [0.2, 0.4])


if __name__ == "__main__":
    unittest.main()
