"""Self-tests of the harness arithmetic on synthetic inputs.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import compare
import stats


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        jobs = [(0, 10), (5, 15), (20, 30), (29, 31), (40, 50)]
        self.assertEqual(stats.union_length(jobs), 15 + 11 + 10)
        self.assertEqual(stats.union_length(jobs, 8, 45), 7 + 11 + 5)
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(5, 5), (7, 6)]), 0)

    def test_driver_gap_is_wall_minus_job_union(self):
        # a 1 s pass from t=1000 ms; jobs cover 1100-1400 and 1300-1600
        busy, gap = stats.driver_gap(1.0, [(1100, 1400), (1300, 1600)], 1000, 2000)
        self.assertAlmostEqual(busy, 0.5)
        self.assertAlmostEqual(gap, 0.5)
        # a job that started before the pass counts only inside it
        busy, gap = stats.driver_gap(1.0, [(500, 1200)], 1000, 2000)
        self.assertAlmostEqual(busy, 0.2)
        self.assertAlmostEqual(gap, 0.8)


class SpanTest(unittest.TestCase):
    def test_self_time_subtracts_covered_child_time(self):
        spans = [
            {"id": 0, "parent": -1, "name": "pass", "step": 0, "start_s": 0.0, "end_s": 10.0},
            {"id": 1, "parent": 0, "name": "step", "step": 0, "start_s": 1.0, "end_s": 5.0},
            {"id": 2, "parent": 1, "name": "queries.build", "step": 0, "start_s": 1.5, "end_s": 3.0},
            {"id": 3, "parent": 1, "name": "action.noop", "step": 0, "start_s": 3.0, "end_s": 4.5},
            {"id": 4, "parent": 0, "name": "step", "step": 1, "start_s": 6.0, "end_s": 9.0},
        ]
        got = stats.self_times(spans)
        self.assertAlmostEqual(got[0], 10.0 - 4.0 - 3.0)
        self.assertAlmostEqual(got[1], 4.0 - 3.0)
        self.assertAlmostEqual(got[2], 1.5)
        self.assertAlmostEqual(got[4], 3.0)


class PercentileTest(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        v, n, ok = stats.percentile(list(range(100)), 0.9)
        self.assertEqual((n, ok), (100, True))
        self.assertAlmostEqual(v, 89.1)
        self.assertFalse(stats.percentile(list(range(99)), 0.9)[2])
        self.assertTrue(stats.percentile(list(range(20)), 0.5)[2])
        self.assertFalse(stats.percentile(list(range(19)), 0.5)[2])

    def test_quantile_interpolates(self):
        self.assertEqual(stats.quantile([4, 1, 3, 2], 0.5), 2.5)
        self.assertEqual(stats.quantile([7], 0.9), 7)
        self.assertEqual(stats.quantile([], 0.5), 0.0)

    def test_spread_is_iqr_over_median(self):
        xs = [10, 10, 10, 10, 11, 11, 12, 12, 13, 20]
        self.assertAlmostEqual(stats.spread(xs), (12.25 - 10) / 11)


class CompareTest(unittest.TestCase):
    def test_nine_of_ten_wins_and_gap_beyond_parent_iqr(self):
        parent = [10.0, 10.1, 9.9, 10.2, 10.0, 9.8, 10.1, 10.0, 9.9, 10.0]
        faster = [x - 1.0 for x in parent]
        self.assertEqual(compare.verdict(parent, faster, True, 0.1)["verdict"], "better")
        self.assertEqual(compare.verdict(parent, faster, False, 0.1)["verdict"], "worse")
        same = parent[1:] + parent[:1]
        self.assertEqual(compare.verdict(parent, same, True, 0.1)["verdict"], "same")

    def test_wide_parent_spread_is_unresolved(self):
        parent = [5.0, 10.0, 15.0, 8.0, 12.0, 6.0, 14.0, 9.0, 11.0, 10.0]
        change = [x * 0.97 for x in parent[::-1]]
        self.assertEqual(compare.verdict(parent, change, True, 0.1)["verdict"], "unresolved")

    def test_regression_beyond_bound_is_flagged(self):
        parent = [1.0] * 10
        self.assertTrue(compare.verdict(parent, [1.3] * 10, True, 0.2)["over_bound"])
        self.assertFalse(compare.verdict(parent, [1.1] * 10, True, 0.2)["over_bound"])


if __name__ == "__main__":
    unittest.main()
