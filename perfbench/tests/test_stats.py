"""Harness tests: the latency percentile rule, the median estimator and
quartile spreads.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([7.0], 99.9), 7.0)

    def test_samples_beyond(self):
        self.assertEqual(stats.samples_beyond(100, 90), 10)
        self.assertEqual(stats.samples_beyond(99, 90), 9)
        self.assertEqual(stats.samples_beyond(1000, 99), 10)

    def test_no_tail_below_one_hundred_samples(self):
        s = stats.latency_summary([float(i) for i in range(99)])
        self.assertIsNone(s["tail_p"])
        self.assertIsNone(s["tail"])
        self.assertEqual(s["n"], 99)
        self.assertAlmostEqual(s["p50"], 49.0)

    def test_p90_from_one_hundred_samples(self):
        s = stats.latency_summary([float(i) for i in range(1, 101)])
        self.assertEqual((s["tail_p"], s["tail"]), (90.0, 90.0))

    def test_highest_qualifying_percentile_wins(self):
        self.assertEqual(stats.latency_summary([1.0] * 999)["tail_p"], 90.0)
        self.assertEqual(stats.latency_summary([1.0] * 1000)["tail_p"], 99.0)
        self.assertEqual(stats.latency_summary([1.0] * 10000)["tail_p"], 99.9)

    def test_median_always_reported(self):
        self.assertAlmostEqual(stats.latency_summary([3.0, 1.0])["p50"], 2.0)
        self.assertEqual(stats.latency_summary([7.0])["p50"], 7.0)


class HarrellDavisMedian(unittest.TestCase):
    def test_symmetric_samples_give_their_center(self):
        self.assertAlmostEqual(stats.harrell_davis_median([1.0] * 7 + [3.0] * 7), 2.0)
        self.assertAlmostEqual(stats.harrell_davis_median(range(1, 15)), 7.5)

    def test_a_rank_swap_across_a_gap_moves_it_little(self):
        # two clusters of 7: one value crossing the gap moves the sample
        # median from one cluster's edge to the other's
        xs = [1.0] * 6 + [3.1] + [3.0] * 7
        self.assertEqual(statistics.median(xs), 3.0)
        self.assertLess(stats.harrell_davis_median(xs), 2.5)

    def test_large_samples_do_not_underflow(self):
        self.assertAlmostEqual(stats.harrell_davis_median([5.0] * 10000), 5.0)


class QuartileSpread(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.0]
        q1, med, q3, spread = stats.quartile_spread(xs)
        self.assertAlmostEqual(spread, (q3 - q1) / med)
        self.assertEqual(med, 10.0)

    def test_constant_series_has_no_spread(self):
        self.assertEqual(stats.quartile_spread([2.0] * 5)[3], 0.0)


if __name__ == "__main__":
    unittest.main()
