"""The reporting rules: tail percentile, error rate, spread.

Run: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import stats  # noqa: E402


class TailPercentile(unittest.TestCase):

    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(99), 90.0)
        self.assertEqual(stats.tail_percentile(92), 90.0)
        self.assertEqual(stats.tail_percentile(91), 75.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(20), 50.0)

    def test_too_few_samples_have_no_tail(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertIsNone(stats.tail_percentile(3))

    def test_ten_samples_lie_beyond_the_chosen_percentile(self):
        for n in (20, 57, 100, 101, 250, 1234):
            p = stats.tail_percentile(n)
            xs = list(range(n))
            cut = stats.percentile(xs, p)
            self.assertGreaterEqual(sum(1 for x in xs if x > cut), 10, n)

    def test_linear_interpolation(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(stats.percentile(xs, 50), 3)
        self.assertAlmostEqual(stats.percentile(xs, 90), 4.6)
        self.assertEqual(stats.percentile(xs, 0), 1)
        self.assertEqual(stats.percentile(xs, 100), 5)
        self.assertEqual(stats.percentile([2.0, 8.0], 50), 5.0)
        self.assertEqual(stats.percentile([7.0], 90), 7.0)


class ErrorRate(unittest.TestCase):

    def test_failed_operation_counts_as_attempted(self):
        # 3 ops tried, one threw: the failure stays in the denominator
        self.assertAlmostEqual(stats.error_rate(3, 1), 1 / 3)
        self.assertEqual(stats.error_rate(5, 5), 1.0)
        self.assertEqual(stats.error_rate(4, 0), 0.0)

    def test_failures_cannot_exceed_attempts(self):
        with self.assertRaises(ValueError):
            stats.error_rate(2, 3)
        with self.assertRaises(ValueError):
            stats.error_rate(0, 0)


class Spread(unittest.TestCase):

    def test_quartile_spread_share_of_median(self):
        self.assertAlmostEqual(stats.spread([10.0] * 10), 0.0)
        v = [9, 10, 10, 10, 10, 10, 10, 10, 10, 11]
        self.assertLess(stats.spread(v), 0.05)


if __name__ == "__main__":
    unittest.main()
