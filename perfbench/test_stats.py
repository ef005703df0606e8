"""Tests of the benchmark's statistics helper.

    python3 -m unittest perfbench/test_stats.py
"""
import random
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import stats  # noqa: E402


class StatsTest(unittest.TestCase):
    def test_even_count_median_averages_the_two_middle_samples(self):
        self.assertEqual(stats.median([4.0, 1.0, 3.0, 2.0]), 2.5)
        self.assertEqual(stats.median([1.0, 9.0]), 5.0)

    def test_odd_count_median_is_the_middle_sample(self):
        self.assertEqual(stats.median([5.0, 1.0, 3.0]), 3.0)

    def test_no_tail_below_forty_samples(self):
        self.assertIsNone(stats.tail([1.0] * 39))
        self.assertIsNotNone(stats.tail([1.0] * 40))

    def test_tail_keeps_ten_samples_beyond_it(self):
        xs = [float(i) for i in range(100)]
        p, v = stats.tail(xs)
        self.assertEqual((p, v), (90, 89.0))
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertEqual(stats.tail(xs[:40]), (75, 29.0))

    def test_tail_is_never_below_the_median(self):
        r = random.Random(11)
        for _ in range(500):
            xs = [r.choice([r.random(), 1.0, 5.0]) for _ in range(r.randint(40, 120))]
            _, v = stats.tail(xs)
            self.assertGreaterEqual(v, stats.median(xs))

    def test_spread_is_the_interquartile_share_of_the_median(self):
        self.assertAlmostEqual(stats.spread([1.0, 2.0, 3.0, 4.0, 5.0]), (4.5 - 1.5) / 3.0)


if __name__ == "__main__":
    unittest.main()
