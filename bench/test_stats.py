"""Tests of the benchmark's own helpers: python3 -m unittest bench/test_stats.py
(from the repo root) or python3 bench/run.py --selftest, which also runs the
JVM-side digest checks."""

import unittest

import stats


class OrderStatistics(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 4, 16]), 4)
        with self.assertRaises(ValueError):
            stats.geomean([1, 0])

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.nearest_rank(xs, 50), 50)
        self.assertEqual(stats.nearest_rank(xs, 99), 99)
        self.assertEqual(stats.nearest_rank(xs, 100), 100)
        self.assertEqual(stats.nearest_rank([5], 1), 5)

    def test_tail_needs_ten_beyond(self):
        self.assertIsNone(stats.tail_percentile(list(range(10))))
        # 11 samples: only the lowest has ten above it
        p, v = stats.tail_percentile(list(range(11)))
        self.assertEqual(v, 0)
        self.assertEqual(p, 9)

    def test_tail_at_one_hundred_samples(self):
        xs = list(range(1, 101))
        p, v = stats.tail_percentile(xs)
        self.assertEqual((p, v), (90, 90))
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_tail_is_order_free(self):
        xs = [7, 1, 9, 3, 5, 2, 8, 6, 4, 10, 11, 12, 0, 13, 14]
        self.assertEqual(stats.tail_percentile(xs), stats.tail_percentile(sorted(xs)))
        p, v = stats.tail_percentile(xs)
        self.assertGreaterEqual(sum(1 for x in xs if x > v), 10)


class SteadyState(unittest.TestCase):
    def test_needs_enough_passes(self):
        self.assertFalse(stats.steady([10.0, 10.0], 0.05))
        self.assertTrue(stats.steady([10.0, 10.0, 10.0], 0.05))

    def test_falling_slope_is_not_steady(self):
        # the pass walls of a sequential warm-up that is still falling
        walls = [40.3, 17.5, 14.8, 13.6]
        self.assertFalse(stats.steady(walls, 0.05))
        self.assertTrue(stats.steady(walls + [13.5, 13.3], 0.05))

    def test_every_recent_change_counts(self):
        self.assertFalse(stats.steady([10.0, 12.0, 12.1], 0.05))
        self.assertFalse(stats.steady([10.0, 10.1, 8.0], 0.05))
        self.assertTrue(stats.steady([20.0, 10.0, 10.4, 10.0], 0.05))


class Spans(unittest.TestCase):
    def test_union_merges_overlaps_and_touching(self):
        self.assertEqual(stats.union([(5, 7), (0, 2), (1, 3), (3, 4)]), [(0, 4), (5, 7)])
        self.assertEqual(stats.union([(0, 10), (2, 3)]), [(0, 10)])
        self.assertEqual(stats.union([(4, 4), (6, 5)]), [])

    def test_covered_clips_to_the_span(self):
        self.assertEqual(stats.covered((2, 8), [(0, 3), (7, 20)]), 2)
        self.assertEqual(stats.covered((0, 10), [(1, 4), (2, 6), (8, 9)]), 6)
        self.assertEqual(stats.covered((0, 10), [(20, 30)]), 0)

    def test_self_time(self):
        # an op of 10 with two overlapping jobs (2-5, 4-7) and one past its end
        self.assertEqual(stats.self_time((0, 10), [(2, 5), (4, 7), (9, 12)]), 4)
        self.assertEqual(stats.self_time((0, 10), []), 10)
        self.assertEqual(stats.self_time((0, 10), [(-5, 15)]), 0)


if __name__ == "__main__":
    unittest.main()
