"""Tests of the benchmark's own arithmetic. Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import statistics
import unittest

import stats


class PercentileRule(unittest.TestCase):
    def test_no_tail_when_too_few_samples_lie_beyond(self):
        self.assertIsNone(stats.tail(list(range(10))))
        self.assertIsNone(stats.tail(list(range(39))))  # p75 of 39 leaves 9 beyond

    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(stats.tail(list(range(1, 41))), (0.75, 30))
        self.assertEqual(stats.tail(list(range(1, 101))), (0.9, 90))
        self.assertEqual(stats.tail(list(range(1, 201))), (0.95, 190))
        self.assertEqual(stats.tail(list(range(1, 1001))), (0.99, 990))

    def test_samples_beyond_the_reported_percentile(self):
        for n in (40, 57, 100, 133, 999):
            q, value = stats.tail(list(range(n)))
            self.assertGreaterEqual(sum(1 for x in range(n) if x > value), stats.MIN_BEYOND)

    def test_percentile_ignores_input_order(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(stats.percentile(xs, 0.5), 3)
        self.assertEqual(stats.percentile(xs, 1.0), 5)
        self.assertEqual(stats.percentile(xs, 0.01), 1)


class Quartiles(unittest.TestCase):
    def test_spread_is_iqr_over_median(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(q1, 2.75)
        self.assertAlmostEqual(q3, 8.25)
        self.assertAlmostEqual(stats.quartile_spread(xs), (8.25 - 2.75) / 5.5)

    def test_constant_samples_have_no_spread(self):
        self.assertEqual(stats.quartile_spread([2.0] * 10), 0.0)


class GeoMean(unittest.TestCase):
    def test_every_sample_weighs_the_same(self):
        self.assertAlmostEqual(stats.geomean([0.5, 2.0]), 1.0)
        self.assertAlmostEqual(stats.geomean([0.1, 0.1, 10.0, 10.0]), 1.0)

    def test_one_slower_sample_moves_it(self):
        # a median of these four would not move
        xs = [0.4, 0.5, 1.0, 3.0]
        self.assertGreater(stats.geomean([0.4, 0.6, 1.0, 3.0]), stats.geomean(xs))

    def test_rejects_empty_and_non_positive_samples(self):
        for xs in ([], [1.0, 0.0]):
            with self.assertRaises(ValueError):
                stats.geomean(xs)


class ErrorRate(unittest.TestCase):
    def test_failed_over_attempted(self):
        self.assertEqual(stats.error_rate(0, 72), 0.0)
        self.assertEqual(stats.error_rate(3, 12), 0.25)

    def test_rejects_impossible_counts(self):
        with self.assertRaises(ValueError):
            stats.error_rate(0, 0)
        with self.assertRaises(ValueError):
            stats.error_rate(5, 4)


class SelfTime(unittest.TestCase):
    def span(self, a, b):
        return {"start": a, "end": b}

    def test_children_overlapping_each_other_count_once(self):
        parent = self.span(0, 100)
        kids = [self.span(10, 40), self.span(30, 50), self.span(70, 80)]
        self.assertEqual(stats.self_time(parent, kids), 100 - 50)

    def test_children_are_clipped_to_the_parent(self):
        parent = self.span(10, 20)
        self.assertEqual(stats.self_time(parent, [self.span(0, 15), self.span(18, 30)]), 3)

    def test_no_children_and_full_cover(self):
        self.assertEqual(stats.self_time(self.span(0, 7), []), 7)
        self.assertEqual(stats.self_time(self.span(0, 7), [self.span(-1, 9)]), 0)


if __name__ == "__main__":
    unittest.main()
