"""Tests of the benchmark's own arithmetic.

Run: python3 -m unittest discover -s karnabench -p 'test_*.py'
"""
import math
import unittest

import stats


class PercentileTest(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        # 100 samples: rank 90, ten above it
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 90), 90)
        # 99 samples: rank 90 (ceil 89.1), nine above it
        self.assertIsNone(stats.percentile(list(range(1, 100)), 90))

    def test_p50_of_small_sets(self):
        self.assertEqual(stats.percentile(list(range(1, 21)), 50), 10)
        self.assertIsNone(stats.percentile(list(range(1, 20)), 50))
        self.assertEqual(stats.percentile([5, 1, 3], 50, min_beyond=1), 3)

    def test_failed_request_is_beyond_any_limit(self):
        xs = [10.0] * 95 + [float("inf")] * 15
        self.assertEqual(stats.percentile(xs, 50), 10.0)
        self.assertTrue(math.isinf(stats.percentile(xs, 90)))

    def test_empty(self):
        self.assertIsNone(stats.percentile([], 50))
        self.assertIsNone(stats.median([]))

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 100]), 10)
        self.assertIsNone(stats.geomean([]))
        # doubling one of four values moves it by 2 ** (1/4), whatever
        # the value's size
        base = [5.0, 50.0, 500.0, 5000.0]
        for i in range(4):
            moved = base[:i] + [2 * base[i]] + base[i + 1:]
            self.assertAlmostEqual(stats.geomean(moved) / stats.geomean(base), 2 ** 0.25)

    def test_spread_is_iqr_over_median(self):
        import statistics
        xs = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / q2)


class SelfTimeTest(unittest.TestCase):
    def span(self, i, parent, t0, t1):
        return {"id": i, "parent": parent, "req": "r", "t0_ns": t0, "t1_ns": t1}

    def test_sequential_children(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 30),
                 self.span(3, 1, 40, 70)]
        own = stats.self_times(spans)
        self.assertEqual(own, {1: 50, 2: 20, 3: 30})
        # the self times of one request add up to its wall time
        self.assertEqual(sum(own.values()), 100)

    def test_overlapping_children_count_once(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 50),
                 self.span(3, 1, 30, 70)]
        self.assertEqual(stats.self_times(spans)[1], 100 - 60)

    def test_child_clipped_to_parent(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 80, 130)]
        self.assertEqual(stats.self_times(spans)[1], 80)

    def test_grandchildren_only_reduce_their_parent(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 60),
                 self.span(3, 2, 20, 40)]
        own = stats.self_times(spans)
        self.assertEqual(own, {1: 50, 2: 30, 3: 20})
        self.assertEqual(sum(own.values()), 100)

    def test_self_times_of_a_request_add_up_to_its_wall_time(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 60),
                 self.span(3, 2, 20, 40), self.span(4, 1, 70, 90)]
        self.assertEqual(stats.self_sum_error(spans, {"r": 100}), 0)
        # the caller saw 4 ns the root span does not cover
        self.assertEqual(stats.self_sum_error(spans, {"r": 104}), 4)

    def test_self_sum_error_catches_overlap_and_lost_spans(self):
        # overlapping siblings are counted twice in the sum
        overlapping = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 50),
                       self.span(3, 1, 30, 70)]
        self.assertEqual(stats.self_sum_error(overlapping, {"r": 100}), 20)
        # a request with no spans at all is off by its whole wall time
        self.assertEqual(stats.self_sum_error(overlapping, {"r": 100, "q": 7}), 20)
        self.assertEqual(stats.self_sum_error([], {"q": 7}), 7)

    def test_covered(self):
        self.assertEqual(stats.covered([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.covered([(0, 10), (2, 3)]), 10)
        self.assertEqual(stats.covered([]), 0)


class RatioTest(unittest.TestCase):
    def test_core_busy_ratio(self):
        # 4 cores for 1000 ms hold 4000 core-ms; 1000 of them were busy
        self.assertAlmostEqual(stats.core_busy_ratio(1000, 1000, 4), 0.25)
        self.assertEqual(stats.core_busy_ratio(10, 0, 4), 0.0)

    def test_failed_ratio_excludes_expected_rejections(self):
        outcomes = ["ok"] * 6 + ["expected_reject"] * 3 + ["failed"]
        self.assertAlmostEqual(stats.failed_ratio(outcomes), 0.1)
        self.assertEqual(stats.failed_ratio(["ok", "expected_reject"]), 0.0)
        self.assertEqual(stats.failed_ratio([]), 0.0)


if __name__ == "__main__":
    unittest.main()
