"""Tests of the benchmark's own logic: the percentile rule, span self
time and failure accounting.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from stats import (failed_frac, failure_counts, percentile,  # noqa: E402
                   self_times, spread, tail)


class PercentileRule(unittest.TestCase):
    def test_p90_once_ten_samples_lie_beyond_it(self):
        xs = list(range(1, 101))  # 100 samples: p90 = 90, ten beyond
        value, pct, n = tail(xs)
        self.assertEqual((value, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_lower_percentile_when_samples_are_few(self):
        xs = list(range(1, 51))  # p90 would have only five beyond
        value, pct, n = tail(xs)
        self.assertEqual(value, 40)
        self.assertEqual(pct, 80.0)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_never_above_the_target(self):
        value, pct, _ = tail(list(range(1000)))
        self.assertEqual(pct, 90.0)
        self.assertEqual(value, 899)

    def test_no_tail_with_ten_or_fewer_samples(self):
        self.assertEqual(tail([1.0] * 10), (None, None, 10))
        self.assertEqual(tail([]), (None, None, 0))

    def test_order_does_not_matter(self):
        xs = [5, 1, 9, 3, 7, 2, 8, 4, 6, 0, 11, 10, 13, 12]
        self.assertEqual(tail(xs), tail(sorted(xs)))

    def test_nearest_rank(self):
        self.assertEqual(percentile([3, 1, 2], 50), 2)
        self.assertEqual(percentile(list(range(1, 11)), 90), 9)
        self.assertIsNone(percentile([], 90))


def span(i, parent, start, end):
    return {"id": i, "parent": parent, "start_ns": start, "end_ns": end}


class SelfTime(unittest.TestCase):
    def test_leaf_is_its_duration(self):
        self.assertEqual(self_times([span(1, 0, 10, 25)]), {1: 15})

    def test_children_are_subtracted(self):
        got = self_times([span(1, 0, 0, 100), span(2, 1, 10, 30),
                          span(3, 1, 50, 60)])
        self.assertEqual(got, {1: 70, 2: 20, 3: 10})

    def test_overlapping_children_count_once(self):
        got = self_times([span(1, 0, 0, 100), span(2, 1, 10, 40),
                          span(3, 1, 30, 50)])
        self.assertEqual(got[1], 60)

    def test_child_clipped_to_parent(self):
        got = self_times([span(1, 0, 0, 100), span(2, 1, 90, 130)])
        self.assertEqual(got[1], 90)

    def test_grandchildren_only_reduce_their_parent(self):
        got = self_times([span(1, 0, 0, 100), span(2, 1, 0, 50),
                          span(3, 2, 0, 20)])
        self.assertEqual(got, {1: 50, 2: 30, 3: 20})


class FailureAccounting(unittest.TestCase):
    def test_counts(self):
        ops = [{"ok": True}, {"ok": False}, {"ok": True}, {"ok": False}]
        self.assertEqual(failure_counts(ops), (4, 2))
        self.assertEqual(failed_frac(ops), 0.5)

    def test_all_good_is_zero(self):
        self.assertEqual(failed_frac([{"ok": True}] * 3), 0.0)

    def test_nothing_attempted_counts_as_failed(self):
        self.assertEqual(failed_frac([]), 1.0)


class Spread(unittest.TestCase):
    def test_iqr_over_median(self):
        self.assertAlmostEqual(spread([1, 2, 3, 4, 5, 6, 7, 8, 9]),
                               (7.5 - 2.5) / 5)


if __name__ == "__main__":
    unittest.main()
