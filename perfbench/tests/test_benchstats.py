"""Tests for the benchmark's own arithmetic.

Run from the repository root:  python3 -m unittest discover perfbench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import benchstats as bs  # noqa: E402


class UnionTest(unittest.TestCase):
    def test_disjoint_intervals_add(self):
        self.assertEqual(bs.union_length([(0, 1), (2, 4)]), 3)

    def test_overlap_counts_once(self):
        self.assertEqual(bs.union_length([(0, 3), (1, 2), (2, 5)]), 5)

    def test_touching_intervals_merge(self):
        self.assertEqual(bs.union_length([(0, 1), (1, 2)]), 2)

    def test_unsorted_and_empty_intervals(self):
        self.assertEqual(bs.union_length([(5, 6), (0, 2), (3, 3), (4, 1)]), 3)
        self.assertEqual(bs.union_length([]), 0)

    def test_clip_cuts_to_the_window(self):
        self.assertEqual(bs.clip([(-1, 2), (3, 9), (10, 11)], 0, 5),
                         [(0, 2), (3, 5)])


class SelfTimeTest(unittest.TestCase):
    def test_children_subtract_once_even_when_overlapping(self):
        # span 0..10, children cover 1..4 and 3..6 -> 5 covered
        self.assertEqual(bs.self_time((0, 10), [(1, 4), (3, 6)]), 5)

    def test_children_outside_the_span_are_ignored(self):
        self.assertEqual(bs.self_time((0, 10), [(-5, 2), (9, 20)]), 7)

    def test_leaf_span_is_all_self(self):
        self.assertEqual(bs.self_time((2, 7), []), 5)

    def test_driver_only_is_wall_minus_job_union(self):
        # concurrent jobs (table pool) overlap; gaps are driver-only time
        jobs = [(1, 5), (2, 6), (8, 9)]
        self.assertEqual(bs.driver_only((0, 10), jobs), 10 - 6)


class TailTest(unittest.TestCase):
    def test_beyond_counts_samples_above_the_rank(self):
        self.assertEqual(bs.beyond(100, 0.9), 10)
        self.assertEqual(bs.beyond(99, 0.9), 9)
        self.assertEqual(bs.beyond(20, 0.5), 10)

    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))          # 100 samples
        self.assertEqual(bs.tail(xs), (0.9, 90))
        xs = list(range(1, 1001))         # 1000 samples
        self.assertEqual(bs.tail(xs), (0.99, 990))

    def test_falls_back_to_lower_percentiles(self):
        xs = list(range(1, 41))           # 40: p90 has 4 beyond, p75 has 10
        self.assertEqual(bs.tail(xs), (0.75, 30))
        xs = list(range(1, 21))           # 20: no tail percentile qualifies
        self.assertEqual(bs.tail(xs), (0.5, 10.5))

    def test_too_few_samples_report_the_median(self):
        self.assertEqual(bs.tail([3.0, 1.0, 2.0]), (0.5, 2.0))

    def test_median_even_and_odd(self):
        self.assertEqual(bs.median([3, 1, 2]), 2)
        self.assertEqual(bs.median([4, 1, 2, 3]), 2.5)


class ExternalCpuTest(unittest.TestCase):
    def test_box_minus_own(self):
        # 600 jiffies at 100 Hz = 6 CPU-s on the box; we used 4
        self.assertAlmostEqual(bs.external_cpu_s(600, 100, 4.0), 2.0)

    def test_rounding_below_zero_reads_zero(self):
        self.assertEqual(bs.external_cpu_s(399, 100, 4.0), 0.0)

    def test_unreadable_proc_stat(self):
        self.assertIsNone(bs.external_cpu_s(-1, 100, 4.0))


if __name__ == "__main__":
    unittest.main()
