"""Tests of the benchmark's arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import statistics
import unittest

import stats


class MedianQuartiles(unittest.TestCase):
    def test_median_odd_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        self.assertIsNone(stats.median([]))

    def test_quartiles_match_statistics(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
        q = statistics.quantiles(xs, n=4)
        self.assertEqual(stats.quartiles(xs), (q[0], q[2]))
        self.assertEqual(stats.quartiles(xs), (2.75, 8.25))

    def test_iqr_share(self):
        xs = [10.0] * 9 + [11.0]
        self.assertEqual(stats.iqr_share(xs), 0.0)
        self.assertAlmostEqual(stats.iqr_share([1.0, 2.0, 3.0, 4.0, 5.0]), (4.5 - 1.5) / 3.0)


class InterquartileMean(unittest.TestCase):
    def test_drops_lowest_and_highest_quarter(self):
        self.assertEqual(stats.iqm([100.0, 1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 0.0]), 3.5)
        self.assertEqual(stats.iqm([0.0, 5.0, 6.0, 7.0, 50.0]), 6.0)

    def test_small_samples(self):
        self.assertEqual(stats.iqm([2.0, 4.0]), 3.0)
        self.assertIsNone(stats.iqm([]))


class Tail(unittest.TestCase):
    def test_too_few_samples(self):
        self.assertIsNone(stats.tail(list(range(10))))

    def test_twenty_samples_give_p50(self):
        p, v, n = stats.tail([float(x) for x in range(1, 21)])
        self.assertEqual((p, v, n), (50.0, 10.0, 20))

    def test_hundred_samples_give_p90(self):
        p, v, n = stats.tail([float(x) for x in range(1, 101)])
        self.assertEqual((p, v, n), (90.0, 90.0, 100))

    def test_thousand_samples_give_p99(self):
        p, v, n = stats.tail(list(range(1, 1001)))
        self.assertEqual((p, v, n), (99.0, 990, 1000))

    def test_ties_count_only_strictly_beyond(self):
        # p75 sits inside the tie at 2.0 with nothing beyond; p50 has ten beyond
        self.assertEqual(stats.tail([1.0] * 15 + [2.0] * 10), (50.0, 1.0, 25))
        # a tie covering the top: no percentile has ten samples beyond it
        self.assertIsNone(stats.tail([1.0] * 10 + [2.0] * 15))


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_touching(self):
        self.assertEqual(stats.union([(5, 7), (0, 2), (1, 3), (3, 4)]), [(0, 4), (5, 7)])

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)

    def test_clip_to_window(self):
        self.assertEqual(stats.union_length([(0, 10), (20, 30)], 5, 25), 10)
        self.assertEqual(stats.union_length([(0, 4)], 5, 25), 0)

    def test_nested_jobs_count_once(self):
        self.assertEqual(stats.union_length([(0, 100), (10, 20), (30, 40)]), 100)


class SelfTime(unittest.TestCase):
    def test_self_time_subtracts_children_once(self):
        spans = [
            {"id": 1, "parent": 0, "start": 0, "end": 100},
            {"id": 2, "parent": 1, "start": 10, "end": 40},
            {"id": 3, "parent": 1, "start": 30, "end": 60},  # overlaps 2
            {"id": 4, "parent": 2, "start": 15, "end": 20},
        ]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - 50)
        self.assertEqual(st[2], 30 - 5)
        self.assertEqual(st[3], 30)
        self.assertEqual(st[4], 5)

    def test_child_outside_parent_is_clipped(self):
        spans = [{"id": 1, "parent": 0, "start": 0, "end": 10},
                 {"id": 2, "parent": 1, "start": 5, "end": 20}]
        self.assertEqual(stats.self_times(spans)[1], 5)


if __name__ == "__main__":
    unittest.main()
