"""Tests of the benchmark's own statistics. Run with

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import stats


class TailPercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertEqual(stats.tail_percentile(39), 50.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(199), 90.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_too_few_samples(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (2.0, 50.0))

    def test_tail_value_leaves_ten_beyond(self):
        values = list(range(1, 101))  # 100 samples -> p90
        value, p = stats.tail(values)
        self.assertEqual(p, 90.0)
        self.assertEqual(value, 90)
        self.assertEqual(sum(v > value for v in values), 10)

    def test_nearest_rank(self):
        self.assertEqual(stats.nearest_rank([5, 1, 4, 2, 3], 50), 3)
        self.assertEqual(stats.nearest_rank([5, 1, 4, 2, 3], 100), 5)
        self.assertEqual(stats.nearest_rank([7], 99.9), 7)


class SpanSelfTime(unittest.TestCase):
    def test_leaf_span_is_all_self(self):
        spans = [(1, "a", 0, 0, 100)]
        self.assertEqual(stats.self_times(spans), {1: 100})

    def test_overlapping_children_are_counted_once(self):
        # children cover [10, 50] and [30, 70]: union is 60
        spans = [(1, "parent", 0, 0, 100), (2, "job", 1, 10, 50), (3, "job", 1, 30, 70)]
        self.assertEqual(stats.self_times(spans)[1], 40)

    def test_child_outside_parent_is_clipped(self):
        # a job that outlives its span only covers the span's own interval
        spans = [(1, "parent", 0, 0, 100), (2, "job", 1, 90, 130), (3, "job", 1, -20, 5)]
        self.assertEqual(stats.self_times(spans)[1], 85)

    def test_nested_spans_and_names(self):
        spans = [(1, "run", 0, 0, 100), (2, "lake.append", 1, 10, 60),
                 (3, "spark.job", 2, 20, 40), (4, "lake.append", 1, 70, 90)]
        own = stats.self_time_by_name(spans)
        self.assertEqual(own["run"], 30)
        self.assertEqual(own["lake.append"], 30 + 20)
        self.assertEqual(own["spark.job"], 20)

    def test_union_length(self):
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(0, 10), (10, 20)]), 20)
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (5, 15), (20, 25)]), 20)


class ErrorRate(unittest.TestCase):
    def test_failed_over_attempted(self):
        self.assertEqual(stats.error_rate(40, 0), 0.0)
        self.assertEqual(stats.error_rate(40, 1), 0.025)
        self.assertEqual(stats.error_rate(4, 4), 1.0)

    def test_rejects_impossible_counts(self):
        with self.assertRaises(ValueError):
            stats.error_rate(0, 0)
        with self.assertRaises(ValueError):
            stats.error_rate(3, 4)
        with self.assertRaises(ValueError):
            stats.error_rate(3, -1)


if __name__ == "__main__":
    unittest.main()
