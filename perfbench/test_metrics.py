"""Tests of the benchmark's arithmetic.

Run: python3 -m unittest perfbench/test_metrics.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_linear_between_ranks(self):
        xs = [10, 20, 30, 40, 50]
        self.assertEqual(metrics.percentile(xs, 50), 30)
        self.assertEqual(metrics.percentile(xs, 0), 10)
        self.assertEqual(metrics.percentile(xs, 100), 50)
        self.assertAlmostEqual(metrics.percentile(xs, 80), 42.0)
        self.assertAlmostEqual(metrics.percentile([1, 2], 50), 1.5)

    def test_order_does_not_matter(self):
        self.assertEqual(metrics.percentile([3, 1, 2], 50), 2)

    def test_empty_raises(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)

    def test_samples_beyond(self):
        xs = list(range(100))
        self.assertEqual(metrics.beyond(xs, 90), 10)
        self.assertEqual(metrics.beyond(xs, 50), 50)
        self.assertEqual(metrics.beyond([5] * 10, 50), 0)

    def test_highest_percentile_leaves_ten_beyond(self):
        # 66 queries: p80 leaves 13 beyond, p90 only 7
        self.assertEqual(metrics.highest_percentile(66), 80)
        self.assertEqual(metrics.highest_percentile(119), 90)
        self.assertEqual(metrics.highest_percentile(1000), 99)
        self.assertEqual(metrics.highest_percentile(19), None)
        self.assertEqual(metrics.highest_percentile(20), 50)


class SelfTime(unittest.TestCase):
    def span(self, i, parent, s, e, name="x.y"):
        return {"id": i, "parent": parent, "start": s, "end": e, "name": name}

    def test_leaf_is_its_duration(self):
        self.assertEqual(metrics.self_times([self.span(0, -1, 5, 9)]), {0: 4})

    def test_children_subtract(self):
        spans = [self.span(0, -1, 0, 100), self.span(1, 0, 10, 30),
                 self.span(2, 0, 50, 60)]
        self.assertEqual(metrics.self_times(spans)[0], 70)

    def test_overlapping_children_count_once(self):
        spans = [self.span(0, -1, 0, 100), self.span(1, 0, 10, 50),
                 self.span(2, 0, 40, 60)]
        self.assertEqual(metrics.self_times(spans)[0], 50)

    def test_children_are_clipped_to_parent(self):
        spans = [self.span(0, -1, 0, 10), self.span(1, 0, 5, 20)]
        st = metrics.self_times(spans)
        self.assertEqual(st[0], 5)
        self.assertEqual(st[1], 15)

    def test_grandchildren_only_reduce_their_parent(self):
        spans = [self.span(0, -1, 0, 100), self.span(1, 0, 0, 50),
                 self.span(2, 1, 0, 20)]
        st = metrics.self_times(spans)
        self.assertEqual((st[0], st[1], st[2]), (50, 30, 20))

    def test_by_layer(self):
        spans = [self.span(0, -1, 0, 100, "operators.query"),
                 self.span(1, 0, 0, 40, "operators.run"),
                 self.span(2, 1, 10, 30, "spark.job"),
                 self.span(3, 1, 30, 35, "plans.planning")]
        self.assertEqual(metrics.self_time_by_layer(spans),
                         {"operators": 75, "spark": 20, "plans": 5})


class Capacity(unittest.TestCase):
    def test_rows_over_busy_seconds(self):
        self.assertEqual(metrics.capacity([1000, 3000], [500, 1500]), 2000)

    def test_idle_time_is_not_busy(self):
        # two batches of 1000 rows, 250 ms each: 4000 rows/s however
        # long the trigger interval between them
        self.assertEqual(metrics.capacity([1000, 1000], [250, 250]), 4000)

    def test_no_busy_time_raises(self):
        with self.assertRaises(ValueError):
            metrics.capacity([10], [0])


class BacklogGrowth(unittest.TestCase):
    def test_steady_batches_do_not_grow(self):
        self.assertEqual(metrics.backlog_growth([10000] * 8, 10000), 0)
        # saturated but steady: sizes alternate
        self.assertEqual(metrics.backlog_growth([10000, 20000] * 4, 10000), 0)

    def test_growing_batches(self):
        rows = [10000, 20000, 30000, 40000, 50000, 60000]
        self.assertEqual(metrics.backlog_growth(rows, 10000), 3)

    def test_odd_count_skips_the_middle(self):
        self.assertEqual(metrics.backlog_growth([1, 99, 3], 1), 2)

    def test_one_batch_raises(self):
        with self.assertRaises(ValueError):
            metrics.backlog_growth([5], 1)


class TracingDuring(unittest.TestCase):
    toggles = [(10, True), (20, False), (30, True)]

    def test_off_before_first_switch(self):
        self.assertIs(metrics.tracing_during(self.toggles, 0, 9), False)
        self.assertIs(metrics.tracing_during([], 0, 9), False)

    def test_state_of_last_switch_before_start(self):
        self.assertIs(metrics.tracing_during(self.toggles, 11, 19), True)
        self.assertIs(metrics.tracing_during(self.toggles, 21, 29), False)
        self.assertIs(metrics.tracing_during(self.toggles, 31, 99), True)

    def test_switch_inside_is_mixed(self):
        self.assertIsNone(metrics.tracing_during(self.toggles, 15, 25))
        self.assertIsNone(metrics.tracing_during(self.toggles, 5, 10))


class FailedShare(unittest.TestCase):
    def test_share(self):
        self.assertEqual(metrics.failed_share(0, 119), 0)
        self.assertEqual(metrics.failed_share(3, 12), 0.25)

    def test_no_attempts_raises(self):
        with self.assertRaises(ValueError):
            metrics.failed_share(0, 0)


if __name__ == "__main__":
    unittest.main()
