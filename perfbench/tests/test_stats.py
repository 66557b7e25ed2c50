"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stats import (attribute, backlog_max, batch_of, betainc,  # noqa: E402
                   freshness, hd_quantile, percentile, samples_beyond,
                   self_time)


def span(id, start, end, parent=0, query="", name="s"):
    return {"id": id, "parent": parent, "name": name, "req": str(id),
            "query": query, "start": start, "end": end}


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        xs = list(range(1, 101))            # 1..100
        self.assertAlmostEqual(percentile(xs, 0.5), 50.5)
        self.assertAlmostEqual(percentile(xs, 0.9), 90.1)
        self.assertEqual(percentile(xs, 0.0), 1)
        self.assertEqual(percentile(xs, 1.0), 100)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0]
        self.assertEqual(percentile(xs, 0.5), 3.0)

    def test_samples_beyond(self):
        # p90 of 110 samples leaves 11 above it, of 100 samples 10
        self.assertEqual(samples_beyond(110, 0.9), 11)
        self.assertEqual(samples_beyond(100, 0.9), 10)
        self.assertEqual(samples_beyond(100, 0.5), 50)
        self.assertGreaterEqual(samples_beyond(101, 0.9), 10)

    def test_p90_with_ten_samples_beyond(self):
        # 100 samples, the top ten planted far out: p90 sits between the
        # bulk and the planted tail, not inside it
        xs = [1.0] * 90 + [100.0] * 10
        self.assertLess(percentile(xs, 0.9), 100.0)
        self.assertEqual(percentile(xs, 0.89), 1.0)

    def test_empty(self):
        with self.assertRaises(ValueError):
            percentile([], 0.5)


class HarrellDavisTest(unittest.TestCase):
    def test_betainc_closed_forms(self):
        for x in (0.05, 0.3, 0.5, 0.8, 0.99):
            self.assertAlmostEqual(betainc(1, 1, x), x, places=12)
            self.assertAlmostEqual(betainc(3, 1, x), x ** 3, places=12)
            self.assertAlmostEqual(betainc(1, 4, x), 1 - (1 - x) ** 4,
                                   places=12)
            self.assertAlmostEqual(betainc(0.5, 0.5, x),
                                   2 / math.pi * math.asin(math.sqrt(x)),
                                   places=12)
        self.assertEqual(betainc(2, 3, 0.0), 0.0)
        self.assertEqual(betainc(2, 3, 1.0), 1.0)

    def test_estimates_the_same_quantile(self):
        xs = list(range(1, 101))            # 1..100, symmetric
        self.assertAlmostEqual(hd_quantile(xs, 0.5), 50.5)
        self.assertAlmostEqual(hd_quantile(xs, 0.9), 90.5, places=6)
        self.assertEqual(hd_quantile([7.0] * 12, 0.9), 7.0)
        self.assertEqual(hd_quantile(list(reversed(xs)), 0.5),
                         hd_quantile(xs, 0.5))

    def test_p90_with_ten_samples_beyond(self):
        # as for `percentile`: the top ten of 100 planted far out pull
        # p90 only part of the way towards them
        xs = [1.0] * 90 + [100.0] * 10
        self.assertGreater(hd_quantile(xs, 0.9), 1.0)
        self.assertLess(hd_quantile(xs, 0.9), 60.0)

    def test_steady_across_a_gap(self):
        # 21 samples in two clusters with the median at the edge: moving
        # one sample across the gap moves the interpolated median by the
        # whole gap, the Harrell-Davis median by a small part of it
        low, high = [0.2 + 0.01 * i for i in range(10)], \
            [1.0 + 0.01 * i for i in range(10)]
        a, b = low + [0.3] + high, low + [1.0] + high
        jump = percentile(b, 0.5) - percentile(a, 0.5)
        self.assertGreater(jump, 0.6)
        self.assertLess(hd_quantile(b, 0.5) - hd_quantile(a, 0.5), jump / 3)

    def test_empty(self):
        with self.assertRaises(ValueError):
            hd_quantile([], 0.5)


class FreshnessTest(unittest.TestCase):
    def test_latency_from_due_stamp_to_last_key_visible(self):
        drops = [(1000.0, 1001.0), (1100.0, 1150.0), (1200.0, 1201.0)]
        file_keys = [[("a", 1), ("b", 1)], [("c", 1)], []]
        key_batch = {("a", 1): 0, ("b", 1): 1, ("c", 1): 1}
        visible = {0: 3000.0, 1: 5000.0}
        lat, seen = freshness(drops, file_keys, key_batch, visible)
        # file 0 waits for batch 1 (its last key); file 1 is timed from
        # its due stamp, not from when the late generator dropped it;
        # file 2 stores nothing new and is skipped
        self.assertEqual(lat, [4000.0, 3900.0])
        self.assertEqual(seen, [(1000.0, 5000.0), (1100.0, 5000.0)])

    def test_backlog_max(self):
        seen = [(0.0, 10.0), (1.0, 10.0), (2.0, 3.0), (11.0, 12.0)]
        # at t=2 three files are out and none visible yet
        self.assertEqual(backlog_max(seen), 3)

    def test_batch_of_store_file(self):
        self.assertEqual(batch_of(
            "/x/event_date=2024-01-15/batch12-part-00000-c000.snappy.parquet"),
            12)
        self.assertIsNone(batch_of("/x/event_date=2024-01-15/part-0.parquet"))


class SelfTimeTest(unittest.TestCase):
    def test_children_subtracted(self):
        spans = [span(1, 0, 100), span(2, 10, 30, parent=1),
                 span(3, 50, 60, parent=1)]
        st = self_time(spans)
        self.assertEqual(st[1], 70)
        self.assertEqual(st[2], 20)
        self.assertEqual(st[3], 10)

    def test_overlapping_children_counted_once(self):
        spans = [span(1, 0, 100), span(2, 10, 50, parent=1),
                 span(3, 40, 70, parent=1)]
        self.assertEqual(self_time(spans)[1], 40)

    def test_children_clipped_to_parent(self):
        spans = [span(1, 0, 100), span(2, 90, 130, parent=1)]
        self.assertEqual(self_time(spans)[1], 90)

    def test_grandchildren_do_not_count_twice(self):
        spans = [span(1, 0, 100), span(2, 0, 50, parent=1),
                 span(3, 10, 20, parent=2)]
        st = self_time(spans)
        self.assertEqual(st[1], 50)
        self.assertEqual(st[2], 40)


class AttributionTest(unittest.TestCase):
    def test_innermost_open_span(self):
        spans = [span(1, 0, 100), span(2, 10, 50, parent=1),
                 span(3, 20, 30, parent=2)]
        self.assertEqual(attribute(25, "", spans), 3)
        self.assertEqual(attribute(40, "", spans), 2)
        self.assertEqual(attribute(70, "", spans), 1)
        self.assertIsNone(attribute(150, "", spans))

    def test_concurrent_legs_split_by_query_id(self):
        # two streaming legs overlap in time; each job goes to the span
        # of its own query, even when the other leg's span is innermost
        spans = [span(1, 0, 100, query="producer"),
                 span(2, 50, 90, query="consumer"),
                 span(3, 60, 70, parent=2, query="consumer")]
        self.assertEqual(attribute(65, "producer", spans), 1)
        self.assertEqual(attribute(65, "consumer", spans), 3)
        self.assertEqual(attribute(80, "consumer", spans), 2)
        self.assertIsNone(attribute(20, "consumer", spans))
        self.assertIsNone(attribute(65, "", spans))

    def test_whole_millisecond_events_at_span_edges(self):
        # listener times are whole ms; a job submitted 0.4 ms into a span
        # is stamped with the span's start millisecond
        spans = [span(1, 1000.6, 1200.2)]
        self.assertEqual(attribute(1000, "", spans), 1)
        self.assertEqual(attribute(1201, "", spans), 1)


if __name__ == "__main__":
    unittest.main()
