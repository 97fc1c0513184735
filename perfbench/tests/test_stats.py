"""Tests of the benchmark's pure helpers.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


def span(name, op, parent, start, end):
    return {"name": name, "op": op, "parent": parent, "start_ns": start, "end_ns": end}


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        v = list(range(1, 101))
        self.assertEqual(stats.percentile(v, 0.5), 50.5)
        self.assertAlmostEqual(stats.percentile(v, 0.9), 90.1)
        self.assertEqual(stats.percentile(v, 1.0), 100)
        self.assertEqual(stats.percentile(v, 0.0), 1)
        self.assertEqual(stats.percentile([7], 0.9), 7)
        self.assertEqual(stats.percentile([1, 3], 0.5), 2)

    def test_order_does_not_matter(self):
        self.assertEqual(stats.percentile([3, 1, 2], 0.5), 2)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 0.5)

    def test_sample_count_rule(self):
        # p90 has ten samples ranked beyond it from 92 samples on
        self.assertEqual(stats.samples_beyond(100, 0.9), 10)
        self.assertEqual(stats.samples_beyond(92, 0.9), 10)
        self.assertEqual(stats.samples_beyond(91, 0.9), 9)
        self.assertEqual(stats.samples_beyond(10, 0.9), 1)
        self.assertEqual(stats.samples_beyond(0, 0.9), 0)

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)


class FailedRatioTest(unittest.TestCase):
    def test_ratio(self):
        self.assertEqual(stats.failed_ratio(0, 40), 0.0)
        self.assertEqual(stats.failed_ratio(3, 12), 0.25)

    def test_nothing_attempted_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.failed_ratio(0, 0)


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted(self):
        spans = [span("op", 1, -1, 0, 100),
                 span("pipeline.run", 1, 0, 10, 90),
                 span("sink.delete", 1, 1, 20, 30),
                 span("sink.append", 1, 1, 40, 80)]
        self.assertEqual(stats.self_times(spans), [20, 30, 10, 40])

    def test_overlapping_children_count_once(self):
        spans = [span("op", 1, -1, 0, 100),
                 span("a.x", 1, 0, 10, 60),
                 span("a.y", 1, 0, 50, 70)]
        self.assertEqual(stats.self_times(spans)[0], 40)

    def test_children_are_clipped_to_the_parent(self):
        spans = [span("op", 1, -1, 0, 50), span("a.x", 1, 0, 40, 70)]
        self.assertEqual(stats.self_times(spans)[0], 40)

    def test_layer_self_time_per_op(self):
        spans = [span("op", 1, -1, 0, 100), span("queries.build", 1, 0, 0, 30),
                 span("spark.execute", 1, 0, 30, 90),
                 span("op", 2, -1, 0, 100), span("queries.build", 2, 3, 0, 10),
                 span("spark.execute", 2, 3, 10, 100)]
        got = stats.per_op_layer_self_s(spans)
        self.assertAlmostEqual(got["bench"], 5e-9)
        self.assertAlmostEqual(got["queries"], 20e-9)
        self.assertAlmostEqual(got["spark"], 75e-9)

    def test_span_coverage_is_the_worst_op(self):
        spans = [span("op", 1, -1, 0, 100), span("main.conf", 1, 0, 0, 5),
                 span("pipeline.run", 1, 0, 5, 100),
                 span("pipeline.plan", 1, 2, 5, 40), span("pipeline.count", 1, 2, 40, 95),
                 span("op", 2, -1, 0, 100), span("pipeline.run", 2, 5, 0, 100),
                 span("pipeline.plan", 2, 6, 0, 50)]
        self.assertAlmostEqual(stats.span_coverage(spans), 0.5)

    def test_spans_of_ops_renumbers_parents(self):
        spans = [span("op", 1, -1, 0, 10), span("op", 2, -1, 10, 20),
                 span("queries.build", 2, 1, 10, 15), span("queries.build", 1, 0, 0, 5)]
        got = stats.spans_of_ops(spans, {2})
        self.assertEqual([(s["name"], s["parent"]) for s in got],
                         [("op", -1), ("queries.build", 0)])

    def test_span_median(self):
        spans = [span("sink.delete", 1, -1, 0, 4e9), span("sink.delete", 2, -1, 0, 2e9),
                 span("sink.delete", 3, -1, 0, 6e9)]
        self.assertEqual(stats.span_median_s(spans, "sink.delete"), 4.0)
        self.assertEqual(stats.span_median_s(spans, "absent"), 0.0)


if __name__ == "__main__":
    unittest.main()
