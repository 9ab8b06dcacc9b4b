"""Tests for the benchmark's own arithmetic.  Run: python3 -m unittest perfbench/test_metrics.py"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_linear_interpolation(self):
        self.assertEqual(metrics.percentile([1, 2, 3, 4, 5], 50), 3)
        self.assertAlmostEqual(metrics.percentile([0, 10], 90), 9.0)
        self.assertEqual(metrics.percentile([7], 90), 7)

    def test_p90_needs_ten_samples_beyond(self):
        # 0..90: p90 = 81, and only 82..90 (nine samples) lie beyond it.
        self.assertIsNone(metrics.reportable_percentile(list(range(91)), 90))
        # 0..91: p90 = 81.9, and 82..91 are exactly ten beyond.
        self.assertAlmostEqual(metrics.reportable_percentile(list(range(92)), 90), 81.9)

    def test_ties_at_the_percentile_do_not_count_as_beyond(self):
        values = [1.0] * 95 + [2.0] * 9
        self.assertIsNone(metrics.reportable_percentile(values, 90))

    def test_p50_needs_twenty_samples(self):
        self.assertIsNone(metrics.reportable_percentile(list(range(19)), 50))
        self.assertEqual(metrics.reportable_percentile(list(range(21)), 50), 10)

    def test_empty(self):
        self.assertIsNone(metrics.reportable_percentile([], 90))


class SelfTime(unittest.TestCase):
    def span(self, id_, parent, layer, start, end):
        return {"id": id_, "parent": parent, "layer": layer, "start": start, "end": end}

    def test_span_minus_children(self):
        parent = self.span(1, None, "core", 0.0, 10.0)
        kids = [self.span(2, 1, "sink", 1.0, 4.0), self.span(3, 1, "sources", 5.0, 6.0)]
        self.assertAlmostEqual(metrics.self_time(parent, kids), 6.0)

    def test_overlapping_children_count_once(self):
        parent = self.span(1, None, "core", 0.0, 10.0)
        kids = [self.span(2, 1, "sink", 1.0, 4.0), self.span(3, 1, "sink", 3.0, 5.0)]
        self.assertAlmostEqual(metrics.self_time(parent, kids), 6.0)

    def test_children_are_clipped_to_the_parent(self):
        parent = self.span(1, None, "core", 2.0, 4.0)
        kids = [self.span(2, 1, "sink", 0.0, 3.0)]
        self.assertAlmostEqual(metrics.self_time(parent, kids), 1.0)

    def test_layer_totals_use_direct_children_only(self):
        spans = [
            self.span(1, None, "core", 0.0, 10.0),
            self.span(2, 1, "sink", 2.0, 8.0),
            self.span(3, 2, "sources", 3.0, 4.0),
        ]
        got = metrics.layer_self_times(spans)
        self.assertAlmostEqual(got["core"], 4.0)
        self.assertAlmostEqual(got["sink"], 5.0)
        self.assertAlmostEqual(got["sources"], 1.0)
        self.assertAlmostEqual(sum(got.values()), 10.0)


class SinkSplit(unittest.TestCase):
    def test_parts_add_up_to_the_write(self):
        write = {"start": 100.0, "end": 110.0}
        jobs = [
            {"start": 99.0, "end": 103.0, "kind": "encode"},  # starts before the write
            {"start": 102.0, "end": 106.0, "kind": "encode"},
            {"start": 105.5, "end": 107.0, "kind": "recount"},  # overlaps an encode job
            {"start": 111.0, "end": 112.0, "kind": "recount"},  # after the write
        ]
        got = metrics.sink_split(write, jobs)
        self.assertAlmostEqual(got["encode"], 6.0)
        self.assertAlmostEqual(got["recount"], 1.0)
        self.assertAlmostEqual(got["commit"], 3.0)
        self.assertAlmostEqual(sum(got.values()), 10.0)

    def test_job_kinds_follow_the_first_sql_execution(self):
        write = {"start": 10.0, "end": 20.0}
        jobs = [
            {"id": 1, "start": 5.0, "end": 6.0, "execution": "3"},    # before the write
            {"id": 2, "start": 10.5, "end": 12.0, "execution": "7"},  # query stage
            {"id": 3, "start": 12.0, "end": 15.0, "execution": "7"},  # the write job
            {"id": 4, "start": 14.0, "end": 14.5, "execution": ""},   # inside the encode
            {"id": 5, "start": 15.5, "end": 16.0, "execution": ""},   # footer listing
            {"id": 6, "start": 16.0, "end": 18.0, "execution": "8"},  # the count
        ]
        kinds = {j["id"]: j["kind"] for j in metrics.sink_job_kinds(write, jobs)}
        self.assertEqual(kinds, {2: "encode", 3: "encode", 4: "encode", 5: "recount", 6: "recount"})
        split = metrics.sink_split(write, metrics.sink_job_kinds(write, jobs))
        self.assertAlmostEqual(split["encode"], 4.5)
        self.assertAlmostEqual(split["recount"], 2.5)
        self.assertAlmostEqual(split["commit"], 3.0)

    def test_no_jobs_is_all_commit(self):
        got = metrics.sink_split({"start": 0.0, "end": 2.0}, [])
        self.assertEqual(got, {"encode": 0.0, "recount": 0.0, "commit": 2.0})


class UnionLength(unittest.TestCase):
    def test_merges_and_ignores_empty(self):
        self.assertAlmostEqual(metrics.union_length([(0, 2), (1, 3), (5, 6), (7, 7)]), 4.0)
        self.assertEqual(metrics.union_length([]), 0.0)


if __name__ == "__main__":
    unittest.main()
