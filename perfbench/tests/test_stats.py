"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4], 0.5)[0], 2.5)
        self.assertAlmostEqual(stats.percentile(list(range(11)), 0.9)[0], 9.0)

    def test_reports_sample_count_and_tail(self):
        v, n, beyond = stats.percentile(list(range(1, 101)), 0.9)
        self.assertAlmostEqual(v, 90.1)
        self.assertEqual((n, beyond), (100, 10))
        self.assertTrue(stats.tail_ok(beyond))

    def test_tail_rule_needs_ten_beyond(self):
        _, n, beyond = stats.percentile(list(range(50)), 0.9)
        self.assertEqual((n, beyond), (50, 5))
        self.assertFalse(stats.tail_ok(beyond))

    def test_failed_ops_sit_above_every_limit(self):
        v, _, beyond = stats.percentile([1.0, 2.0, math.inf, math.inf], 0.9)
        self.assertTrue(math.isinf(v))
        self.assertEqual(beyond, 0)
        self.assertEqual(stats.percentile([1.0, 2.0, 3.0, math.inf], 0.5)[0], 2.5)

    def test_order_does_not_matter(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(stats.percentile(xs, 0.5), stats.percentile(sorted(xs), 0.5))

    def test_empty(self):
        v, n, beyond = stats.percentile([], 0.5)
        self.assertTrue(math.isnan(v))
        self.assertEqual((n, beyond), (0, 0))


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_keeps_gaps(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)

    def test_union_of_nested_and_touching(self):
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (10, 12)]), 12)

    def test_union_clips_to_window(self):
        self.assertEqual(stats.union_length([(-5, 2), (8, 20)], 0, 10), 4)

    def test_empty_and_inverted_intervals(self):
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(3, 1)]), 0)

    def test_time_outside_jobs(self):
        # op 0..10, jobs 1..3 and 2..4 and 8..12: covered 1..4 and 8..10
        self.assertEqual(stats.outside((0, 10), [(1, 3), (2, 4), (8, 12)]), 5)
        self.assertEqual(stats.outside((0, 10), []), 10)


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_covered_children(self):
        spans = {
            "op": {"start": 0, "end": 10, "parent": None},
            "build": {"start": 0, "end": 4, "parent": "op"},
            "action": {"start": 4, "end": 10, "parent": "op"},
            "job1": {"start": 1, "end": 3, "parent": "build"},
            "job2": {"start": 5, "end": 9, "parent": "action"},
            "stage1": {"start": 5, "end": 7, "parent": "job2"},
            "stage2": {"start": 6, "end": 8, "parent": "job2"},
        }
        s = stats.self_times(spans)
        self.assertEqual(s["op"], 0)
        self.assertEqual(s["build"], 2)
        self.assertEqual(s["action"], 2)
        self.assertEqual(s["job1"], 2)
        self.assertEqual(s["job2"], 1)  # stages cover 5..8 of 5..9
        self.assertEqual(s["stage1"], 2)
        # self times of a tree whose children never overlap add up to the root
        flat = {k: v for k, v in spans.items() if k != "stage2"}
        self.assertEqual(sum(stats.self_times(flat).values()), 10)

    def test_child_outside_parent_is_clipped(self):
        spans = {"a": {"start": 0, "end": 4, "parent": None},
                 "b": {"start": 3, "end": 9, "parent": "a"}}
        self.assertEqual(stats.self_times(spans)["a"], 3)


class FreshnessTest(unittest.TestCase):
    def test_due_time_to_trigger_end(self):
        releases = [{"name": "f1", "due": 100, "replay": False},
                    {"name": "f2", "due": 150, "replay": False},
                    {"name": "r1", "due": 160, "replay": True},
                    {"name": "f3", "due": 400, "replay": False}]
        file_batch = {"f1": 0, "f2": 0, "r1": 1, "f3": 1}
        batch_end = {0: 300, 1: 700}
        self.assertEqual(stats.freshness(releases, file_batch, batch_end), [200, 150, 300])

    def test_untaken_file_is_infinitely_stale(self):
        out = stats.freshness([{"name": "f9", "due": 5, "replay": False}], {}, {})
        self.assertTrue(math.isinf(out[0]))


if __name__ == "__main__":
    unittest.main()
