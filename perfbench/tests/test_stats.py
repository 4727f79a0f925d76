"""Unit tests of the benchmark's arithmetic.

Run: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


def span(i, parent, start, end, detached=False):
    return {"id": i, "parent": parent, "start_ns": start, "end_ns": end, "detached": detached}


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        for n, p in ((902, 99), (901, 95), (182, 95), (181, 90), (92, 90), (91, 75),
                     (38, 75)):
            values = list(range(1, n + 1))
            got_p, value, beyond = stats.tail(values)
            self.assertEqual(got_p, p, n)
            self.assertGreaterEqual(beyond, 10, n)
            self.assertEqual(beyond, sum(v > value for v in values), n)

    def test_too_few_samples_keep_p75_and_say_how_few_are_beyond(self):
        self.assertEqual(stats.tail(list(range(1, 38))), (75, 28.0, 9))
        self.assertEqual(stats.tail(list(range(1, 10))), (75, 7.0, 2))

    def test_percentile_interpolates_between_ranks(self):
        values = [5, 1, 4, 2, 3]
        self.assertEqual(stats.percentile(values, 50), 3)
        self.assertEqual(stats.percentile(values, 100), 5)
        self.assertEqual(stats.percentile(values, 0), 1)
        self.assertEqual(stats.percentile([10, 20], 75), 17.5)


class KindP50(unittest.TestCase):
    def test_geometric_mean_of_each_kinds_median(self):
        self.assertAlmostEqual(stats.kind_p50({"a": [1, 2, 100], "b": [8, 8]}), 4.0)

    def test_every_kind_counts_once_whatever_its_sample_count(self):
        self.assertAlmostEqual(stats.kind_p50({"a": [2] * 50, "b": [8]}), 4.0)

    def test_no_ops_give_zero(self):
        self.assertEqual(stats.kind_p50({}), 0.0)


class SelfTimes(unittest.TestCase):
    def test_children_are_subtracted_from_their_parent(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 30), span(2, 0, 30, 90)]
        self.assertEqual(stats.self_times(spans), {0: 20, 1: 20, 2: 60})

    def test_overlapping_children_count_once(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 60), span(2, 0, 40, 70)]
        self.assertEqual(stats.self_times(spans)[0], 40)

    def test_children_are_clipped_to_the_parent(self):
        spans = [span(0, -1, 10, 50), span(1, 0, 0, 20), span(2, 0, 40, 80)]
        self.assertEqual(stats.self_times(spans)[0], 20)

    def test_detached_probes_are_not_subtracted(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 0, 100, detached=True)]
        self.assertEqual(stats.self_times(spans), {0: 100, 1: 100})

    def test_self_times_of_a_tree_sum_to_the_root(self):
        spans = [span(0, -1, 0, 1000), span(1, 0, 5, 400), span(2, 1, 10, 200),
                 span(3, 0, 400, 990), span(4, 3, 500, 600)]
        self.assertEqual(sum(stats.self_times(spans).values()), 1000)


if __name__ == "__main__":
    unittest.main()
