"""Harness tests: span self time.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import spans  # noqa: E402


def span(i, parent, name, start, end, op=0):
    return {"id": i, "parent": parent, "op": op, "name": name,
            "start_ns": start, "end_ns": end}


class SelfTime(unittest.TestCase):
    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(spans.self_times([span(1, 0, "a", 5, 12)]), {1: 7})

    def test_children_are_subtracted(self):
        ss = [span(1, 0, "op", 0, 100), span(2, 1, "x", 10, 30),
                 span(3, 1, "y", 50, 80)]
        self.assertEqual(spans.self_times(ss)[1], 50)

    def test_overlapping_children_count_once(self):
        ss = [span(1, 0, "op", 0, 100), span(2, 1, "x", 10, 60),
                 span(3, 1, "y", 40, 70)]
        self.assertEqual(spans.self_times(ss)[1], 40)

    def test_child_outside_parent_is_clipped(self):
        ss = [span(1, 0, "op", 0, 100), span(2, 1, "x", 90, 130)]
        self.assertEqual(spans.self_times(ss)[1], 90)

    def test_grandchildren_only_reduce_their_parent(self):
        ss = [span(1, 0, "op", 0, 100), span(2, 1, "x", 0, 50),
                 span(3, 2, "z", 10, 20)]
        st = spans.self_times(ss)
        self.assertEqual((st[1], st[2], st[3]), (50, 40, 10))

    def test_by_name_filters_ops_and_sums(self):
        ss = [span(1, 0, "op", 0, 2_000_000_000, op=0),
                 span(2, 1, "plans.analyze", 0, 500_000_000, op=0),
                 span(3, 0, "op", 0, 1_000_000_000, op=1),
                 span(4, 0, "op", 0, 9_000_000_000, op=-2)]
        by = spans.self_seconds_by_name(ss, ops={0, 1})
        self.assertAlmostEqual(by["op"], 2.5)
        self.assertAlmostEqual(by["plans.analyze"], 0.5)


if __name__ == "__main__":
    unittest.main()
