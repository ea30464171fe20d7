"""Self-tests of the benchmark's own arithmetic on synthetic inputs.

Run: python3 lakebench/selftest.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_needs_twenty_samples(self):
        self.assertIsNone(stats.tail(list(range(19))))

    def test_ten_samples_beyond(self):
        xs = list(range(1, 21))  # 1..20: the value with ten above it is 10
        self.assertEqual(stats.tail(xs), (10, 50, 20))

    def test_hundred_samples(self):
        xs = list(range(100, 0, -1))
        v, p, n = stats.tail(xs)
        self.assertEqual((v, p, n), (90, 90, 100))
        self.assertEqual(sum(1 for x in xs if x > v), 10)


class Union(unittest.TestCase):
    def test_overlap_and_gaps(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)

    def test_nested_and_empty(self):
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (4, 4)]), 10)
        self.assertEqual(stats.union_length([]), 0)

    def test_gap_clips_jobs_to_span(self):
        span = {"start": 10.0, "end": 20.0}
        jobs = [{"start": 8.0, "end": 12.0}, {"start": 11.0, "end": 13.0},
                {"start": 15.0, "end": 25.0}]
        # covered: 10-13 and 15-20 -> 8 of 10
        self.assertAlmostEqual(stats.gap(span, jobs), 2.0)


class Occupancy(unittest.TestCase):
    def test_full_and_half(self):
        self.assertAlmostEqual(stats.occupancy(8.0, 4, 2.0), 1.0)
        self.assertAlmostEqual(stats.occupancy(4.0, 4, 2.0), 0.5)
        self.assertEqual(stats.occupancy(1.0, 4, 0.0), 0.0)


class Attribution(unittest.TestCase):
    def test_group_then_containment_then_parent(self):
        spans = [
            {"id": 0, "parent": -1, "start": 0, "end": 100, "traced": True},
            {"id": 1, "parent": 0, "start": 10, "end": 50, "traced": True},
            {"id": 2, "parent": 0, "start": 60, "end": 90, "traced": True},
        ]
        jobs = [
            {"id": 0, "group": "lakebench-1", "start": 70, "end": 71},  # group wins
            {"id": 1, "group": "", "start": 65, "end": 66},  # innermost container
            {"id": 2, "group": "", "start": 95, "end": 96},  # only the root
        ]
        a = stats.attribute(spans, jobs)
        self.assertEqual([j["id"] for j in a[1]], [0])
        self.assertEqual([j["id"] for j in a[2]], [1])
        self.assertEqual(sorted(j["id"] for j in a[0]), [0, 1, 2])


if __name__ == "__main__":
    unittest.main()
