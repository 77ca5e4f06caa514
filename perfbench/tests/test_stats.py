import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import layers  # noqa: E402
import stats  # noqa: E402


class UnionTest(unittest.TestCase):
    def test_overlaps_count_once(self):
        self.assertAlmostEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4.0)

    def test_nested_and_touching(self):
        self.assertAlmostEqual(stats.union_length([(0, 10), (2, 3), (10, 12)]), 12.0)

    def test_empty_and_degenerate(self):
        self.assertEqual(stats.union_length([]), 0.0)
        self.assertEqual(stats.union_length([(3, 3), (5, 4)]), 0.0)

    def test_clip(self):
        self.assertEqual(stats.clip([(0, 5), (6, 9), (20, 30)], 2, 8), [(2, 5), (6, 8)])


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_union_of_children(self):
        spans = [
            {"id": 0, "parent": None, "name": "query", "start": 0.0, "end": 10.0},
            {"id": 1, "parent": 0, "name": "job", "start": 1.0, "end": 5.0},
            {"id": 2, "parent": 0, "name": "job", "start": 3.0, "end": 6.0},
            {"id": 3, "parent": 1, "name": "stage", "start": 1.0, "end": 2.0},
            # a child reaching past its parent only covers the overlap
            {"id": 4, "parent": 0, "name": "job", "start": 9.0, "end": 12.0},
        ]
        own = stats.self_times(spans)
        self.assertAlmostEqual(own[0], 10.0 - 5.0 - 1.0)
        self.assertAlmostEqual(own[1], 3.0)
        self.assertAlmostEqual(own[3], 1.0)
        table = stats.self_time_table(spans)
        self.assertEqual(table["job"]["count"], 3)
        self.assertAlmostEqual(table["job"]["self"], 3.0 + 3.0 + 3.0)

    def test_concurrent_jobs_leave_a_non_negative_driver_gap(self):
        # two broadcast jobs run side by side: summing them claims 8 s of
        # a 6 s query and leaves a negative gap; their union does not
        unit = {"start": 0.0, "built": 1.0, "end": 6.0}
        trace = {"jobs": [{"start": 1.0, "end": 5.0}, {"start": 1.0, "end": 5.0}]}
        row = layers._unit_breakdown([unit], trace)[0]
        self.assertAlmostEqual(row["job_union"], 4.0)
        self.assertAlmostEqual(row["gap"], 1.0)
        self.assertAlmostEqual(row["build"] + row["job_union"] + row["gap"], row["wall"])


class PercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.percentile(list(range(99)), 90))
        self.assertEqual(stats.percentile(list(range(1, 101)), 90), 90)
        self.assertIsNone(stats.percentile(list(range(19)), 50))
        self.assertEqual(stats.percentile(list(range(1, 21)), 50), 10)
        self.assertIsNone(stats.percentile([], 50))

    def test_order_does_not_matter(self):
        xs = [float(i * 7 % 101) for i in range(101)]
        self.assertEqual(stats.percentile(xs, 90), stats.percentile(sorted(xs), 90))


if __name__ == "__main__":
    unittest.main()
