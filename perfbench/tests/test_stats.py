"""Percentile, geometric-mean and self-time arithmetic."""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stats import geomean, median, quantile, self_times, union_length  # noqa: E402


class QuantileTest(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(median([3, 1, 2]), 2)
        self.assertEqual(median([4, 1, 3, 2]), 2.5)

    def test_linear_interpolation(self):
        xs = list(range(1, 11))  # 1..10
        self.assertAlmostEqual(quantile(xs, 0.9), 9.1)
        self.assertEqual(quantile(xs, 0.0), 1)
        self.assertEqual(quantile(xs, 1.0), 10)

    def test_single_value(self):
        self.assertEqual(quantile([7.5], 0.9), 7.5)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            quantile([], 0.5)


class GeomeanTest(unittest.TestCase):
    def test_geomean(self):
        self.assertAlmostEqual(geomean([1, 100]), 10)
        self.assertAlmostEqual(geomean([2, 8, 4]), 4)

    def test_light_values_count(self):
        # a tenfold change of one light op moves the geomean as much as a
        # tenfold change of a heavy one
        base = geomean([0.1, 10])
        self.assertAlmostEqual(geomean([1.0, 10]) / base, math.sqrt(10))
        self.assertAlmostEqual(geomean([0.1, 100]) / base, math.sqrt(10))

    def test_non_positive_is_an_error(self):
        with self.assertRaises(ValueError):
            geomean([1, 0])


class SelfTimeTest(unittest.TestCase):
    def test_union_length_merges_overlaps(self):
        self.assertEqual(union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(union_length([]), 0)
        self.assertEqual(union_length([(3, 3)]), 0)

    def test_self_time_subtracts_covered_children(self):
        spans = [
            {"id": 0, "parent": -1, "layer": "op", "start": 0, "end": 10},
            {"id": 1, "parent": 0, "layer": "queries", "start": 0, "end": 2},
            {"id": 2, "parent": 0, "layer": "exec", "start": 2, "end": 9},
            # parallel stages under exec overlap each other
            {"id": 3, "parent": 2, "layer": "stage", "start": 3, "end": 6},
            {"id": 4, "parent": 2, "layer": "stage", "start": 5, "end": 8},
        ]
        st = self_times(spans)
        self.assertEqual(st["op"], 1)        # 10 - (2 + 7)
        self.assertEqual(st["queries"], 2)
        self.assertEqual(st["exec"], 2)      # 7 - union(3..8) = 7 - 5
        self.assertEqual(st["stage"], 6)     # 3 + 3, leaves
        self.assertEqual(sum(st.values()), 11)

    def test_children_are_clipped_to_their_parent(self):
        spans = [
            {"id": 0, "parent": -1, "layer": "op", "start": 0, "end": 4},
            {"id": 1, "parent": 0, "layer": "stage", "start": 3, "end": 9},
        ]
        self.assertEqual(self_times(spans)["op"], 3)


if __name__ == "__main__":
    unittest.main()
