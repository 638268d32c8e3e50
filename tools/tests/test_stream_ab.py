"""tools/stream_ab.py: how paired runs become a call.

    python3 -m unittest discover -s tools/tests
"""
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import stream_ab  # noqa: E402

# parent runs with median 100 and interquartile range 7 (96.5..103.5)
PARENT = [92.0, 94.0, 96.0, 98.0, 100.0, 100.0, 102.0, 104.0, 106.0, 108.0]


class Verdict(unittest.TestCase):

    def test_ties_count_for_neither_side(self):
        v = stream_ab.verdict(PARENT, list(PARENT), "lower")
        self.assertEqual((v["wins"], v["losses"], v["pairs"]), (0, 0, 10))
        self.assertEqual(v["call"], "-")
        self.assertEqual(v["ratio"], 1.0)

    def test_gain_needs_nine_tenths_of_pairs_and_a_gap_past_the_iqr(self):
        change = [p - 10 for p in PARENT]
        v = stream_ab.verdict(PARENT, change, "lower")
        self.assertEqual((v["wins"], v["call"]), (10, "gain"))
        # 9/10 wins is still enough
        nine = change[:9] + [PARENT[9]]
        self.assertEqual(stream_ab.verdict(PARENT, nine, "lower")["call"],
                         "gain")
        # 8/10 wins is not, however wide the gap
        eight = change[:8] + PARENT[8:]
        v = stream_ab.verdict(PARENT, eight, "lower")
        self.assertEqual((v["wins"], v["call"]), (8, "-"))

    def test_a_gap_inside_the_parent_iqr_is_no_call(self):
        # every pair won, but the medians sit 3 apart against an IQR of 7
        change = [p - 3 for p in PARENT]
        v = stream_ab.verdict(PARENT, change, "lower")
        self.assertEqual((v["wins"], v["call"]), (10, "-"))

    def test_worse_mirrors_gain_and_direction_flips_for_higher(self):
        slower = [p + 10 for p in PARENT]
        self.assertEqual(stream_ab.verdict(PARENT, slower, "lower")["call"],
                         "worse")
        self.assertEqual(stream_ab.verdict(PARENT, slower, "higher")["call"],
                         "gain")


class Quartiles(unittest.TestCase):

    def test_a_single_value_is_all_three(self):
        self.assertEqual(stream_ab.quartiles([7.5]), (7.5, 7.5, 7.5))

    def test_inclusive_method(self):
        self.assertEqual(stream_ab.quartiles([1.0, 2.0, 3.0, 4.0, 5.0]),
                         (2.0, 3.0, 4.0))


class Directions(unittest.TestCase):
    BENCH = {
        "per_layer": [{"name": "gen.events", "unit": "count",
                       "better": "higher"}],
        "end_to_end": [{"name": "setup_s", "unit": "s", "better": "lower",
                        "bound": 0.25}],
    }

    def test_per_layer_metric_has_no_bound(self):
        self.assertEqual(stream_ab.directions(self.BENCH)["gen.events"],
                         ("higher", None))

    def test_end_to_end_metric_carries_its_bound(self):
        self.assertEqual(stream_ab.directions(self.BENCH)["setup_s"],
                         ("lower", 0.25))


class OverBound(unittest.TestCase):

    def test_lower_is_better(self):
        self.assertTrue(stream_ab.over_bound(1.30, "lower", 0.25))
        self.assertFalse(stream_ab.over_bound(1.20, "lower", 0.25))
        self.assertFalse(stream_ab.over_bound(0.50, "lower", 0.25))

    def test_higher_is_better(self):
        self.assertTrue(stream_ab.over_bound(0.70, "higher", 0.25))
        self.assertFalse(stream_ab.over_bound(0.80, "higher", 0.25))
        self.assertFalse(stream_ab.over_bound(2.00, "higher", 0.25))


if __name__ == "__main__":
    unittest.main()
