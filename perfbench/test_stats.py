"""Tests of the benchmark's arithmetic: percentiles, tail selection,
ratios, span self times and answer comparison.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import report  # noqa: E402
import stats   # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        xs = [10, 20, 30, 40]
        self.assertEqual(stats.percentile(xs, 0), 10)
        self.assertEqual(stats.percentile(xs, 100), 40)
        self.assertAlmostEqual(stats.percentile(xs, 50), 25)
        self.assertAlmostEqual(stats.percentile(xs, 90), 37)

    def test_order_of_input_does_not_matter(self):
        self.assertEqual(stats.percentile([3, 1, 2], 50), 2)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class TailTest(unittest.TestCase):
    def test_needs_ten_samples_beyond_the_level(self):
        self.assertIsNone(stats.tail(list(range(99))))      # p90 has 9.9
        self.assertEqual(stats.tail(list(range(100)))[0], 90.0)
        self.assertEqual(stats.tail(list(range(200)))[0], 95.0)
        self.assertEqual(stats.tail(list(range(1000)))[0], 99.0)
        self.assertEqual(stats.tail(list(range(10000)))[0], 99.9)

    def test_summary_reports_count_median_and_tail(self):
        s = stats.summary([float(i) for i in range(1, 101)])
        self.assertEqual(s["n"], 100)
        self.assertEqual(s["p50"], 50.5)
        self.assertAlmostEqual(s["p90"], 90.1)
        self.assertEqual(stats.summary([]), {"n": 0})
        self.assertNotIn("p90", stats.summary([1.0, 2.0, 3.0]))


class RatioTest(unittest.TestCase):
    def test_ratio_and_zero_denominator(self):
        self.assertEqual(stats.ratio(3, 4), 0.75)
        self.assertIsNone(stats.ratio(3, 0))

    def test_kind_medians_and_mean_over_kinds(self):
        ops = [{"k": "a", "ms": 1.0}, {"k": "a", "ms": 3.0},
               {"k": "a", "ms": 8.0}, {"k": "b", "ms": 100.0}]
        self.assertEqual(report.kind_medians(ops, lambda o: o["k"]),
                         {"a": 3.0, "b": 100.0})
        # a: mean 4, b: mean 100; each kind counts once
        self.assertEqual(report.kinds_mean(ops, lambda o: o["k"]), 52.0)

    def test_closed_loop_rate_sums_per_connection_rates(self):
        s = 1_000_000_000
        ops = [{"conn": 0, "t0": 0, "t1": 1 * s},
               {"conn": 0, "t0": 1 * s, "t1": 2 * s},
               {"conn": 1, "t0": 0, "t1": 4 * s}]
        # conn 0: 2 ops in 2 s, conn 1: 1 op in 4 s
        self.assertAlmostEqual(report.closed_loop_rate(ops), 1.25)


class IngestStorageTest(unittest.TestCase):
    def test_only_timed_cycle_tables_count(self):
        snap = {"cust0": {"bytes": 1}, "item0": {"bytes": 2},
                "buys0": {"bytes": 4}, "copy1": {"bytes": 8},
                "event": {"bytes": 16}, "cust1": {"bytes": 32},
                "item1": {"bytes": 64}, "buys12": {"bytes": 128},
                "item10": {"bytes": 256}}
        self.assertEqual(report.timed_cycle_bytes(snap), 32 + 64 + 128 + 256)


class OverheadTest(unittest.TestCase):
    def test_geometric_mean_of_matched_ratios(self):
        traced = {"a": [20.0, 22.0, 30.0], "b": [5.0], "c": [1.0]}
        untraced = {"a": 11.0, "b": 10.0, "d": 3.0}
        # a: 22/11 = 2, b: 5/10 = 0.5, geometric mean 1; c and d unmatched
        self.assertAlmostEqual(stats.overhead_pct(traced, untraced), 0.0)
        self.assertAlmostEqual(
            stats.overhead_pct({"a": [12.0]}, {"a": 10.0}), 20.0)

    def test_missing_without_a_match(self):
        self.assertIsNone(stats.overhead_pct({"a": [1.0]}, {"b": 1.0}))
        self.assertIsNone(stats.overhead_pct({}, {}))


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_direct_children_only(self):
        # (id, parent, op, name, t0, t1)
        spans = [
            (1, 0, 7, "op", 0, 100),
            (2, 1, 7, "engine.build", 10, 50),
            (3, 2, 7, "inner", 20, 30),
            (4, 1, 7, "engine.fetch_page", 60, 90),
            (5, 1, 7, "engine.fetch_page", 90, 95),
        ]
        st = stats.self_times(spans)
        self.assertEqual(st["op"], (100, 100 - 40 - 30 - 5))
        self.assertEqual(st["engine.build"], (40, 30))
        self.assertEqual(st["inner"], (10, 10))
        self.assertEqual(st["engine.fetch_page"], (35, 35))

    def test_self_times_add_up_to_the_roots(self):
        spans = [(1, 0, 1, "op", 0, 50), (2, 1, 1, "a", 5, 25),
                 (3, 2, 1, "b", 6, 20), (4, 0, 2, "op", 60, 70)]
        st = stats.self_times(spans)
        self.assertEqual(sum(s for _, s in st.values()), 50 + 10)


class AnswerTest(unittest.TestCase):
    def test_rows_compare_as_multisets_with_float_tolerance(self):
        actual = [["2", "b", "1.0E7"], ["1", "a", "0.30000000000000004"]]
        expected = [[1, "a", 0.3], [2, "b", 10_000_000.0]]
        self.assertTrue(report.same_rows(actual, expected))

    def test_mismatches_are_caught(self):
        self.assertFalse(report.same_rows([["1"]], [[2]]))
        self.assertFalse(report.same_rows([["1"]], [[1], [1]]))
        self.assertFalse(report.same_rows([[None]], [[0]]))
        self.assertTrue(report.same_rows([[None, "x"]], [[None, "x"]]))


if __name__ == "__main__":
    unittest.main()
