"""Tests of the benchmark's own helpers.

    python3 -m unittest discover -s benchmark/tests
"""
import datetime
import decimal
import math
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from benchlib import rowhash, spans, stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(200), 95)
        self.assertEqual(stats.tail_percentile(40), 75)
        self.assertIsNone(stats.tail_percentile(10))
        for n in range(11, 400):
            p = stats.tail_percentile(n)
            beyond = n - math.ceil(p / 100 * n)
            self.assertGreaterEqual(beyond, 10, n)
            if p < 99:
                self.assertLess(n - math.ceil((p + 1) / 100 * n), 10, n)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 75), 75)
        self.assertEqual(stats.percentile(list(reversed(xs)), 90), 90)
        self.assertEqual(stats.percentile([7.0], 75), 7.0)
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_spread_matches_statistics_quantiles(self):
        xs = [10.0, 11.0, 9.0, 10.5, 12.0, 9.5, 10.2, 11.1, 9.9, 10.0]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / statistics.median(xs))


class FailedFrac(unittest.TestCase):
    def test_counts(self):
        self.assertEqual(stats.failed_frac(100, 0), 0.0)
        self.assertEqual(stats.failed_frac(100, 3), 0.03)
        self.assertEqual(stats.failed_frac(4, 4), 1.0)

    def test_nothing_attempted_is_a_failure(self):
        self.assertEqual(stats.failed_frac(0, 0), 1.0)

    def test_bad_counts(self):
        for attempted, failed in [(3, 4), (-1, 0), (5, -1)]:
            with self.assertRaises(ValueError):
                stats.failed_frac(attempted, failed)


class RowHash(unittest.TestCase):
    cols = ["b", "a"]

    def test_order_independent(self):
        rows = [(1, "x"), (2, "y"), (3, None)]
        self.assertEqual(rowhash.multiset_hash(self.cols, rows),
                         rowhash.multiset_hash(self.cols, list(reversed(rows))))

    def test_column_order_independent(self):
        self.assertEqual(rowhash.row_hash(["a", "b"], (1, 2)), rowhash.row_hash(["b", "a"], (2, 1)))

    def test_duplicates_count(self):
        one = rowhash.multiset_hash(self.cols, [(1, "x")])
        two = rowhash.multiset_hash(self.cols, [(1, "x"), (1, "x")])
        self.assertNotEqual(one, two)
        self.assertEqual(two[0], 2)

    def test_nulls_are_values(self):
        self.assertNotEqual(rowhash.row_hash(self.cols, (None, "x")), rowhash.row_hash(self.cols, (0, "x")))
        self.assertNotEqual(rowhash.row_hash(self.cols, (None, "x")), rowhash.row_hash(self.cols, ("", "x")))
        self.assertEqual(rowhash.row_hash(self.cols, (None, None)), rowhash.row_hash(self.cols, (None, None)))

    def test_nan(self):
        self.assertEqual(rowhash.canon(float("nan")), rowhash.canon(decimal.Decimal("NaN")))
        self.assertEqual(rowhash.row_hash(self.cols, (float("nan"), 1)),
                         rowhash.row_hash(self.cols, (float("nan"), 1)))
        self.assertNotEqual(rowhash.canon(float("nan")), rowhash.canon(None))

    def test_doubles(self):
        self.assertEqual(rowhash.canon(0.1 + 0.2), rowhash.canon(0.3))
        self.assertEqual(repr(rowhash.canon(-0.0)), repr(rowhash.canon(0.0)))
        self.assertEqual(rowhash.canon(decimal.Decimal("42")), 42)
        self.assertEqual(rowhash.canon(decimal.Decimal("1.25")), 1.25)

    def test_timestamp_micros_round_trip(self):
        micros = 1700000000123456
        naive = datetime.datetime(1970, 1, 1) + datetime.timedelta(microseconds=micros)
        aware = datetime.datetime.fromtimestamp(micros / 1e6, tz=datetime.timezone(datetime.timedelta(hours=2)))
        aware = aware.replace(microsecond=micros % 1_000_000)
        self.assertEqual(rowhash.canon(naive), micros)
        self.assertEqual(rowhash.canon(aware), micros)
        before_epoch = datetime.datetime(1969, 12, 31, 23, 59, 59, 999999)
        self.assertEqual(rowhash.canon(before_epoch), -1)


def span(i, parent, layer, start, end):
    return {"id": i, "parent": parent, "layer": layer, "name": i, "start_us": start, "end_us": end}


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        s = [span("b1", "", "sinks", 0, 10_000),
             span("t1", "b1", "sinks.transport", 1_000, 5_000),
             span("t2", "b1", "sinks.transport", 3_000, 7_000),
             span("t3", "b1", "sinks.transport", 9_000, 12_000)]
        self_ms = spans.self_times_ms(s)
        # children cover 1-7 ms and 9-10 ms of the parent: 7 ms
        self.assertAlmostEqual(self_ms["sinks"], 3.0)
        self.assertAlmostEqual(self_ms["sinks.transport"], 4 + 4 + 3)

    def test_nested_layers(self):
        s = [span("b1", "", "workload", 0, 100_000),
             span("b2", "b1", "operators", 10_000, 60_000),
             span("j1", "b2", "spark.job", 20_000, 50_000),
             span("s1", "j1", "spark.stage", 20_000, 45_000)]
        self_ms = spans.self_times_ms(s)
        self.assertEqual(self_ms, {"workload": 50.0, "operators": 20.0, "spark.job": 5.0, "spark.stage": 25.0})

    def test_covered_union(self):
        self.assertEqual(spans.covered(0, 10, [(2, 4), (3, 6), (8, 20), (-5, 1)]), 4 + 2 + 1)
        self.assertEqual(spans.covered(0, 10, []), 0)

    def test_orphan_jobs_adopt_the_innermost_enclosing_span(self):
        s = [span("b1", "", "workload", 0, 100_000),
             span("b2", "b1", "streaming", 10_000, 60_000),
             span("j1", "", "spark.job", 20_000, 50_000),
             span("j2", "", "spark.job", 70_000, 80_000)]
        adopted = {x["id"]: x["parent"] for x in spans.adopt_orphans(s)}
        self.assertEqual(adopted["j1"], "b2")
        self.assertEqual(adopted["j2"], "b1")


if __name__ == "__main__":
    unittest.main()
