"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import duckdb

import stats


class TailPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        values = list(range(1, 1001))  # 1000 samples
        p, v = stats.tail_percentile(values)
        self.assertEqual(p, 99.0)  # p99.9 leaves 1 beyond, p99 leaves 10
        self.assertEqual(v, 990)

    def test_falls_back_as_samples_shrink(self):
        self.assertEqual(stats.tail_percentile(list(range(200)))[0], 95.0)
        self.assertEqual(stats.tail_percentile(list(range(100)))[0], 90.0)
        self.assertEqual(stats.tail_percentile(list(range(20)))[0], 50.0)

    def test_too_few_samples_reports_the_maximum(self):
        self.assertEqual(stats.tail_percentile([3.0, 1.0, 2.0]), (100.0, 3.0))
        self.assertEqual(stats.tail_percentile([]), (None, None))

    def test_nearest_rank(self):
        self.assertEqual(stats.percentile([5, 1, 4, 2, 3], 50), 3)
        self.assertEqual(stats.percentile([5, 1, 4, 2, 3], 100), 5)
        self.assertEqual(stats.percentile([5, 1, 4, 2, 3], 1), 1)


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(stats.self_time((0, 10), []), 10)

    def test_overlapping_children_count_once(self):
        # children cover [1, 6) and [8, 9): 6 of the 10
        self.assertEqual(stats.self_time((0, 10), [(1, 4), (3, 6), (2, 5), (8, 9)]), 4)

    def test_children_are_clipped_to_the_parent(self):
        self.assertEqual(stats.self_time((0, 10), [(-5, 2), (9, 20)]), 7)

    def test_nested_children(self):
        self.assertEqual(stats.self_time((0, 10), [(0, 10), (2, 3)]), 0)

    def test_union_ignores_empty_intervals(self):
        self.assertEqual(stats.union_length([(3, 3), (5, 4), (0, 1)]), 1)


class BacklogAndSustainedRate(unittest.TestCase):
    def test_processed_rate_interpolates_between_batch_ends(self):
        # 1000 events by 1 s, 3000 by 2 s, 7000 by 3 s (ms, cumulative)
        ends, done = [3000.0, 1000.0, 2000.0], [7000, 1000, 3000]
        self.assertAlmostEqual(stats.processed_rate(ends, done, 1000, 3000), 3000.0)
        self.assertAlmostEqual(stats.processed_rate(ends, done, 1500, 2500), 3000.0)
        self.assertAlmostEqual(stats.processed_rate(ends, done, 2500, 3000), 4000.0)

    def test_processed_rate_is_flat_outside_the_batches(self):
        ends, done = [1000.0, 2000.0], [100, 300]
        self.assertAlmostEqual(stats.processed_rate(ends, done, 0, 1000), 0.0)
        self.assertAlmostEqual(stats.processed_rate(ends, done, 2000, 4000), 0.0)
        self.assertEqual(stats.processed_rate([], [], 0, 1000), 0.0)

    def test_sustained_rate_is_the_highest_rung_below_the_first_failure(self):
        rungs = [
            {"rate": 1000, "backlog_growth": 3.0, "latency_tail_ms": 800.0},
            {"rate": 4000, "backlog_growth": -10.0, "latency_tail_ms": 900.0},
            {"rate": 16000, "backlog_growth": 5000.0, "latency_tail_ms": 4000.0},
            # a later rung that looks fine does not count after a failure
            {"rate": 64000, "backlog_growth": 0.0, "latency_tail_ms": 100.0},
        ]
        self.assertEqual(stats.sustained_rate(rungs, 2000.0, 0.05), 4000)

    def test_latency_limit_fails_a_rung(self):
        rungs = [{"rate": 1000, "backlog_growth": 0.0, "latency_tail_ms": 800.0},
                 {"rate": 2000, "backlog_growth": 0.0, "latency_tail_ms": 2500.0}]
        self.assertEqual(stats.sustained_rate(rungs, 2000.0, 0.05), 1000)

    def test_growth_within_tolerance_is_sustained(self):
        rungs = [{"rate": 1000, "backlog_growth": 49.0, "latency_tail_ms": 10.0},
                 {"rate": 2000, "backlog_growth": 101.0, "latency_tail_ms": 10.0}]
        self.assertEqual(stats.sustained_rate(rungs, 2000.0, 0.05), 1000)

    def test_unmeasured_or_failed_first_rung(self):
        self.assertIsNone(stats.sustained_rate(
            [{"rate": 1000, "backlog_growth": None, "latency_tail_ms": 10.0}], 2000.0, 0.05))


class Digest(unittest.TestCase):
    def setUp(self):
        self.con = duckdb.connect()

    def d(self, rows):
        rel = "SELECT * FROM (VALUES " + ", ".join(
            "(" + ", ".join("NULL" if v is None else repr(v) for v in r) + ")" for r in rows
        ) + ") t(a, b)"
        return stats.digest(self.con, rel, ["a", "b"])

    def test_order_insensitive(self):
        self.assertTrue(stats.digests_match(self.d([(1, "x"), (2, "y")]),
                                            self.d([(2, "y"), (1, "x")])))

    def test_value_change_is_seen(self):
        self.assertFalse(stats.digests_match(self.d([(1, "x"), (2, "y")]),
                                             self.d([(1, "x"), (2, "z")])))

    def test_duplicate_rows_count(self):
        self.assertFalse(stats.digests_match(self.d([(1, "x")]),
                                             self.d([(1, "x"), (1, "x")])))

    def test_column_boundaries_matter(self):
        self.assertFalse(stats.digests_match(self.d([(1, "23")]), self.d([(12, "3")])))

    def test_null_differs_from_empty(self):
        self.assertFalse(stats.digests_match(self.d([(1, None)]), self.d([(1, "")])))

    def test_empty_relation(self):
        rel = "SELECT 1 AS a, 'x' AS b WHERE false"
        self.assertEqual(stats.digest(self.con, rel, ["a", "b"]), {"rows": 0, "hash": "0"})


if __name__ == "__main__":
    unittest.main()
