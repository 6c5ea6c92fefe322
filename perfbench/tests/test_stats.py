"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import datetime
import json
import math
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertEqual(stats.percentile(range(1, 101), 0.9), 90)
        self.assertIsNone(stats.percentile(range(1, 100), 0.9))

    def test_p50_needs_twenty_samples(self):
        self.assertEqual(stats.percentile(range(1, 21), 0.5), 10)
        self.assertIsNone(stats.percentile(range(1, 20), 0.5))

    def test_order_does_not_matter(self):
        xs = list(range(200))
        self.assertEqual(stats.percentile(reversed(xs), 0.9), stats.percentile(xs, 0.9))

    def test_empty(self):
        self.assertIsNone(stats.percentile([], 0.5))
        self.assertIsNone(stats.median([]))


class MixLatency(unittest.TestCase):
    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1.0, 4.0]), 2.0)
        self.assertIsNone(stats.geomean([]))

    def test_any_query_slowing_down_moves_it(self):
        times = [0.2, 0.3, 0.5, 0.8, 1.0, 1.5, 2.0, 4.0]
        base = stats.geomean(times)
        for i in range(len(times)):
            slower = times[:i] + [2 * times[i]] + times[i + 1:]
            self.assertAlmostEqual(stats.geomean(slower) / base, 2 ** (1 / 8))


class Latency(unittest.TestCase):
    progress = {
        "batchId": 3, "numInputRows": 20000, "batchDuration": 2467,
        "timestamp": "2026-10-17T06:45:34.009Z",
        "eventTime": {"max": "2026-10-17T06:45:33.803Z",
                      "watermark": "2026-10-17T06:35:33.803Z"},
    }

    def test_newest_event_to_commit(self):
        # trigger start 34.009 + 2.467 s of batch - newest event at 33.803
        self.assertEqual(stats.newest_event_latency_ms(self.progress), 2673)

    def test_trigger_without_data_has_no_sample(self):
        p = dict(self.progress, numInputRows=0, eventTime={"watermark": "x"})
        self.assertIsNone(stats.newest_event_latency_ms(p))

    def test_iso_ms(self):
        self.assertEqual(stats.iso_ms("1970-01-01T00:00:01.250Z"), 1250)


class Conservation(unittest.TestCase):
    """Three events (u1, u2, then u1 again) in two triggers; every event
    lands in two sliding windows, and the update-mode sink re-writes u1's
    running totals in the second delta."""

    def setUp(self):
        import duckdb
        import pyarrow as pa
        import pyarrow.parquet as pq
        self.con = duckdb.connect()
        self.tmp = tempfile.TemporaryDirectory()
        self.sink = os.path.join(self.tmp.name, "sink")
        wa = datetime.datetime(2025, 12, 22, 10, 20)
        wb = datetime.datetime(2025, 12, 22, 10, 25)
        ten = datetime.timedelta(minutes=10)
        deltas = {
            0: [(wa, "u1", 1), (wb, "u1", 1), (wa, "u2", 1), (wb, "u2", 1)],
            1: [(wa, "u1", 2), (wb, "u1", 2)],
        }
        for b, rows in deltas.items():
            os.makedirs(os.path.join(self.sink, f"b{b}"))
            pq.write_table(pa.table({
                "window_start": [r[0] for r in rows],
                "window_end": [r[0] + ten for r in rows],
                "user_id": [r[1] for r in rows],
                "total_interactions": [r[2] for r in rows],
                "_batch_id": [b] * len(rows),
            }), os.path.join(self.sink, f"b{b}", "part-0.parquet"))
        self.keys = ["window_start", "window_end", "user_id"]

    def tearDown(self):
        self.tmp.cleanup()

    def test_last_write_wins_sum_is_twice_the_events(self):
        total = stats.resolve_sum(self.con, self.sink, self.keys)
        self.assertEqual(total, 6)
        self.assertTrue(stats.conserved(total, 3))

    def test_lost_or_extra_events_are_caught(self):
        total = stats.resolve_sum(self.con, self.sink, self.keys)
        self.assertFalse(stats.conserved(total, 2))
        self.assertFalse(stats.conserved(total, 4))

    def test_window_counts_match_the_backlog(self):
        # u1's second event at 10:31 instead of 10:29:30 moves one count
        # from [10:20, 10:30) to [10:30, 10:40): the sink's u1 row of the
        # first window and both expected rows differ
        backlog = os.path.join(self.tmp.name, "backlog.txt")
        with open(backlog, "w") as fh:
            for u, t in (("u1", "10:29:59.000"), ("u2", "10:29:00.000"), ("u1", "10:31:00.000")):
                fh.write(json.dumps({"user_id": u, "item_id": "i1", "interaction_type": "click",
                                     "timestamp": f"2025-12-22T{t}Z"}) + "\n")
        self.assertEqual(stats.window_count_diff(self.con, backlog, self.sink, "user_id"), 3)
        with open(backlog, "w") as fh:
            for u, t in (("u1", "10:29:59.000"), ("u2", "10:29:00.000"), ("u1", "10:29:30.000")):
                fh.write(json.dumps({"user_id": u, "item_id": "i1", "interaction_type": "click",
                                     "timestamp": f"2025-12-22T{t}Z"}) + "\n")
        self.assertEqual(stats.window_count_diff(self.con, backlog, self.sink, "user_id"), 0)

    def test_empty_sink(self):
        self.assertEqual(stats.resolve_sum(self.con, os.path.join(self.tmp.name, "none"),
                                           self.keys), 0)


class OracleComparator(unittest.TestCase):
    def test_column_and_row_order_are_ignored(self):
        self.assertIsNone(stats.compare(
            ["a", "b"], [(1, "x"), (2, "y")],
            ["b", "a"], [("y", 2), ("x", 1)]))

    def test_floats_compare_bit_for_bit(self):
        reason = stats.compare(["v"], [(0.1 + 0.2,)], ["v"], [(0.3,)])
        self.assertIn("rows differ", reason)
        self.assertIsNone(stats.compare(["v"], [(math.nan,)], ["v"], [(float("nan"),)]))

    def test_duplicates_count(self):
        self.assertIn("rows differ", stats.compare(
            ["a"], [(1,), (1,), (2,)], ["a"], [(1,), (2,), (2,)]))

    def test_row_count_and_columns(self):
        self.assertIn("row counts", stats.compare(["a"], [(1,)], ["a"], [(1,), (1,)]))
        self.assertIn("columns", stats.compare(["a"], [(1,)], ["b"], [(1,)]))

    def test_timestamps_compare_in_utc(self):
        naive = datetime.datetime(2024, 1, 1, 0, 5)
        aware = datetime.datetime(2024, 1, 1, 1, 5, tzinfo=datetime.timezone(
            datetime.timedelta(hours=1)))
        self.assertIsNone(stats.compare(["t"], [(naive,)], ["t"], [(aware,)]))

    def test_lists_and_nulls(self):
        self.assertIsNone(stats.compare(
            ["l", "n"], [([1.5, 2.0], None)], ["n", "l"], [(None, [1.5, 2.0])]))


class BenchmarkSpec(unittest.TestCase):
    """BENCHMARK.json names every per-query metric of the mix it runs."""

    def test_per_query_metrics_match_the_mix(self):
        import run
        with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        names = [m["name"] for m in spec["per_layer"]]
        self.assertEqual(sorted(n for n in names if n.startswith("q.")),
                         sorted(f"q.{q}.s" for q in run.MIX))
        self.assertEqual(len(names), len(set(names)))
        self.assertTrue({"setup_s", "lat_p50_ms", "pass_s", "heap_peak_mb"} <=
                        {m["name"] for m in spec["end_to_end"]})


if __name__ == "__main__":
    unittest.main()
