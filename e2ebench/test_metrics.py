"""Tests of the benchmark's arithmetic:

    python3 -m unittest discover -s e2ebench -p 'test_*.py'
"""

import contextlib
import io
import math
import unittest

import metrics as m
import run


def batch(n, start, dur, lines=0):
    return {"batch": n, "start_ms": start, "batch_ms": dur, "lines": lines}


class CommitMapping(unittest.TestCase):
    # each consumer batch carries the queue lines it committed; batches
    # with none (no-data batches) commit nothing

    def test_cumulative_commits(self):
        consumer = [batch(0, 0, 100), batch(1, 100, 50, 3),
                    batch(2, 150, 30), batch(3, 180, 20, 2)]
        self.assertEqual(m.commit_times(consumer), [(3, 150), (5, 200)])

    def test_batch_order_not_record_order(self):
        consumer = [batch(1, 100, 50, 2), batch(0, 0, 100, 3)]
        self.assertEqual(m.commit_times(consumer), [(3, 100), (5, 150)])

    def test_freshness_from_scheduled_send_time(self):
        # a 5-line phase paced at 1000 msg/s: line j is due at 1000 + j ms;
        # the batches committing lines 0-2 and 3-4 end at 1150 and 1200
        run = {"phases": [{"count": 5, "rate": 1000.0, "start_ms": 1000}],
               "consumer": [batch(0, 1000, 150, 3), batch(1, 1150, 50, 2)]}
        self.assertEqual(m.phase_numbers(run, 0),
                         (5, 1000, 1200, [150, 149, 148, 197, 196]))
        self.assertEqual(m.phase_numbers(run, 0, skip=3),
                         (2, 1003.0, 1200, [197, 196]))

    def test_burst_lines_are_all_due_at_start(self):
        # phase 0 is lines 0-2, phase 1 lines 3-4
        run = {"phases": [{"count": 3, "rate": 0, "start_ms": 0},
                          {"count": 2, "rate": 0, "start_ms": 1000}],
               "roles": ["warm", "timed"], "skip": 0,
               "consumer": [batch(0, 0, 100, 3), batch(1, 1100, 400, 2)]}
        self.assertEqual(m.phase_numbers(run, 1), (2, 1000, 1500, [500, 500]))
        rate, fresh, first, windows = m.role_numbers(run, "timed")
        self.assertEqual((rate, fresh, first, windows),
                         (4.0, [500, 500], 1000, [(1000, 1500)]))

    def test_phases_of_one_role_are_pooled(self):
        # untraced, traced, untraced: the two untraced copies pool into
        # one rate (4 lines over 1 s + 1 s)
        run = {"phases": [{"count": 2, "rate": 0, "start_ms": 0},
                          {"count": 2, "rate": 0, "start_ms": 2000},
                          {"count": 2, "rate": 0, "start_ms": 4000}],
               "roles": ["timed", "traced", "timed"], "skip": 0,
               "consumer": [batch(0, 0, 1000, 2), batch(1, 2000, 500, 2),
                            batch(2, 4000, 1000, 2)]}
        self.assertEqual(m.role_numbers(run, "timed")[0], 2.0)
        self.assertEqual(m.role_numbers(run, "timed")[3],
                         [(0, 1000), (4000, 5000)])
        self.assertEqual(m.role_numbers(run, "traced")[0], 4.0)

    def test_uncommitted_last_line_is_an_error(self):
        run = {"phases": [{"count": 5, "rate": 1000.0, "start_ms": 1000}],
               "consumer": [batch(0, 1000, 150, 3), batch(1, 1150, 50, 1)]}
        with self.assertRaises(ValueError):
            m.phase_numbers(run, 0)
        run["consumer"] = []
        with self.assertRaises(ValueError):
            m.phase_numbers(run, 0)


class IncompleteRun(unittest.TestCase):
    def test_reports_failures_without_metrics(self):
        # the pipeline stopped with 2 of 5 lines committed: the record
        # still prints, with the failed operations counted
        raw = {"ingest": {"tag": "main", "messages": 5, "complete": False,
                          "error": "deadline",
                          "phases": [{"count": 5, "rate": 0, "start_ms": 0}],
                          "roles": ["timed"], "skip": 0,
                          "consumer": [batch(0, 0, 100, 2)], "producer": []},
               "checks": {"delta_rows_off": 3},
               "registry_warm": [], "registry": []}
        with contextlib.redirect_stderr(io.StringIO()) as err:
            r = run.result(raw, 0.0, "ingest_drain", 0)
        self.assertIn("FAILED ingest main: 2/5 committed", err.getvalue())
        self.assertEqual(r, {"correct": False, "attempted": 5, "failed": 6,
                             "metrics": {}})


class Percentiles(unittest.TestCase):
    def test_nearest_rank_with_count(self):
        xs = list(range(1, 101))
        self.assertEqual(m.percentile(xs, 0.50), (50, 100))
        self.assertEqual(m.percentile(xs, 0.95), (95, 100))
        self.assertEqual(m.percentile([7], 0.95), (7, 1))

    def test_unsorted_input(self):
        self.assertEqual(m.percentile([5, 1, 3, 2, 4], 0.5), (3, 5))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            m.percentile([], 0.5)


class GeometricMean(unittest.TestCase):
    def test_value(self):
        self.assertAlmostEqual(m.geomean([1, 10, 100]), 10.0)
        self.assertAlmostEqual(m.geomean([2, 8]), 4.0)

    def test_scale_invariant_weighting(self):
        # doubling one short query moves the mean as much as doubling a
        # long one
        base = [0.1, 10.0]
        self.assertAlmostEqual(m.geomean([0.2, 10.0]), m.geomean([0.1, 20.0]))
        self.assertAlmostEqual(m.geomean([0.2, 10.0]) / m.geomean(base),
                               math.sqrt(2))

    def test_rejects_non_positive(self):
        with self.assertRaises(ValueError):
            m.geomean([1.0, 0.0])


class FastestPass(unittest.TestCase):
    def test_fastest_time_of_each_query(self):
        passes = [{"queries": [{"id": "ob01", "seconds": 0.9},
                               {"id": "ob05", "seconds": 1.2}]},
                  {"queries": [{"id": "ob01", "seconds": 0.7},
                               {"id": "ob05", "seconds": 1.5}]}]
        self.assertEqual(m.fastest_per_query(passes),
                         {"ob01": 0.7, "ob05": 1.2})


class BusyFraction(unittest.TestCase):
    def test_clipped_to_window(self):
        batches = [batch(0, 0, 100), batch(1, 150, 100), batch(2, 300, 50)]
        # window [50, 300): busy 50..100 and 150..250
        self.assertAlmostEqual(m.busy_frac(batches, [(50, 300)]), 150 / 250)

    def test_several_windows(self):
        batches = [batch(0, 0, 100), batch(1, 150, 100)]
        # busy 50 of [50, 100) and 50 of [200, 300)
        self.assertAlmostEqual(
            m.busy_frac(batches, [(50, 100), (200, 300)]), 100 / 150)

    def test_idle_and_saturated(self):
        self.assertEqual(m.busy_frac([], [(0, 10)]), 0.0)
        self.assertEqual(m.busy_frac([batch(0, 0, 10)], [(0, 10)]), 1.0)

    def test_empty_window_is_an_error(self):
        with self.assertRaises(ValueError):
            m.busy_frac([], [(10, 10)])


class JobUnion(unittest.TestCase):
    def test_overlapping_jobs_count_once(self):
        spans = [(0, 10), (5, 15), (20, 30), (25, 26)]
        self.assertEqual(m.union_ms(spans, 0, 100), 25)

    def test_clipped_to_query_window(self):
        self.assertEqual(m.union_ms([(0, 10), (20, 30)], 5, 25), 10)

    def test_family(self):
        self.assertEqual(m.family("ob14"), "ob")
        self.assertEqual(m.family("sim36"), "sim")


if __name__ == "__main__":
    unittest.main()
