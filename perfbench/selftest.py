"""Self-tests of the benchmark's own logic: the percentile rule, the event-log
reducer on a fixture log, the generator's schedule and lateness accounting,
and the span arithmetic behind self time and coverage. No Spark needed.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spans import Span, coverage, reduce_event_log, self_times  # noqa: E402
from stats import (  # noqa: E402
    MIN_BEYOND, TAIL_P, check_tail, fell_behind, lateness, percentile, quartile_spread,
    rank, samples_beyond, schedule)

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "eventlog.jsonl")


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        self.assertEqual(rank(100, 95), 95)
        self.assertEqual(rank(1, 50), 1)
        self.assertEqual(rank(40, 75), 30)
        self.assertEqual(percentile(range(1, 101), 50), 50)
        self.assertEqual(percentile([3.0, 1.0, 2.0], 100), 3.0)

    def test_ten_samples_beyond(self):
        # p95 needs 200 samples to leave ten above it; 199 leave nine.
        self.assertEqual(samples_beyond(200, 95), 10)
        self.assertEqual(samples_beyond(199, 95), 9)
        self.assertEqual(samples_beyond(40, 75), 10)
        self.assertEqual(samples_beyond(39, 75), 9)
        check_tail(200, 95)
        check_tail(40, 75)
        with self.assertRaises(ValueError):
            check_tail(199, 95)
        with self.assertRaises(ValueError):
            check_tail(39, 75)
        self.assertEqual(MIN_BEYOND, 10)

    def test_query_tail(self):
        # TAIL_P leaves ten of 32 samples beyond it, and a queries_sf01 run
        # takes more; one point higher leaves only nine of 32.
        check_tail(32, TAIL_P)
        self.assertEqual(samples_beyond(32, TAIL_P), 10)
        with self.assertRaises(ValueError):
            check_tail(32, TAIL_P + 1)
        with self.assertRaises(ValueError):
            check_tail(31, TAIL_P)

    def test_quartile_spread(self):
        # quantiles of 1..9 (exclusive method): 2.5, 5, 7.5
        self.assertAlmostEqual(quartile_spread(range(1, 10)), 1.0)
        self.assertAlmostEqual(quartile_spread([10.0] * 10), 0.0)


class EventLog(unittest.TestCase):
    def setUp(self):
        with open(FIXTURE) as fh:
            self.groups = reduce_event_log(fh)

    def test_only_grouped_jobs(self):
        self.assertEqual(sorted(self.groups), ["span-7", "span-9"])

    def test_executor_and_shuffle(self):
        g = self.groups["span-7"]
        self.assertEqual(g["jobs"], 1)
        self.assertEqual(g["first_submit_ms"], 1000500)
        self.assertEqual(g["job_intervals_ms"], [(1000500, 1000800)])
        self.assertEqual(g["tasks"], 5)
        self.assertEqual(g["run_ms"], 200)
        self.assertAlmostEqual(g["cpu_ms"], 166.0)
        self.assertEqual(g["gc_ms"], 6)
        self.assertEqual(g["shuffle_write_bytes"], 4000)
        self.assertEqual(g["shuffle_read_bytes"], 4000)
        self.assertEqual(g["spill_bytes"], 2048)
        # stage 1 runs 10, 10, 20, 60 ms: max 60 over median 15
        self.assertAlmostEqual(g["skew_max_over_median"], 4.0)
        self.assertEqual(g["crossings"], 0)

    def test_python_boundary(self):
        g = self.groups["span-9"]
        self.assertEqual(g["python_ms"], 520)
        self.assertEqual(g["bytes_to_py"], 1800)
        self.assertEqual(g["bytes_from_py"], 2200)
        self.assertEqual(g["crossings"], 2)  # two Python operators (ids 41, 51)
        self.assertEqual(g["skew_max_over_median"], 1.0)  # too few tasks to judge


class Schedule(unittest.TestCase):
    def test_due_times(self):
        self.assertEqual(schedule(100.0, 4.0, 3), [100.0, 100.25, 100.5])

    def test_lateness(self):
        due = schedule(0.0, 10.0, 4)
        started = [0.0, 0.05, 0.35, 0.2]
        self.assertEqual([round(x, 9) for x in lateness(due, started)], [0.0, 0.0, 0.15, 0.0])
        with self.assertRaises(ValueError):
            lateness(due, started[:3])

    def test_fell_behind(self):
        self.assertFalse(fell_behind([0.0, 0.05, 0.09], 10.0))
        self.assertTrue(fell_behind([0.0, 0.1], 10.0))
        self.assertFalse(fell_behind([], 10.0))


class SpanArithmetic(unittest.TestCase):
    SPANS = [
        Span(1, "query", 0.0, 10.0, None, "q#0"),
        Span(2, "plans.build", 0.0, 1.0, 1, "q#0"),
        Span(3, "driver.execute", 1.0, 9.5, 1, "q#0"),
        Span(4, "spark.job", 2.0, 5.0, 3, "q#0"),
        Span(5, "spark.job", 4.0, 8.0, 3, "q#0"),
    ]

    def test_self_time(self):
        t = self_times(self.SPANS)
        self.assertAlmostEqual(t["query"], 0.5)
        self.assertAlmostEqual(t["driver.execute"], 2.5)  # 8.5 minus the union 2..8
        self.assertAlmostEqual(t["spark.job"], 7.0)

    def test_coverage(self):
        self.assertAlmostEqual(coverage(self.SPANS, "query"), 0.95)
        self.assertIsNone(coverage(self.SPANS, "image"))


if __name__ == "__main__":
    unittest.main()
