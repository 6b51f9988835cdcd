"""Tests of the benchmark's own measurement logic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        # 1000 samples: 0.5% of them (5) lie beyond p99.5, 1% (10)
        # beyond p99, so p99 is the highest admissible rung
        q, v = stats.tail(list(range(1000)))
        self.assertEqual(q, 99.0)
        self.assertAlmostEqual(v, stats.percentile(range(1000), 99.0))

    def test_fewer_samples_step_down(self):
        self.assertEqual(stats.tail(list(range(200)))[0], 95.0)
        self.assertEqual(stats.tail(list(range(100)))[0], 90.0)
        self.assertEqual(stats.tail(list(range(40)))[0], 75.0)

    def test_too_few_samples_fall_back_to_median(self):
        q, v = stats.tail([1.0, 2.0, 3.0])
        self.assertEqual((q, v), (50.0, 2.0))

    def test_percentile_interpolates(self):
        self.assertEqual(stats.percentile([0, 10], 50), 5)
        self.assertEqual(stats.percentile([3, 1, 2], 100), 3)


class Lateness(unittest.TestCase):
    def test_early_sends_count_as_on_time(self):
        late, worst = stats.lateness_ms([0, 100, 200], [0, 90, 260])
        self.assertEqual(late, [0, 0, 60])
        self.assertEqual(worst, 60)

    def test_no_sends(self):
        self.assertEqual(stats.lateness_ms([], []), ([], 0.0))


class Backlog(unittest.TestCase):
    # one file of 100 events every 0.1 s for 5 s
    files = [(0.1 * (i + 1), 100 * (i + 1)) for i in range(50)]

    def test_keeping_up_does_not_grow(self):
        # a batch every 0.3 s that takes every file written so far
        ends = [0.3 * k + 0.05 for k in range(1, 18)]
        cum = [stats.ingested_at(e - 0.05, [f[0] for f in self.files],
                                 [f[1] for f in self.files]) for e in ends]
        series = stats.backlog_series(self.files, ends, cum)
        self.assertLessEqual(max(n for _, n in series), 4)
        self.assertFalse(stats.backlog_grows(series, files_per_s=10))

    def test_falling_behind_grows(self):
        # the engine ingests only half of what is offered
        ends = [0.5 * k for k in range(1, 11)]
        cum = [250 * k for k in range(1, 11)]
        series = stats.backlog_series(self.files, ends, cum)
        self.assertGreater(series[-1][1], 20)
        self.assertTrue(stats.backlog_grows(series, files_per_s=10))

    def test_drain_time_of_a_released_backlog(self):
        # 1000 events ingested before the release at t=10, a backlog of
        # 4000 taken by two batches ending at 11 and 12.5
        ends, cum = [5.0, 11.0, 12.5], [1000, 3000, 5000]
        self.assertEqual(stats.drain_s(10.0, ends, cum, 5000), 2.5)
        self.assertIsNone(stats.drain_s(10.0, ends, cum, 6000))
        self.assertIsNone(stats.drain_s(13.0, ends, cum, 5000))

    def test_ingest_rate_between_batches(self):
        ends = [1.0, 2.0, 3.0, 4.0]
        cum = [0, 1000, 2500, 4000]
        self.assertEqual(stats.ingest_rate(ends, cum, 1.5, 4.0), 1500.0)
        self.assertIsNone(stats.ingest_rate(ends, cum, 3.5, 4.0))


class FailureCounting(unittest.TestCase):
    def test_failures_are_counted_and_named(self):
        oc = stats.Outcomes()
        oc.record("a", True)
        oc.record("b", False, "wrong rows")
        oc.record("b", False, "wrong rows")
        oc.record("c", False, "error", n=3)
        oc.record("d", True, n=3)
        self.assertEqual(oc.attempted, 9)
        self.assertEqual(oc.n_failed, 5)
        self.assertEqual(oc.failed["b"], [2, "wrong rows"])
        self.assertAlmostEqual(oc.failed_frac, 5 / 9)

    def test_nothing_attempted_is_all_failed(self):
        self.assertEqual(stats.Outcomes().failed_frac, 1.0)


if __name__ == "__main__":
    unittest.main()
