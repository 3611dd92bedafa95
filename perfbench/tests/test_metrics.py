"""Tests of the benchmark's own arithmetic: percentiles and the tail
rule, span self time, failure counting and the metric record.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402


def span(i, name, parent, start, end):
    return {"id": i, "name": name, "parent": parent, "start_ms": start, "end_ms": end}


def job(span_id, start, end, **kw):
    j = {"span": span_id, "start_ms": start, "end_ms": end, "stages": 1, "tasks": 4,
         "cpu_ms": 0.0, "gc_ms": 0, "sched_delay_ms": 0, "shuffle_write_bytes": 0}
    j.update(kw)
    return j


def raw_run(commits=(4000.0, 3100.0, 3200.0), checks_ok=True, failed=0):
    return {
        "setup_ms": 20500.0, "commits": [{"ms": c, "rows": 100000} for c in commits],
        "commit_loop_ms": sum(commits), "rows_committed": 100000 * len(commits),
        "table_rows_committed": 100000 * len(commits),
        "live_bytes": 41700000,
        "read_resolve_ms": 35.0, "read_scan_ms": 475.0,
        "read_files": 384, "read_join_exchanges": 0,
        "heap_after_gc_mb": [60.0, 70.5, 65.0],
        "checks": [{"name": "c", "ok": checks_ok, "detail": ""}],
        "attempted": 20, "failed": failed, "layers": {}, "spans": [], "jobs": [],
    }


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        s = list(range(1, 101))
        self.assertEqual(metrics.nearest_rank(s, 50), 50)
        self.assertEqual(metrics.nearest_rank(s, 90), 90)
        self.assertEqual(metrics.nearest_rank([7.0], 99), 7.0)

    def test_tail_keeps_ten_samples_beyond(self):
        self.assertEqual(metrics.tail(list(range(1, 101))), (90, 90))
        self.assertEqual(metrics.tail(list(range(1, 201))), (95, 190))
        pct, value = metrics.tail(list(range(1, 21)))
        self.assertEqual((pct, value), (50, 10))
        self.assertGreaterEqual(20 - value, 10)

    def test_tail_of_few_samples_is_the_maximum(self):
        self.assertEqual(metrics.tail([3.0, 9.0, 4.0]), (100, 9.0))
        self.assertEqual(metrics.tail([5.0] * 10), (100, 5.0))

    def test_spread_is_iqr_over_median(self):
        self.assertAlmostEqual(metrics.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]),
                               (8.25 - 2.75) / 5.5)


class SelfTimeTest(unittest.TestCase):
    def test_children_and_jobs_are_subtracted_once(self):
        spans = [span(1, "commit", 0, 0.0, 100.0), span(2, "inner", 1, 10.0, 30.0)]
        jobs = [job(1, 20.0, 50.0), job(1, 70.0, 80.0), job(2, 25.0, 28.0)]
        selfs = metrics.self_times(spans, jobs)
        # the inner span and the first job overlap: covered = [10, 50] + [70, 80]
        self.assertAlmostEqual(selfs[1], 50.0)
        self.assertAlmostEqual(selfs[2], 17.0)

    def test_children_are_clipped_to_the_parent(self):
        self.assertAlmostEqual(metrics.union_ms([(-5.0, 5.0), (8.0, 20.0)], 0.0, 10.0), 7.0)

    def test_unfinished_jobs_are_ignored(self):
        selfs = metrics.self_times([span(1, "q", 0, 0.0, 10.0)], [job(1, 2.0, -1)])
        self.assertEqual(selfs[1], 10.0)

    def test_per_layer_commit_driver_time(self):
        raw = raw_run()
        raw["spans"] = [span(1, "timed", 0, 0.0, 10000.0),
                        span(2, "commit", 1, 0.0, 4000.0),
                        span(3, "commit", 1, 4000.0, 7100.0)]
        raw["jobs"] = [job(2, 500.0, 3500.0, cpu_ms=4000.0),
                       job(3, 4100.0, 6100.0, cpu_ms=4000.0, sched_delay_ms=7)]
        layer = metrics.per_layer(raw)
        self.assertEqual(layer["commit.driver_ms"], (1000.0 + 1100.0) / 2)
        self.assertEqual(layer["commit.jobs"], 1)
        self.assertAlmostEqual(layer["spark.cpu_util"], 8000.0 / (10000.0 * 4))
        self.assertAlmostEqual(layer["commit.growth"], 3200.0 / 4000.0)


class ErrorCountTest(unittest.TestCase):
    def test_error_rate(self):
        self.assertEqual(metrics.error_rate(40, 0), 0.0)
        self.assertEqual(metrics.error_rate(10, 1), 0.1)
        self.assertEqual(metrics.error_rate(0, 0), 1.0)

    def test_a_failed_check_makes_the_run_incorrect(self):
        rec = metrics.record(raw_run(checks_ok=False, failed=1), trace=False)
        self.assertFalse(rec["correct"])
        self.assertEqual((rec["attempted"], rec["failed"]), (20, 1))

    def test_a_failed_operation_makes_the_run_incorrect(self):
        self.assertFalse(metrics.record(raw_run(failed=2), trace=False)["correct"])


class RecordTest(unittest.TestCase):
    def test_untraced_record_round_trip(self):
        rec = metrics.record(raw_run(), trace=False)
        self.assertTrue(rec["correct"])
        back = metrics.loads(metrics.dumps(rec))
        self.assertEqual(back, rec)
        self.assertEqual(list(back["metrics"]), list(metrics.END_TO_END))
        m = back["metrics"]
        self.assertEqual(m["setup_s"], {"value": 20.5, "unit": "s"})
        self.assertEqual(m["commit_ms_p50"]["value"], 3200.0)
        self.assertEqual(m["commit_ms_tail"]["value"], 4000.0)
        self.assertAlmostEqual(m["committed_rows_per_s"]["value"], 300000 / 10.3)
        self.assertAlmostEqual(m["stored_bytes_per_row"]["value"], 139.0)
        self.assertEqual(m["live_heap_peak_mb"]["value"], 70.5)

    def test_traced_record_has_every_layer_metric(self):
        rec = metrics.loads(metrics.dumps(metrics.record(raw_run(), trace=True)))
        self.assertEqual(list(rec["metrics"]), list(metrics.PER_LAYER))
        self.assertEqual(rec["metrics"]["dedup.mark_seen_ms"]["value"], 0.0)

    def test_record_keys_are_checked(self):
        with self.assertRaises(ValueError):
            metrics.loads('{"correct": true, "metrics": {}}')

    def test_overhead_against_untraced_runs(self):
        base = [metrics.record(raw_run(commits=(c, c, c)), trace=False) for c in (3000.0, 3100.0, 3200.0)]
        over = metrics.overhead({"commit_ms_p50": 3410.0}, base)
        self.assertAlmostEqual(over["commit_ms_p50"]["share"], 0.1)
        self.assertEqual(over["commit_ms_p50"]["runs"], 3)


if __name__ == "__main__":
    unittest.main()
