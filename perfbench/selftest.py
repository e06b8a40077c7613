"""Self-tests for the benchmark's own arithmetic (no Spark session needed).

    python3 perfbench/selftest.py        (or: python3 -m pytest perfbench/selftest.py)
"""

from __future__ import annotations

import os
import sys
import unittest
from types import SimpleNamespace

sys.path[:0] = [os.path.dirname(os.path.abspath(__file__))]

import machine  # noqa: E402
import sparkstats  # noqa: E402
from spans import (Span, Tracer, driver_time, layer_of, layer_report, own_job_ids,  # noqa: E402
                   percentile, self_time, slot_idle_frac, subtree_job_ids, tail_percentile,
                   tracer_owned, union_length)


def span(sid, name, start, end, parent=None, jobs=(0, 0), call_end=None, call_jobs=None):
    s = Span(sid, name, parent, start, jobs[0], end=end, job_hi=jobs[1])
    if call_end is not None:
        s.call_end, s.call_job_hi = call_end, call_jobs
    return s


def job(cpu=0.0, run=0.0, submit=0.0, end=0.0, shuffle=0, spill=0, failed=0):
    return SimpleNamespace(cpu_s=cpu, run_s=run, submit_s=submit, end_s=end,
                           shuffle_write_bytes=shuffle, spill_bytes=spill, failed_tasks=failed)


class TailPercentile(unittest.TestCase):
    def test_ten_samples_beyond(self):
        self.assertEqual(tail_percentile(100), 90)
        self.assertEqual(tail_percentile(1000), 99)
        self.assertEqual(tail_percentile(40), 75)
        # 25 samples: p60 leaves exactly 10 above it
        self.assertEqual(tail_percentile(25), 60)

    def test_never_below_median(self):
        for n in (1, 2, 10, 19, 20):
            self.assertEqual(tail_percentile(n), 50)

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            tail_percentile(0)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(percentile(xs, 50), 50)
        self.assertEqual(percentile(xs, 90), 90)
        self.assertEqual(percentile([3.0], 99), 3.0)
        self.assertEqual(percentile([4, 1, 3, 2], 50), 2)


class SelfTime(unittest.TestCase):
    def test_union_of_overlapping_intervals(self):
        self.assertAlmostEqual(union_length([(1, 3), (2, 4), (6, 7)], 0, 10), 4.0)
        self.assertAlmostEqual(union_length([(1, 3), (2, 4)], 2.5, 3.5), 1.0)
        self.assertAlmostEqual(union_length([(5, 6)], 0, 4), 0.0)
        self.assertAlmostEqual(union_length([], 0, 4), 0.0)

    def test_overlapping_children_counted_once(self):
        parent = span(0, "webtext.pipeline.run_quality_pipeline", 0.0, 10.0)
        kids = [span(1, "a", 1.0, 4.0, 0), span(2, "b", 3.0, 5.0, 0), span(3, "c", 9.0, 12.0, 0)]
        # covered: [1, 5] and [9, 10] -> 5 s; self = 10 - 5
        self.assertAlmostEqual(self_time(parent, kids), 5.0)

    def test_no_children(self):
        self.assertAlmostEqual(self_time(span(0, "x", 2.0, 3.5), []), 1.5)


class SlotIdle(unittest.TestCase):
    def test_fraction(self):
        self.assertAlmostEqual(slot_idle_frac(2.0, 1.0, 4), 0.5)
        self.assertAlmostEqual(slot_idle_frac(0.0, 3.0, 4), 1.0)

    def test_clamped_and_degenerate(self):
        self.assertEqual(slot_idle_frac(10.0, 1.0, 4), 0.0)
        self.assertEqual(slot_idle_frac(1.0, 0.0, 4), 0.0)


class ProcStat(unittest.TestCase):
    SAMPLE = ("cpu  100 5 50 800 20 1 2 30 0 0\n"
              "cpu0 50 2 25 400 10 0 1 15 0 0\n"
              "intr 12345\n")

    def test_parse(self):
        total, steal, iowait = machine.parse_proc_stat(self.SAMPLE)
        self.assertEqual((total, steal, iowait), (1008, 30, 20))

    def test_window(self):
        w = machine.window_pct((1000, 10, 5), (2000, 60, 15))
        self.assertAlmostEqual(w["steal_pct"], 5.0)
        self.assertAlmostEqual(w["iowait_pct"], 1.0)

    def test_missing_line(self):
        with self.assertRaises(ValueError):
            machine.parse_proc_stat("intr 1\n")

    def test_live_snapshot_is_monotone(self):
        a = machine.stat_snapshot()
        b = machine.stat_snapshot()
        self.assertGreaterEqual(b[0], a[0])


class Machine(unittest.TestCase):
    def test_heap_bounds(self):
        g = machine.GIB
        self.assertEqual(machine.driver_heap_gib(1 * g), 1)
        self.assertEqual(machine.driver_heap_gib(9 * g), 3)
        self.assertEqual(machine.driver_heap_gib(64 * g), 6)

    def test_rss_of_this_process(self):
        self.assertGreater(machine.tree_rss_bytes(os.getpid()), 0)


class SqlMetric(unittest.TestCase):
    def test_forms(self):
        self.assertEqual(sparkstats.parse_sql_metric("1,234"), 1234.0)
        self.assertAlmostEqual(sparkstats.parse_sql_metric("21 ms"), 0.021)
        self.assertEqual(sparkstats.parse_sql_metric("0.0 B"), 0.0)
        text = ("total (min, med, max (stageId: taskId))\n"
                "795.2 KiB (198.8 KiB, 198.8 KiB, 198.8 KiB (stage 2.0: task 5))")
        self.assertAlmostEqual(sparkstats.parse_sql_metric(text), 795.2 * 1024)
        text = "total (min, med, max (stageId: taskId))\n5.3 s (1.3 s, 1.3 s, 1.3 s (stage 2.0: task 5))"
        self.assertAlmostEqual(sparkstats.parse_sql_metric(text), 5.3)

    def test_garbage(self):
        with self.assertRaises(ValueError):
            sparkstats.parse_sql_metric("n/a")


class Attribution(unittest.TestCase):
    def test_layer_names(self):
        self.assertEqual(layer_of("webtext.features.with_fused_features"), "webtext.features")
        self.assertEqual(layer_of("probe:operators.buddy_check"), "operators")
        self.assertEqual(layer_of("pipeline.QCDataset.apply"), "pipeline")
        self.assertIsNone(layer_of("op"))
        self.assertIsNone(layer_of("trace.count"))

    def test_own_jobs_split_and_children(self):
        s = span(0, "p", 0, 10, jobs=(0, 10), call_end=4, call_jobs=5)
        child = span(1, "c", 1, 2, 0, jobs=(2, 4))
        call, exe = own_job_ids(s, [child])
        self.assertEqual(call, {0, 1, 4})
        self.assertEqual(exe, {5, 6, 7, 8, 9})

    def test_subtree_and_tracer_owned(self):
        s = span(0, "textops.dedup.ngram_jaccard_pairs_lsh", 0, 10, jobs=(0, 6))
        count = span(1, "trace.count", 8, 9, 0, jobs=(4, 6))
        under = span(2, "textops.dedup.minhash_signatures", 8, 9, 1, jobs=(4, 5))
        self.assertEqual(subtree_job_ids(s, [count]), {0, 1, 2, 3})
        self.assertEqual(tracer_owned([s, count, under]), {1, 2})

    def test_layer_report(self):
        spans = [
            span(0, "op", 0, 20, jobs=(0, 10)),
            # outer checkpoint call runs job 0 itself and job 1 inside the pipeline
            span(1, "webtext.checkpoint.run_partitioned", 0, 8, 0, jobs=(0, 3)),
            span(2, "webtext.pipeline.run_quality_pipeline", 1, 5, 1, jobs=(1, 2)),
            # nested call of the same layer: its time is not added to call_s twice
            span(3, "webtext.pipeline.run_quality_pipeline", 2, 3, 2, jobs=(1, 1)),
            # probe: call part in the wrapped span, execution part (job 4) own
            span(4, "probe:webtext.features.with_fused_features", 10, 14, 0, jobs=(3, 6),
                 call_end=11, call_jobs=4),
            span(5, "webtext.features.with_fused_features", 10, 11, 4, jobs=(3, 4)),
            # tracer overhead: never counted
            span(6, "trace.count", 13, 14, 4, jobs=(5, 6)),
        ]
        jobs = {i: job(cpu=1.0 + i, run=2.0) for i in range(6)}
        r = layer_report(spans, jobs, cores=4, n_ops=2)
        ck, pl, ft = r["webtext.checkpoint"], r["webtext.pipeline"], r["webtext.features"]
        self.assertAlmostEqual(ck["call_s"], 8 / 2)
        self.assertAlmostEqual(ck["self_s"], (8 - 4) / 2)
        self.assertEqual(ck["jobs"], 2 / 2)  # jobs 0 and 2; job 1 ran inside the pipeline
        self.assertAlmostEqual(pl["call_s"], 4 / 2)
        self.assertAlmostEqual(pl["self_s"], (3 + 1) / 2)
        self.assertEqual(pl["jobs"], 1 / 2)
        self.assertAlmostEqual(pl["executor_cpu_s"], 2.0 / 2)
        self.assertAlmostEqual(ft["call_s"], 1 / 2)
        self.assertAlmostEqual(ft["exec_s"], (3 - 1) / 2)
        self.assertEqual(ft["jobs"], 2 / 2)  # job 3 (call) and 4 (execution); 5 is the tracer's
        self.assertAlmostEqual(ft["executor_cpu_s"], (5.0 + 4.0) / 2)
        # features own time: 1 s call + 2 s probe execution, with 2 s run time each
        self.assertAlmostEqual(ft["slot_idle_frac"], 1 - 4.0 / (3.0 * 4))

    def test_driver_time(self):
        s = span(0, "webtext.perplexity.perplexity_outlier_check", 100.0, 110.0, jobs=(0, 3))
        jobs = {0: job(submit=101, end=103), 1: job(submit=102, end=104), 2: job(submit=109, end=115)}
        # covered [101, 104] and [109, 110] -> 4 s of 10
        self.assertAlmostEqual(driver_time(s, jobs), 6.0)


class TracerRecords(unittest.TestCase):
    def test_nesting_and_counts(self):
        t = [0.0]
        jobs = [0]

        def clock():
            t[0] += 1.0
            return t[0]

        tr = Tracer(clock, lambda: jobs[0])

        def work(x):
            jobs[0] += 2
            return x

        wrapped = tr.wrap("textops.dedup.minhash_lsh_candidates", work,
                          lambda a, k, r: (jobs.__setitem__(0, jobs[0] + 1), 7)[1])
        with tr.span("op"):
            self.assertEqual(wrapped(5), 5)
        op, call, count = tr.spans
        self.assertEqual((call.parent, count.parent), (op.sid, call.sid))
        self.assertEqual(call.attrs["rows"], 7)
        self.assertEqual((call.job_lo, call.job_hi), (0, 3))
        self.assertEqual((count.job_lo, count.job_hi), (2, 3))
        self.assertTrue(op.start < call.start < count.start < count.end < call.end < op.end)


class Scores(unittest.TestCase):
    def test_f1_and_families(self):
        import importlib.util

        if importlib.util.find_spec("pyspark") is None:
            self.skipTest("pyspark not installed")
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        sys.path.insert(0, root)
        import workloads

        self.assertEqual(workloads.f1(set(), set()), 1.0)
        self.assertEqual(workloads.f1({1}, set()), 0.0)
        self.assertAlmostEqual(workloads.f1({1, 2}, {2, 3}), 0.5)
        self.assertEqual(workloads.family_pairs([(1, 5), (1, 7), (2, 9)]),
                         {(1, 5), (1, 7), (5, 7), (2, 9)})


if __name__ == "__main__":
    unittest.main()
