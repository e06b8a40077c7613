"""Benchmark of titanlib_spark on local[nproc/2]: two workloads through the
library's public API, outputs checked against planted labels.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the repository root. Workloads: webtext_batch, qc_dedup (see
BENCHMARK.json for why each exists).

One run:
  1. generate the seeded inputs (cached under .perfbench/cache, not timed);
  2. set up once — build the session (starting the JVM), load the inputs,
     run the workload's warm-up operations — and report the time as
     ``setup_s``. A second set-up would need a second JVM: its cold start
     and warm-up cost more than the measured window, so the set-up median
     is taken across runs instead;
  3. run operations back to back until ``--seconds`` of operation time has
     passed (at least ``MIN_OPS``); check every operation's output.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` every other operation runs with each listed layer
function wrapped in a span and is followed by probes that call each layer
alone; the last line carries the per-layer metrics and the tracing
overhead (traced against untraced operation wall).
The full record (machine sizing, steal/iowait per window, spans) is
written to .perfbench/out/. Exit status is 0 only when every operation
succeeded and every output check met its floor.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
MIN_OPS = 2
TRACED_OPS = 1  # its layer probes cost about as much as a second set-up
KB = 1024


def _fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _environment() -> None:
    """Confine scratch files to the checkout and make the library and the
    benchmark's modules importable."""
    if not os.path.isdir(os.path.join(ROOT, "titanlib_spark")):
        _fail(f"no titanlib_spark package under {ROOT}; run from the repository root")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    sys.path[:0] = [ROOT, HERE]


def _median(xs):
    return statistics.median(xs) if xs else math.nan


class Run:
    def __init__(self, args):
        import machine
        import workloads

        self.machine = machine
        self.conf = machine.session_conf(WORK)
        self.cores = machine.slots()
        self.spark = None
        self.workload = workloads.WORKLOADS[args.workload](
            args.seed, os.path.join(WORK, "work"), os.path.join(WORK, "cache"))
        self.attempted = 0
        self.failed = 0
        self.scores: list[float] = []
        self.errors: list[str] = []

    # -- session and set-up -------------------------------------------------
    def start_session(self) -> float:
        from titanlib_spark import session

        extra = {k: v for k, v in self.conf.items() if k != "master"}
        t0 = time.perf_counter()
        self.spark = session.get_spark("perfbench", master=self.conf["master"],
                                       shuffle_partitions=int(extra["spark.sql.shuffle.partitions"]),
                                       extra_conf=extra)
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def setup(self) -> dict:
        """Build the session (starting the JVM), load the inputs and run the
        workload's warm-up operations, which pay the JVM's JIT, code
        generation and Python worker start. Returns the timings."""
        m = self.machine
        snap0 = m.stat_snapshot()
        t0 = time.perf_counter()
        start = self.start_session()
        t1 = time.perf_counter()
        self.workload.load(self.spark)
        t2 = time.perf_counter()
        for k in range(self.workload.warmup_ops):
            self.operation(-k, timed=False)
        t3 = time.perf_counter()
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        return {"setup_s": t3 - t0, "get_spark_s": start, "load_s": t2 - t1,
                "warmup_s": t3 - t2, **m.window_pct(snap0, m.stat_snapshot())}

    def stop(self) -> None:
        """Stop the session and the JVM, and wait for the JVM and its Python
        workers to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = gateway.proc
        pids = [proc.pid, *self.machine.descendants(proc.pid)]
        self.spark.stop()
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        for pid in self.machine.wait_gone(pids, 30):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass
        self.spark = None

    # -- one operation --------------------------------------------------------
    def operation(self, k: int, timed: bool = True):
        """Run operation ``k``, free what it left persisted, check its output.
        Returns (wall seconds, (first job id, next job id)), or None when it
        failed."""
        from sparkstats import free_new_rdds, next_job_id, persistent_rdds

        w, sc = self.workload, self.spark.sparkContext
        before = set(persistent_rdds(sc))
        if timed:
            self.attempted += 1
        j0 = next_job_id(sc)
        t0 = time.perf_counter()
        try:
            result = w.op(self.spark, k)
            wall = time.perf_counter() - t0
            j1 = next_job_id(sc)
        except Exception:
            self._error(f"operation {k} failed", timed)
            free_new_rdds(sc, before)
            return None
        leaked = free_new_rdds(sc, before)
        try:
            score = w.check(self.spark, result)
        except Exception:
            self._error(f"operation {k}: output check raised", timed)
            return None
        if leaked:
            self._error(f"operation {k}: {leaked} persistent RDDs survived unpersist", timed,
                        with_tb=False)
            return None
        if timed:
            self.scores.append(score)
            if score < w.f1_floor:
                self._error(f"operation {k}: output F1 {score:.4f} below floor {w.f1_floor}",
                            timed, with_tb=False)
                return None
        return wall, (j0, j1)

    def _error(self, msg: str, timed: bool, with_tb: bool = True) -> None:
        if timed:
            self.failed += 1
        text = msg + ("\n" + traceback.format_exc() if with_tb else "")
        self.errors.append(text)
        print(f"perfbench: {text}", file=sys.stderr)

    def window(self, seconds: float, tracer=None) -> dict:
        """Operations back to back until ``seconds`` of untraced operation
        time (at least MIN_OPS). With a tracer, the first TRACED_OPS
        even-numbered operations run traced, each with its layer probes after
        it, between untraced ones that see the same JVM warm-up state."""
        m = self.machine
        walls, ranges, traced, k = [], [], [], 1
        snap0 = m.stat_snapshot()
        with m.RssSampler(self.jvm_pid) as rss:
            while (sum(walls) < seconds or len(walls) < MIN_OPS
                   or (tracer is not None and len(traced) < TRACED_OPS)):
                if k > 4 * MIN_OPS and not walls:
                    break  # every attempt failing: stop early
                if tracer is None or k % 2 or len(traced) >= TRACED_OPS:
                    r = self.operation(k)
                    if r is not None:
                        walls.append(r[0])
                        ranges.append(r[1])
                else:
                    with installed(tracer), tracer.span("op", k=k):
                        r = self.operation(k)
                        if r is not None:
                            self.probe()
                    if r is not None:
                        traced.append(r[0])
                k += 1
        return {"walls": walls, "traced_walls": traced, "job_ranges": ranges,
                "peak_rss_bytes": rss.peak, "peak_jvm_rss_bytes": rss.peak_root,
                **m.window_pct(snap0, m.stat_snapshot())}

    def probe(self) -> None:
        """Run the workload's layer probes, then free what they persisted."""
        from sparkstats import free_new_rdds, persistent_rdds

        sc = self.spark.sparkContext
        before = set(persistent_rdds(sc))
        self.attempted += 1
        try:
            self.workload.probes(self.spark, self.tracer)
        except Exception:
            self._error("layer probe failed", True)
        free_new_rdds(sc, before)

    def cpu_per_op(self, ranges) -> list[float]:
        """Executor CPU seconds of each operation's jobs."""
        from sparkstats import read_jobs

        if not ranges:
            return []
        jobs = read_jobs(self.spark.sparkContext, ranges[0][0], ranges[-1][1])
        return [sum(j.cpu_s for jid, j in jobs.items() if lo <= jid < hi) for lo, hi in ranges]


def end_to_end(run: Run, setup: dict, win: dict) -> dict:
    from spans import percentile, tail_percentile

    w = run.workload
    walls = win["walls"]
    tail_p = tail_percentile(len(walls)) if walls else 50
    return {
        "setup_s": (setup["setup_s"], "s"),
        "wall_s": (_median(walls), "s"),
        "rows_per_s": (w.rows_per_op * len(walls) / sum(walls) if walls else 0.0, "1/s"),
        "executor_cpu_s": (_median(win["cpus"]), "s"),
        "output_f1": (min(run.scores) if run.scores else 0.0, "ratio"),
        "success_rate": ((run.attempted - run.failed) / max(run.attempted, 1), "ratio"),
    }, {"latency_p50_s": percentile(walls, 50) if walls else None,
        "latency_tail_s": percentile(walls, tail_p) if walls else None,
        "tail_percentile": tail_p, "samples": len(walls)}


# ---------------------------------------------------------------------------
# traced run


@contextmanager
def installed(tracer):
    """Wrap each listed public function in a span, in every loaded module
    that holds it (callers that imported it by name included), for the
    duration of the block."""
    import workloads

    undo = []
    try:
        for mod_name, attr, span_name, counter in workloads.TRACED_FUNCTIONS:
            orig = getattr(importlib.import_module(mod_name), attr)
            wrapped = tracer.wrap(span_name, orig, counter)
            for mod in list(sys.modules.values()):
                name = getattr(mod, "__name__", "") or ""
                if not (name.startswith("titanlib_spark") or name == "workloads"):
                    continue
                if getattr(mod, attr, None) is orig:
                    setattr(mod, attr, wrapped)
                    undo.append((mod, attr, orig))
        for span_name, cls, attr in workloads.TRACED_METHODS:
            orig = getattr(cls, attr)
            setattr(cls, attr, tracer.wrap(span_name, orig))
            undo.append((cls, attr, orig))
        yield
    finally:
        for obj, attr, orig in reversed(undo):
            setattr(obj, attr, orig)


def per_layer(run: Run, tracer, n_ops: int, untraced_walls, traced_walls, setup,
              peak_rss_bytes: int) -> dict:
    from sparkstats import python_metrics_by_job, read_jobs
    from spans import (LAYERS, children_of, driver_time, layer_report, subtree_job_ids,
                       tracer_owned)

    spans = tracer.spans
    sc = run.spark.sparkContext
    lo = min(s.job_lo for s in spans)
    hi = max(s.job_hi for s in spans)
    jobs = read_jobs(sc, lo, hi)
    feature_jobs = {j for s in spans if s.name.endswith("with_fused_features")
                    for j in range(s.job_lo, s.job_hi)}
    py = python_metrics_by_job(run.spark, feature_jobs)
    kids = children_of(spans)
    skip = tracer_owned(spans)
    report = layer_report(spans, jobs, run.cores, n_ops)
    out = {}
    units = {"call_s": "s", "exec_s": "s", "self_s": "s", "jobs": "count", "executor_cpu_s": "s",
             "shuffle_write_bytes": "bytes", "spill_bytes": "bytes", "slot_idle_frac": "ratio"}
    for layer in LAYERS:
        for key, unit in units.items():
            out[f"{layer}.{key}"] = (report[layer][key], unit)
    out["failed_tasks"] = (sum(report[layer]["failed_tasks"] for layer in LAYERS), "count")

    def named(name, probe=True):
        return [s for s in spans if s.sid not in skip and
                (s.name == name or (probe and s.name == "probe:" + name))]

    def fn_totals(name):
        """Jobs, execution time and executor CPU of one function per op:
        its call spans (subtree) plus its probes' execution parts."""
        ids, exec_s = set(), 0.0
        for s in named(name):
            ids |= subtree_job_ids(s, kids[s.sid])
            if s.name.startswith("probe:"):  # the call part is the wrapped span's
                ids -= set(range(s.job_lo, s.call_job_hi))
                exec_s += s.exec_s
        return {"jobs": len([j for j in ids if j in jobs]) / n_ops, "exec_s": exec_s / n_ops,
                "executor_cpu_s": sum(jobs[j].cpu_s for j in ids if j in jobs) / n_ops}

    def python_totals(name):
        tot = {"python_worker_start_s": 0.0, "python_bytes_sent": 0.0, "python_bytes_received": 0.0}
        for s in named(name):
            for jid in range(s.call_job_hi if s.name.startswith("probe:") else s.job_lo, s.job_hi):
                for k, v in py.get(jid, {}).items():
                    tot[k] += v
        return {k: v / n_ops for k, v in tot.items()}

    def rows(name):
        return sum(s.attrs.get("rows", 0) for s in named(name, probe=True)) / n_ops

    def verified_per_candidate(parent, child):
        ver = cand = 0
        for s in named(parent, probe=False):
            inner = [c for c in kids[s.sid] if c.name == child and "rows" in c.attrs]
            if "rows" in s.attrs and inner:
                ver += s.attrs["rows"]
                cand += sum(c.attrs["rows"] for c in inner)
        return ver / cand if cand else 0.0

    for k, v in python_totals("webtext.features.with_fused_features").items():
        out[f"webtext.features.{k}"] = (v, "s" if k.endswith("_s") else "bytes")
    for layer, fn in (("webtext.pipeline", "run_quality_pipeline"),
                      ("webtext.perplexity", "perplexity_outlier_check")):
        d = sum(driver_time(s, jobs) for s in named(f"{layer}.{fn}", probe=False))
        out[f"{layer}.driver_s"] = (d / n_ops, "s")
    ck = named("webtext.checkpoint.run_partitioned", probe=False)
    out["webtext.checkpoint.bytes_written"] = (
        sum(jobs[j].output_bytes for s in ck for j in subtree_job_ids(s, kids[s.sid]) if j in jobs)
        / n_ops, "bytes")
    files = getattr(run.workload, "files_written", None)
    out["webtext.checkpoint.files_written"] = (_median(files) if files else 0, "count")
    prog = getattr(run.workload, "progress", [])
    dur = lambda key: _median([p["durationMs"].get(key, 0) / 1e3 for p in prog]) if prog else 0.0
    state = (prog[-1].get("stateOperators") or [{}])[0] if prog else {}
    out["streaming.pipeline.add_batch_s"] = (dur("addBatch"), "s")
    out["streaming.pipeline.query_planning_s"] = (dur("queryPlanning"), "s")
    out["streaming.pipeline.state_rows_total"] = (state.get("numRowsTotal", 0), "count")
    out["streaming.pipeline.state_memory_bytes"] = (state.get("memoryUsedBytes", 0), "bytes")
    out["functions.geo.neighbor_pairs.pairs"] = (rows("functions.geo.neighbor_pairs"), "count")
    for op in ("isolation_check", "buddy_check", "sct_resistant"):
        t = fn_totals(f"operators.{op}")
        out[f"operators.{op}.jobs"] = (t["jobs"], "count")
        out[f"operators.{op}.exec_s"] = (t["exec_s"], "s")
        out[f"operators.{op}.executor_cpu_s"] = (t["executor_cpu_s"], "s")
    out["textops.dedup.minhash_signatures.executor_cpu_s"] = (
        fn_totals("textops.dedup.minhash_signatures")["executor_cpu_s"], "s")
    out["textops.dedup.minhash_lsh_candidates.candidates"] = (
        rows("textops.dedup.minhash_lsh_candidates"), "count")
    out["textops.dedup.ngram_jaccard_pairs_lsh.verified_per_candidate"] = (
        verified_per_candidate("textops.dedup.ngram_jaccard_pairs_lsh",
                               "textops.dedup.minhash_lsh_candidates"), "ratio")
    out["textops.similarity.lsh_candidate_pairs.candidates"] = (
        rows("textops.similarity.lsh_candidate_pairs"), "count")
    out["textops.similarity.embedding_near_dup.verified_per_candidate"] = (
        verified_per_candidate("textops.similarity.embedding_near_dup_pairs",
                               "textops.similarity.lsh_candidate_pairs"), "ratio")
    out["session.get_spark.start_s"] = (setup["get_spark_s"], "s")
    # resident memory is a per-layer figure: its run-to-run spread (JVM heap
    # growth, Python worker count) is too wide for a gated metric
    out["peak_rss_mb"] = (peak_rss_bytes / (KB * KB), "MiB")
    out["trace_overhead_frac"] = (
        _median(traced_walls) / _median(untraced_walls) - 1.0
        if traced_walls and untraced_walls else 0.0, "ratio")
    return out


def span_records(spans) -> list[dict]:
    return [{"id": s.sid, "name": s.name, "parent": s.parent, "start": s.start, "end": s.end,
             "call_end": None if math.isnan(s.call_end) else s.call_end,
             "jobs": [s.job_lo, s.job_hi], "attrs": s.attrs} for s in spans]


# ---------------------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    _environment()
    import workloads

    if args.workload not in workloads.WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")

    run = Run(args)
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "session_conf": run.conf,
              "rows_per_op": run.workload.rows_per_op}
    try:
        setup = run.setup()
        record["setup"] = setup
        if args.trace == 0:
            win = run.window(args.seconds)
            win["cpus"] = run.cpu_per_op(win["job_ranges"])
            metrics, tail = end_to_end(run, setup, win)
            record["window"] = {k: v for k, v in win.items() if k != "job_ranges"} | tail
        else:
            from sparkstats import next_job_id
            from spans import Tracer

            sc = run.spark.sparkContext
            tracer = run.tracer = Tracer(time.time, lambda: next_job_id(sc))
            win = run.window(args.seconds, tracer)
            # the overhead compares traced operations with the untraced ones
            # around them, which share their point on the warm-up curve
            metrics = per_layer(run, tracer, max(len(win["traced_walls"]), 1),
                                win["walls"][:TRACED_OPS + 1], win["traced_walls"], setup,
                                win["peak_rss_bytes"])
            record["window"] = {k: v for k, v in win.items() if k != "job_ranges"}
            record["spans"] = span_records(tracer.spans)
    finally:
        run.stop()
    steal, iowait = record["window"]["steal_pct"], record["window"]["iowait_pct"]
    record["metrics"] = {k: {"value": v, "unit": u, "steal_pct": steal, "iowait_pct": iowait}
                         for k, (v, u) in metrics.items()}
    record["metrics"].get("setup_s", {}).update(steal_pct=setup["steal_pct"],
                                                iowait_pct=setup["iowait_pct"])
    record["errors"] = run.errors
    record["diagnostics"] = getattr(run.workload, "diagnostics", None)
    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    correct = run.failed == 0 and run.attempted > 0
    print(json.dumps({k: record[k] for k in ("workload", "seed", "session_conf")}
                     | {"window": record["window"], "record": os.path.relpath(path, ROOT)}))
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
