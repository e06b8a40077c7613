"""Readers over Spark's in-process status stores. All of them work with
``spark.ui.enabled=false``: the app status store (jobs, stages) and the SQL
status store (per-operator metrics) are live regardless of the UI.

Job ids are handed out synchronously when an action submits a job, so the
benchmark brackets any interval with :func:`next_job_id` and reads the jobs
in that id range after the listener bus has drained. Spans therefore select
jobs by id range; that also covers the jobs a streaming query launches
under its own job group.
"""

from __future__ import annotations

import re
from dataclasses import dataclass


def next_job_id(sc) -> int:
    return int(sc._jsc.sc().dagScheduler().nextJobId())


def drain_listener_bus(sc, timeout_ms: int = 60_000) -> None:
    sc._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


def persistent_rdds(sc) -> dict:
    out = {}
    it = sc._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        kv = it.next()
        out[int(kv._1())] = kv._2()
    return out


def free_new_rdds(sc, before: set) -> int:
    """Unpersist (blocking) every persistent RDD not in ``before`` — the
    checkpoint and cache blocks a call left behind — and return how many
    remain registered afterwards (0 unless unpersist failed: a leak)."""
    for rdd_id, rdd in persistent_rdds(sc).items():
        if rdd_id not in before:
            rdd.unpersist(True)
    return len(set(persistent_rdds(sc)) - before)


@dataclass
class JobInfo:
    submit_s: float  # epoch seconds
    end_s: float
    failed_tasks: int
    run_s: float = 0.0  # executor run time of the stages this job ran
    cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0


def _opt_ms(opt) -> float:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else 0.0


def read_jobs(sc, lo: int, hi: int) -> dict[int, JobInfo]:
    """Jobs with id in [lo, hi) and the stages they ran. A shuffle stage
    reused by a later job is listed by both; its metrics go to the first
    (the one that ran it; later jobs skip it)."""
    drain_listener_bus(sc)
    st = sc._jsc.sc().statusStore()
    out: dict[int, JobInfo] = {}
    seen_stages: set[int] = set()
    for jid in range(lo, hi):
        try:
            j = st.job(jid)
        except Exception:  # py4j error: job evicted or never registered
            continue
        info = JobInfo(_opt_ms(j.submissionTime()), _opt_ms(j.completionTime()),
                       int(j.numFailedTasks()))
        it = j.stageIds().iterator()
        while it.hasNext():
            sid = int(it.next())
            if sid in seen_stages:
                continue
            seen_stages.add(sid)
            try:
                s = st.lastStageAttempt(sid)
            except Exception:  # py4j error: a skipped stage that never ran
                continue
            info.run_s += s.executorRunTime() / 1e3
            info.cpu_s += s.executorCpuTime() / 1e9
            info.shuffle_write_bytes += int(s.shuffleWriteBytes())
            info.spill_bytes += int(s.diskBytesSpilled())
            info.output_bytes += int(s.outputBytes())
        out[jid] = info
    return out


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9}
_VALUE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def parse_sql_metric(text: str) -> float:
    """Total of a SQL metric as the SQL status store renders it: either a
    bare value ('1,234', '21 ms', '0.0 B') or a 'total (min, med, max ...)'
    header followed by the total on the second line."""
    line = text.split("\n")[1] if text.startswith("total") and "\n" in text else text
    m = _VALUE.match(line.strip())
    if not m:
        raise ValueError(f"unparseable SQL metric: {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


PYTHON_METRICS = {
    "time to start Python workers": "python_worker_start_s",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
}


def python_metrics_by_job(spark, job_ids: set[int]) -> dict[int, dict[str, float]]:
    """Python-UDF boundary metrics of the SQL executions that ran any of
    ``job_ids``, keyed by the execution's first job id."""
    sc = spark.sparkContext
    drain_listener_bus(sc)
    sql = spark._jsparkSession.sharedState().statusStore()
    out: dict[int, dict[str, float]] = {}
    it = sql.executionsList().iterator()
    while it.hasNext():
        e = it.next()
        ran = sorted(int(k) for k in _scala_keys(e.jobs()))
        if not ran or not job_ids.intersection(ran):
            continue
        totals = dict.fromkeys(PYTHON_METRICS.values(), 0.0)
        values = sql.executionMetrics(e.executionId())
        ms = e.metrics().iterator()
        while ms.hasNext():
            m = ms.next()
            key = PYTHON_METRICS.get(m.name())
            if key is None:
                continue
            v = values.get(m.accumulatorId())
            if v.isDefined():
                totals[key] += parse_sql_metric(v.get())
        out[ran[0]] = totals
    return out


def _scala_keys(scala_map):
    it = scala_map.keysIterator()
    while it.hasNext():
        yield it.next()
