"""Spans recorded from the benchmark's side of each layer boundary, and the
arithmetic that turns spans and Spark jobs into per-layer metrics.

A span covers one call into a layer's public function. Spark is lazy, so a
span has two parts: the call itself (driver planning plus any job the
function runs eagerly, such as a count or an eager checkpoint) and, for
spans the benchmark materializes, the execution of the returned frame to a
noop sink. ``call_end`` separates them. Jobs are attributed to the innermost
span whose job-id range holds them.

Everything here is covered by selftest.py; all but :class:`Tracer` is pure.
"""

from __future__ import annotations

import functools
import math
from contextlib import contextmanager
from dataclasses import dataclass, field

# Layers are repo modules; span names start with one of these. The session
# layer is measured once per run (session.get_spark.start_s), not by spans.
LAYERS = (
    "webtext.features",
    "webtext.dedup",
    "webtext.perplexity",
    "webtext.pipeline",
    "webtext.checkpoint",
    "streaming.pipeline",
    "pipeline",
    "operators",
    "functions.geo",
    "textops.dedup",
    "textops.similarity",
)


PROBE = "probe:"


def layer_of(name: str) -> str | None:
    name = name[len(PROBE):] if name.startswith(PROBE) else name
    best = None
    for layer in LAYERS:
        if (name == layer or name.startswith(layer + ".")) and (best is None or len(layer) > len(best)):
            best = layer
    return best


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    job_lo: int
    end: float = math.nan
    job_hi: int = -1
    call_end: float = math.nan  # nan: the whole span is the call
    call_job_hi: int = -1
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def call_s(self) -> float:
        return (self.call_end if not math.isnan(self.call_end) else self.end) - self.start

    @property
    def exec_s(self) -> float:
        return 0.0 if math.isnan(self.call_end) else self.end - self.call_end


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of it its children cover (children may
    overlap each other)."""
    return span.dur - union_length([(c.start, c.end) for c in children], span.start, span.end)


def tail_percentile(n: int) -> int:
    """The highest whole percentile with at least 10 of ``n`` samples above
    it; never below the median (50)."""
    if n <= 0:
        raise ValueError("no samples")
    return max(50, math.floor(100.0 * (1.0 - 10.0 / n)))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    return xs[max(0, math.ceil(p / 100.0 * len(xs)) - 1)]


def slot_idle_frac(run_s: float, wall_s: float, cores: int) -> float:
    """1 - executor run time / (wall x cores), clamped to [0, 1]."""
    if wall_s <= 0 or cores <= 0:
        return 0.0
    return min(1.0, max(0.0, 1.0 - run_s / (wall_s * cores)))


def own_job_ids(span: Span, children: list[Span]) -> tuple[set[int], set[int]]:
    """(call-part, exec-part) job ids of ``span`` not inside any child."""
    inner = set()
    for c in children:
        inner.update(range(c.job_lo, c.job_hi))
    split = span.call_job_hi if span.call_job_hi >= 0 else span.job_hi
    call = set(range(span.job_lo, split)) - inner
    exe = set(range(split, span.job_hi)) - inner
    return call, exe


class Tracer:
    """Records spans in memory. ``job_counter`` returns the id the next
    Spark job will get; ``clock`` returns seconds."""

    def __init__(self, clock, job_counter):
        self.clock = clock
        self.job_counter = job_counter
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        s = Span(len(self.spans), name, self._stack[-1] if self._stack else None,
                 self.clock(), self.job_counter(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s.sid)
        try:
            yield s
        finally:
            self._stack.pop()
            s.job_hi = self.job_counter()
            s.end = self.clock()

    def mark_call_end(self, s: Span) -> None:
        s.call_end = self.clock()
        s.call_job_hi = self.job_counter()

    def wrap(self, name: str, fn, count_result=None):
        """``fn`` wrapped in a span. ``count_result(args, kwargs, result)``
        may return a row count of the result; it runs in a ``trace.count``
        child span so its jobs and time never count against the layer."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                result = fn(*args, **kwargs)
                if count_result is not None:
                    with self.span("trace.count"):
                        n = count_result(args, kwargs, result)
                    if n is not None:
                        s.attrs["rows"] = n
            return result

        return traced


def children_of(spans: list[Span]) -> dict[int, list[Span]]:
    """Span id -> its direct children (``spans[i].sid == i``)."""
    out: dict[int, list[Span]] = {s.sid: [] for s in spans}
    for s in spans:
        if s.parent is not None:
            out[s.parent].append(s)
    return out


def tracer_owned(spans: list[Span]) -> set[int]:
    """Ids of ``trace.*`` spans and everything under them: work the tracer
    did for itself (counting results, preparing probe inputs)."""
    owned: set[int] = set()
    for s in spans:  # parents precede children
        if s.name.startswith("trace.") or s.parent in owned:
            owned.add(s.sid)
    return owned


GENERIC = ("call_s", "exec_s", "self_s", "jobs", "executor_cpu_s", "shuffle_write_bytes",
           "spill_bytes", "slot_idle_frac")


def _overhead(children: list[Span]) -> float:
    return sum(c.dur for c in children if c.name == "trace.count")


def layer_report(spans: list[Span], jobs: dict, cores: int, n_ops: int) -> dict:
    """Per-layer totals per operation.

    ``jobs`` maps job id -> object with run_s, cpu_s, shuffle_write_bytes,
    spill_bytes, failed_tasks. call_s sums the outermost span of each layer
    (a layer calling itself is not counted twice); exec_s sums ``probe:``
    spans' execution parts; self_s, jobs and the job metrics use each span's
    own part (children excluded), so nothing is counted twice across
    layers. ``trace.count`` time is tracer overhead and counted nowhere."""
    kids = children_of(spans)
    skip = tracer_owned(spans)
    acc = {layer: dict.fromkeys(GENERIC + ("failed_tasks", "_run_s"), 0.0) for layer in LAYERS}
    for s in spans:
        layer = layer_of(s.name)
        if layer is None or s.sid in skip:
            continue
        a, ch = acc[layer], kids[s.sid]
        parent = spans[s.parent] if s.parent is not None else None
        parent_layer = None if parent is None or parent.name.startswith(PROBE) else layer_of(parent.name)
        if s.name.startswith(PROBE):
            a["exec_s"] += s.exec_s - _overhead(ch)
        elif parent_layer != layer:
            a["call_s"] += s.call_s - _overhead(ch)
        a["self_s"] += self_time(s, ch)
        call_ids, exec_ids = own_job_ids(s, ch)
        own = call_ids | exec_ids
        if s.name.startswith(PROBE):
            own = exec_ids  # the call part belongs to the wrapped function's span
        for jid in own:
            j = jobs.get(jid)
            if j is None:
                continue
            a["jobs"] += 1
            a["executor_cpu_s"] += j.cpu_s
            a["_run_s"] += j.run_s
            a["shuffle_write_bytes"] += j.shuffle_write_bytes
            a["spill_bytes"] += j.spill_bytes
            a["failed_tasks"] += j.failed_tasks
    out = {}
    for layer, a in acc.items():
        a["slot_idle_frac"] = slot_idle_frac(a.pop("_run_s"), a["self_s"], cores)
        out[layer] = {k: (v if k == "slot_idle_frac" else v / n_ops) for k, v in a.items()}
    return out


def subtree_job_ids(span: Span, children: list[Span]) -> set[int]:
    """All job ids in the span's range except tracer-overhead children's."""
    ids = set(range(span.job_lo, span.job_hi))
    for c in children:
        if c.name == "trace.count":
            ids -= set(range(c.job_lo, c.job_hi))
    return ids


def driver_time(span: Span, jobs: dict) -> float:
    """Wall of ``span`` not covered by any of its jobs (driver planning,
    dispatch and waits between jobs)."""
    ivals = [(jobs[j].submit_s, jobs[j].end_s) for j in range(span.job_lo, span.job_hi) if j in jobs]
    return span.dur - union_length(ivals, span.start, span.end)
