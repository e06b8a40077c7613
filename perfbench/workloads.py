"""The workloads. Each runs the library's public API on generated inputs
and scores the outputs against the planted labels.

A workload has:
  make_inputs(seed)   -> (tables, labels)   cached per (workload, seed, size)
  load(spark)         input load; part of set-up
  warmup_ops          operations run in set-up before the measured window
  op(spark, k)        one measured operation, fully executed
  check(result)       output score in [0, 1] (F1 against planted labels)
  probes(tracer)      traced run only: each layer's public function called
                      alone on the workload's input and executed to a noop
                      sink, so lazy layers get an execution time of their own
"""

from __future__ import annotations

import glob
import os
import shutil
import time

from pyspark.sql import functions as F

from titanlib_spark import operators
from titanlib_spark.flags import ensure_flags
from titanlib_spark.functions import geo
from titanlib_spark.pipeline import QCDataset
from titanlib_spark.streaming import pipeline as streaming
from titanlib_spark.textops import dedup as tdedup
from titanlib_spark.textops import similarity
from titanlib_spark.webtext import checkpoint, features, perplexity
from titanlib_spark.webtext import dedup as wdedup
from titanlib_spark.webtext import pipeline as wpipeline

import gen


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def f1(predicted: set, expected: set) -> float:
    """F1 of a predicted positive set against the planted one (1.0 when
    both are empty)."""
    if not predicted and not expected:
        return 1.0
    tp = len(predicted & expected)
    if tp == 0:
        return 0.0
    p, r = tp / len(predicted), tp / len(expected)
    return 2 * p * r / (p + r)


def family_pairs(pairs) -> set:
    """All (a < b) pairs inside each planted clone family (a base and its
    clones are mutual near-duplicates, and so are two clones of one base)."""
    fam: dict[int, set] = {}
    for b, c in pairs:
        fam.setdefault(b, {b}).add(c)
    out = set()
    for members in fam.values():
        m = sorted(members)
        out.update((m[i], m[j]) for i in range(len(m)) for j in range(i + 1, len(m)))
    return out


class Workload:
    name = ""
    f1_floor = 0.9
    rows_per_op = 0
    warmup_ops = 1

    def __init__(self, seed: int, work_dir: str, cache_dir: str):
        self.seed = seed
        self.work_dir = os.path.join(work_dir, self.name)
        self.paths, self.labels = gen.cached(
            cache_dir, f"{self.name}-s{seed}-n{self.rows_per_op}", self.make_inputs)

    def fresh_dir(self, *parts: str) -> str:
        d = os.path.join(self.work_dir, *parts)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(os.path.dirname(d), exist_ok=True)
        return d

    @staticmethod
    def _cache(df):
        df = df.cache()
        df.count()
        return df

    def probes(self, spark, tracer) -> None:
        pass


def traced_exec(tracer, name: str, make, count: bool = False) -> None:
    """A probe of the layer function spanned as ``name``: ``make()`` calls
    it (its own wrapper span records the call), then the result executes to
    a noop sink inside the ``probe:`` span, which thereby holds the layer's
    execution time. ``count`` also stores the row count on the probe span."""
    with tracer.span("probe:" + name) as s:
        df = make()
        tracer.mark_call_end(s)
        noop(df)
        if count:
            with tracer.span("trace.count"):
                s.attrs["rows"] = df.count()


class WebtextBatch(Workload):
    """run_partitioned over a page table, then the resume call (which must
    skip every part)."""

    name = "webtext_batch"
    rows_per_op = 1500
    # each operation plans many small queries on the driver, and operation
    # walls keep falling over the first three while that code is compiled
    warmup_ops = 3
    n_parts = 8

    def make_inputs(self):
        table, labels = gen.pages(self.seed, self.rows_per_op)
        return {"pages": table}, labels

    def load(self, spark):
        self.pages = self._cache(spark.read.parquet(self.paths["pages"]))
        self.files_written: list[int] = []
        self.progress: list[dict] = []

    def op(self, spark, k):
        out = self.fresh_dir("out", f"op{k}")
        first = checkpoint.run_partitioned(spark, self.pages, out, n_parts=self.n_parts)
        resume = checkpoint.run_partitioned(spark, self.pages, out, n_parts=self.n_parts)
        return out, first, resume

    def check(self, spark, result) -> float:
        out, first, resume = result
        n = self.rows_per_op
        if first["n_docs"] != n or first["parts_completed"] != self.n_parts:
            raise AssertionError(f"first call: {first}")
        if resume["parts_completed"] != 0 or resume["parts_skipped"] != self.n_parts:
            raise AssertionError(f"resume call did not skip every part: {resume}")
        self.files_written.append(len(list_files(os.path.join(out, "pages_qc"))))
        rows = spark.read.parquet(os.path.join(out, "pages_qc")).select("url", "keep").collect()
        shutil.rmtree(out, ignore_errors=True)
        if len(rows) != n:
            raise AssertionError(f"{len(rows)} output rows for {n} pages")
        dropped = {r["url"] for r in rows if not r["keep"]}
        planted = {u for u, k in zip(self.labels["url"], self.labels["expected_keep"]) if not k}
        return f1(dropped, planted)

    def probes(self, spark, tracer):
        pages = self.pages
        traced_exec(tracer, "webtext.features.with_fused_features",
                    lambda: features.with_fused_features(pages, html_col="html"))
        traced_exec(tracer, "webtext.dedup.is_duplicate", lambda: wdedup.is_duplicate(pages))
        with tracer.span("trace.prep"):
            feats = ensure_flags(
                features.with_fused_features(pages, html_col="html")
                .select("url", wpipeline.host_of().alias("host"), "ppl")
            ).localCheckpoint(eager=True)
        traced_exec(tracer, "webtext.perplexity.perplexity_outlier_check",
                    lambda: perplexity.perplexity_outlier_check(feats, id_col="url"))
        feats.unpersist(True)
        traced_exec(tracer, "webtext.pipeline.run_quality_pipeline",
                    lambda: wpipeline.run_quality_pipeline(pages))
        self.stream_probe(spark, tracer)

    def stream_probe(self, spark, tracer):
        """The same pages as staged files, drained once by an availableNow
        query from a fresh checkpoint (cross-batch state store included)."""
        root = self.fresh_dir("stream")
        shutil.copytree(self.paths["pages"], os.path.join(root, "in"))
        with tracer.span("probe:streaming.pipeline.stream_quality_pipeline") as s:
            q = streaming.stream_quality_pipeline(
                spark, os.path.join(root, "in"), os.path.join(root, "out"),
                os.path.join(root, "ckpt"), n_parts=self.n_parts)
            tracer.mark_call_end(s)
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        self.progress += [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
        shutil.rmtree(root, ignore_errors=True)


STATION_RADIUS = 60000.0


def metadata_check(d):
    return operators.metadata_check(d, ["lat", "lon", "elev"])


def range_check(d):
    return operators.range_check(d, -50.0, 50.0)


def isolation_check(d):
    return operators.isolation_check(d, num_min=2, radius=STATION_RADIUS)


def buddy_check(d):
    return operators.buddy_check(d, radius=STATION_RADIUS, num_min=4, threshold=3.0,
                                 elev_gradient=-0.0065, min_std=1.0, num_iterations=2)


def sct_resistant(d):
    return operators.sct_resistant(d, num_min_outer=3, num_max_outer=20, inner_radius=30000.0,
                                   outer_radius=STATION_RADIUS, num_iterations=1,
                                   min_horizontal_scale=500.0, max_horizontal_scale=20000.0,
                                   kth_closest=3, vertical_scale=600.0, eps2=0.5,
                                   tpos=4.0, tneg=4.0)


class StationQC(Workload):
    """QCDataset chain metadata -> range -> isolation -> buddy (2 rounds),
    then flags and summary(). sct_resistant runs in the traced run's probes
    only: one call costs about three chain operations, more than the run
    budget allows per operation."""

    name = "station_qc"
    rows_per_op = 2000
    chain = (metadata_check, range_check, isolation_check, buddy_check)

    def make_inputs(self):
        table, labels = gen.stations(self.seed, self.rows_per_op)
        return {"stations": table}, labels

    def load(self, spark):
        self.stations = self._cache(spark.read.parquet(self.paths["stations"]))

    def op(self, spark, k):
        ds = QCDataset(self.stations, id_col="id")
        for check in self.chain:
            ds = ds.apply(check.__name__, check)
        flags = ds.df.select(ds.id_col, ds.flag_col).collect()
        summary = ds.summary().collect()
        return flags, summary

    def check(self, spark, result) -> float:
        flags, summary = result
        n = self.rows_per_op
        if len(flags) != n or sum(r["count"] for r in summary) != n:
            raise AssertionError(f"{len(flags)} flag rows / summary {summary} for {n} stations")
        flagged = {r["id"] for r in flags if r["flags"] != 0}
        planted = {i for i, p in enumerate(self.labels["planted"]) if p}
        kinds = self.labels["kind"]
        self.diagnostics = {
            "false_positives": len(flagged - planted),
            "missed_by_kind": {str(k): sum(1 for i in planted - flagged if kinds[i] == k)
                               for k in sorted(set(kinds)) if k},
        }
        return f1(flagged, planted)

    def probes(self, spark, tracer):
        st = self.stations
        for check in (isolation_check, buddy_check, sct_resistant):
            traced_exec(tracer, f"operators.{check.__name__}", lambda: check(st))
        traced_exec(tracer, "functions.geo.neighbor_pairs",
                    lambda: geo.neighbor_pairs(st, STATION_RADIUS), count=True)


class CorpusDedup(Workload):
    """minhash_lsh_dedup and ngram_jaccard_pairs_lsh on a corpus with clones
    and a hot boilerplate share (the ngram call's bucket cap fires), then
    embedding_near_dup_pairs on vectors with planted clones."""

    name = "corpus_dedup"
    rows_per_op = 400 + 1000
    n_docs, n_vecs, dim = 400, 1000, 32
    max_bucket = 12  # below the ~24 boilerplate docs that share every bucket

    def make_inputs(self):
        docs, dl = gen.corpus(self.seed, self.n_docs)
        vecs, vl = gen.vectors(self.seed, self.n_vecs, self.dim)
        return {"corpus": docs, "vectors": vecs}, {"docs": dl, "vecs": vl}

    def load(self, spark):
        self.corpus = self._cache(spark.read.parquet(self.paths["corpus"]))
        self.vectors = self._cache(spark.read.parquet(self.paths["vectors"]))

    def op(self, spark, k):
        survivors = tdedup.minhash_lsh_dedup(self.corpus, id_col="doc_id").select("doc_id").collect()
        pairs = tdedup.ngram_jaccard_pairs_lsh(self.corpus, id_col="doc_id", n=3, threshold=0.5,
                                               max_bucket=self.max_bucket).collect()
        vpairs = similarity.embedding_near_dup_pairs(self.vectors, threshold=0.9, n_planes=8,
                                                     n_tables=6, dim=self.dim).collect()
        return survivors, pairs, vpairs

    def check(self, spark, result) -> float:
        survivors, pairs, vpairs = result
        dl, vl = self.labels["docs"], self.labels["vecs"]
        hot = set(dl["hot_ids"])
        clones = {c for _, c in dl["clone_pairs"]}
        dropped = set(range(self.n_docs)) - {r["doc_id"] for r in survivors}
        planted_drop = clones | (hot - {min(hot)} if hot else set())
        # pairs among boilerplate pages are unscored: the bucket cap drops
        # most of them by design, and the ones that escape are true pairs
        found = {(r["id_a"], r["id_b"]) for r in pairs
                 if not (r["id_a"] in hot and r["id_b"] in hot)}
        vfound = {(r["id_a"], r["id_b"]) for r in vpairs}
        return min(f1(dropped, planted_drop),
                   f1(found, family_pairs(dl["clone_pairs"])),
                   f1(vfound, family_pairs(vl["clone_pairs"])))

    def probes(self, spark, tracer):
        traced_exec(tracer, "textops.dedup.minhash_signatures",
                    lambda: tdedup.minhash_signatures(self.corpus, id_col="doc_id",
                                                      signatures_only=True))


class QCDedup(Workload):
    """One operation is a StationQC operation followed by a CorpusDedup
    operation: the layers outside webtext, in one workload, so that a run
    can be long enough to be steady within the benchmark's time limit."""

    name = "qc_dedup"
    parts = (StationQC, CorpusDedup)
    rows_per_op = sum(p.rows_per_op for p in parts)

    def __init__(self, seed: int, work_dir: str, cache_dir: str):
        self.parts = [p(seed, work_dir, cache_dir) for p in self.parts]
        self.part_walls: list[list[float]] = []

    def load(self, spark):
        for p in self.parts:
            p.load(spark)

    def op(self, spark, k):
        out, walls = [], []
        for p in self.parts:
            t0 = time.perf_counter()
            out.append(p.op(spark, k))
            walls.append(time.perf_counter() - t0)
        self.part_walls.append(walls)
        return out

    def check(self, spark, result) -> float:
        scores = [p.check(spark, r) for p, r in zip(self.parts, result)]
        self.diagnostics = {p.name: {"f1": f, "detail": getattr(p, "diagnostics", None),
                                     "walls": [w[i] for w in self.part_walls]}
                            for i, (p, f) in enumerate(zip(self.parts, scores))}
        return min(scores)

    def probes(self, spark, tracer):
        for p in self.parts:
            p.probes(spark, tracer)


WORKLOADS = {w.name: w for w in (WebtextBatch, QCDedup)}


def _count_if_materialized(args, kwargs, result):
    """Row count of a returned frame the function checkpointed itself."""
    return result.count() if kwargs.get("materialize", False) else None


def _count_result(args, kwargs, result):
    return result.count()


def _count_if_planes(args, kwargs, result):
    return result.count() if kwargs.get("n_planes", 0) > 0 else None


# (module, function, span name, row counter). Counted results are eager
# checkpoints, so counting them re-runs nothing.
TRACED_FUNCTIONS = (
    ("titanlib_spark.webtext.features", "with_fused_features", "webtext.features.with_fused_features", None),
    ("titanlib_spark.webtext.dedup", "is_duplicate", "webtext.dedup.is_duplicate", None),
    ("titanlib_spark.webtext.perplexity", "perplexity_outlier_check",
     "webtext.perplexity.perplexity_outlier_check", None),
    ("titanlib_spark.webtext.pipeline", "run_quality_pipeline", "webtext.pipeline.run_quality_pipeline", None),
    ("titanlib_spark.webtext.checkpoint", "run_partitioned", "webtext.checkpoint.run_partitioned", None),
    ("titanlib_spark.streaming.pipeline", "stream_quality_pipeline",
     "streaming.pipeline.stream_quality_pipeline", None),
    ("titanlib_spark.operators.metadata_check", "metadata_check", "operators.metadata_check", None),
    ("titanlib_spark.operators.range_check", "range_check", "operators.range_check", None),
    ("titanlib_spark.operators.isolation_check", "isolation_check", "operators.isolation_check", None),
    ("titanlib_spark.operators.buddy_check", "buddy_check", "operators.buddy_check", None),
    ("titanlib_spark.operators.sct_resistant", "sct_resistant", "operators.sct_resistant", None),
    ("titanlib_spark.functions.geo", "neighbor_pairs", "functions.geo.neighbor_pairs", None),
    ("titanlib_spark.functions.geo", "undirected_neighbor_pairs",
     "functions.geo.undirected_neighbor_pairs", None),
    ("titanlib_spark.textops.dedup", "minhash_signatures", "textops.dedup.minhash_signatures", None),
    ("titanlib_spark.textops.dedup", "minhash_lsh_candidates", "textops.dedup.minhash_lsh_candidates",
     _count_if_materialized),
    ("titanlib_spark.textops.dedup", "minhash_lsh_dedup", "textops.dedup.minhash_lsh_dedup", None),
    ("titanlib_spark.textops.dedup", "ngram_jaccard_pairs_lsh", "textops.dedup.ngram_jaccard_pairs_lsh",
     _count_result),
    ("titanlib_spark.textops.similarity", "lsh_candidate_pairs",
     "textops.similarity.lsh_candidate_pairs", _count_if_materialized),
    ("titanlib_spark.textops.similarity", "embedding_near_dup_pairs",
     "textops.similarity.embedding_near_dup_pairs", _count_if_planes),
)
TRACED_METHODS = (("pipeline.QCDataset.apply", QCDataset, "apply"),
                  ("pipeline.QCDataset.summary", QCDataset, "summary"))


def list_files(root: str) -> list[str]:
    return glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
