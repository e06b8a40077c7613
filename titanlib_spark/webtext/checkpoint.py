"""Resumable partitioned runs: per-partition progress + lineage + metrics.

North-rule requirement: "writes salted, size-balanced Iceberg partitions
with explicit skew handling on host-level hot keys, checkpoints
per-partition progress with lineage and keep/drop/scrub metrics for
resumable reruns".

Design:

* **Salted partition key** — ``part_id = pmod(xxhash64(url), n_parts)``.
  url-hash salting is host-independent, so a hot host (the Zipf head)
  spreads uniformly over all partitions: size balance is guaranteed by the
  hash, not by luck. (Partitioning by host would concentrate the Zipf head
  in one file — exactly the skew the rule asks us to handle.)
* **Progress table** — one row per (run_id, part_id) appended *after* that
  partition's data is committed, carrying lineage (run_id, config hash,
  input path, wall time) and metrics (docs / kept / dropped / scrubbed).
* **Resume** — a rerun plans from the progress table before building
  anything: when every part is recorded it returns at once (one job, the
  progress read); otherwise it processes only the pending parts. Dynamic
  partition overwrite (a per-write option, so the caller's session is left
  alone) makes a crashed write idempotent (the partition is rewritten
  whole, and its progress row only appears once the rewrite succeeded).
  Each progress row records ``n_parts``; a rerun with another value is
  refused, since it would map docs to other part ids.

The writer targets plain parquet here (the container has no Iceberg
catalog); `format="iceberg"` on a configured catalog is the drop-in
production path — the salting, progress and resume logic are identical.
"""

from __future__ import annotations

import json
import time
import uuid
from dataclasses import asdict

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PART_COL = "part_id"


def with_salted_partition(df: DataFrame, n_parts: int, url_col: str = "url") -> DataFrame:
    return df.withColumn(
        PART_COL, F.pmod(F.xxhash64(F.col(url_col)), F.lit(n_parts)).cast("int")
    )


def _progress_path(out_dir: str) -> str:
    return f"{out_dir.rstrip('/')}/_progress"


def _read_progress(spark: SparkSession, out_dir: str) -> list:
    """(part_id, n_parts) of every recorded progress row, in one job.

    The explicit schema skips the parquet footer-inference job. Only a
    missing table means "nothing done yet": an unreadable one raises, since
    treating it as empty would silently reprocess and overwrite every
    partition."""
    try:
        progress = spark.read.schema(f"{PART_COL} INT, n_parts INT").parquet(
            _progress_path(out_dir)
        )
    except AnalysisException as e:
        if e.getCondition() == "PATH_NOT_FOUND":
            return []
        raise
    return progress.collect()


def completed_parts(spark: SparkSession, out_dir: str) -> set[int]:
    return {r[PART_COL] for r in _read_progress(spark, out_dir)}


def run_partitioned(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    n_parts: int = 64,
    cfg=None,
    run_id: str | None = None,
    output_format: str = "parquet",
) -> dict:
    """Run the quality pipeline over only the not-yet-completed partitions,
    write salted output + progress, return the run summary dict.

    A rerun must use the ``n_parts`` recorded in the progress table: part
    ids are url hashes mod ``n_parts``, so another value maps docs to other
    ids and would skip or double-write them."""
    from titanlib_spark.webtext.pipeline import QualityFilterConfig, run_quality_pipeline

    cfg = cfg or QualityFilterConfig()
    run_id = run_id or uuid.uuid4().hex[:12]
    t0 = time.time()

    progress = _read_progress(spark, out_dir)
    recorded = {r["n_parts"] for r in progress}
    if recorded and recorded != {n_parts}:
        raise ValueError(
            f"{out_dir} was written with n_parts in {recorded}; "
            f"a rerun with n_parts={n_parts} would map docs to other part ids"
        )
    done = {r[PART_COL] for r in progress}
    summary = {"run_id": run_id, "parts_completed": 0, "parts_skipped": len(done),
               "n_docs": 0, "n_keep": 0, "n_drop": 0}
    if len(done) == n_parts:
        # nothing pending: no plan to build, nothing to write or read back
        return {**summary, "wall_s": round(time.time() - t0, 3)}

    salted = with_salted_partition(pages, n_parts)
    pending = salted.where(~F.col(PART_COL).isin(*done) if done else F.lit(True))

    result = run_quality_pipeline(pending, cfg)
    if "scrub_changed" not in result.columns:
        result = result.withColumn(
            "scrub_changed",
            F.coalesce(F.col("scrubbed_text") != F.col(cfg.text_col), F.lit(False)),
        )
    result = result.withColumn(
        "scrub_changed", F.coalesce(F.col("scrub_changed"), F.lit(False))
    )
    out_cols = [PART_COL, "url", "warc_ts", "host", "pred_lang", "pred_lang_score",
                "flags", "keep", "reasons", "scrubbed_text", "scrub_changed"]
    out = result.select(*[c for c in out_cols if c in result.columns])
    (
        out.repartition(F.col(PART_COL))  # one shuffle; AQE coalesces small parts
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(PART_COL)
        .format(output_format)
        .save(f"{out_dir.rstrip('/')}/pages_qc")
    )

    # metrics over what was just written (read back: metrics reflect the
    # committed bytes, not the pre-write plan); aggregated once, and the
    # progress rows are written from the collected result
    written = spark.read.format(output_format).load(f"{out_dir.rstrip('/')}/pages_qc")
    if done:
        written = written.where(~F.col(PART_COL).isin(*done))
    metrics = (
        written.groupBy(PART_COL)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("keep").cast("long")).alias("n_keep"),
            F.sum((~F.col("keep")).cast("long")).alias("n_drop"),
            F.sum(F.col("scrub_changed").cast("long")).alias("n_scrubbed"),
        )
        .withColumn("run_id", F.lit(run_id))
        .withColumn("config_json", F.lit(json.dumps(asdict(cfg), sort_keys=True)))
        .withColumn("completed_ts", F.current_timestamp())
        .withColumn("wall_s", F.lit(round(time.time() - t0, 3)))
        .withColumn("n_parts", F.lit(n_parts))
    )
    mrows = metrics.collect()
    spark.createDataFrame(mrows, metrics.schema).write.mode("append").parquet(
        _progress_path(out_dir)
    )

    return {
        **summary,
        "parts_completed": len(mrows),
        "n_docs": sum(r["n_docs"] for r in mrows),
        "n_keep": sum(r["n_keep"] for r in mrows),
        "n_drop": sum(r["n_drop"] for r in mrows),
        "wall_s": round(time.time() - t0, 3),
    }
