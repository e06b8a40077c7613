"""Adversarial-skew benches (r06, VERDICT r05 item 3).

A) webtext qc pipeline, 2M docs: uniform corpus vs a skewed twin where
   ONE host owns 50% of the docs (url rewrite — stresses the per-host
   ppl rollup/percentile groups) and 10% of docs carry IDENTICAL
   boilerplate text (one content_hash key of 200k rows — stresses the
   exact-dedup window and the dup join-back). PASS = skewed wall within
   1.5x of uniform at clean steal.

B) ngram LSH dedup, 200k docs: uniform word-salad vs a dirty twin where
   20% of docs are one boilerplate text — every band bucket for that
   text holds 40k rows, far over max_bucket=1000, so the cap must drop
   them and keep the wall bounded. PASS = dirty wall within 1.5x.

Usage: python scripts/qc_skew_bench.py [--docs N] [--lsh-docs N]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bench import _stat_snap, materialize, window_steal  # noqa: E402
from titanlib_spark.session import get_spark  # noqa: E402
from titanlib_spark.webtext.generate import generate_pages  # noqa: E402
from titanlib_spark.webtext.pipeline import (  # noqa: E402
    QualityFilterConfig,
    run_quality_pipeline,
)

PAGE_COLS = ["url", "warc_ts", "html", "text", "lang"]
BOILER = (
    "the quick brown fox jumps over the lazy dog again and again because "
    "every crawler eventually meets the same cookie banner text " * 4
)


def _persistent_rdds(sc):
    out = {}
    it = sc._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        kv = it.next()
        out[int(kv._1())] = kv._2()
    return out


def timed_scoped(spark, fn, trials=2):
    walls = []
    for _ in range(trials):
        before = set(_persistent_rdds(spark.sparkContext))
        t0 = time.time()
        fn()
        walls.append(round(time.time() - t0, 2))
        for rdd_id, rdd in _persistent_rdds(spark.sparkContext).items():
            if rdd_id not in before:
                rdd.unpersist(True)
        spark.sparkContext._jvm.System.gc()
        time.sleep(1.0)
    return walls


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=2_000_000)
    ap.add_argument("--lsh-docs", type=int, default=200_000)
    args = ap.parse_args()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        "qc_skew_bench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(8, cpus),
        extra_conf={"spark.driver.extraJavaOptions": "-Xms48g"},
    )
    snap0 = _stat_snap()

    # ---- A) qc pipeline: uniform vs host/dup skew --------------------
    uniform = generate_pages(spark, args.docs, seed=42).select(PAGE_COLS).cache()
    uniform.count()
    skewed = (
        generate_pages(spark, args.docs, seed=42)
        .withColumn("_i", F.monotonically_increasing_id())
        .withColumn(
            "url",
            F.when(
                F.xxhash64("url") % 2 == 0,
                F.concat(F.lit("https://megahost.example/doc/"), F.col("_i")),
            ).otherwise(F.col("url")),
        )
        .withColumn(
            "text",
            F.when(F.xxhash64("url", F.lit(7)) % 10 == 0, F.lit(BOILER)).otherwise(
                F.col("text")
            ),
        )
        .select(PAGE_COLS)
        .cache()
    )
    skewed.count()
    hot = skewed.withColumn(
        "h", F.regexp_extract("url", r"https://([^/]+)/", 1)
    ).groupBy("h").count().orderBy(F.desc("count")).limit(1).collect()[0]
    print(f"skew check: hottest host {hot['h']} holds {hot['count']}/{args.docs}")

    cfg = QualityFilterConfig()

    def run(pages):
        spark.sparkContext.setJobDescription("qc_skew_bench: pipeline")
        materialize(
            run_quality_pipeline(pages, cfg).select(
                "url", "flags", "keep", "reasons", "scrubbed_text"
            )
        )

    # warm-up on the uniform corpus (JIT + python workers), then measure
    timed_scoped(spark, lambda: run(uniform), trials=1)
    t_uniform = timed_scoped(spark, lambda: run(uniform), trials=2)
    t_skewed = timed_scoped(spark, lambda: run(skewed), trials=2)
    uniform.unpersist()
    skewed.unpersist()
    ru, rs = min(t_uniform), min(t_skewed)
    print(f"qc pipeline {args.docs} docs: uniform {t_uniform} skewed {t_skewed}", flush=True)
    print(f"  ratio skewed/uniform = {rs / ru:.2f} (bar: <= 1.5)", flush=True)

    # ---- B) ngram LSH dedup: uniform vs one hot boilerplate bucket ---
    from titanlib_spark.textops.dedup import ngram_jaccard_pairs_lsh

    word_list = (
        "batch data the query row stream part scan slow agg key window "
        "table merge join column order a vector spark fast".split()
    )
    words = F.array(*[F.lit(w) for w in word_list])
    nw = len(word_list)
    base = spark.range(args.lsh_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(1), F.lit(40) + (F.col("id") % 40).cast("int")),
                lambda j: F.element_at(
                    words,
                    ((F.xxhash64("id", j) % nw + nw) % nw + 1).cast("int"),
                ),
            ),
        ).alias("text"),
    )
    uni_docs = base.cache()
    uni_docs.count()
    dirty_docs = base.withColumn(
        "text",
        F.when(F.col("doc_id") % 5 == 0, F.lit(BOILER)).otherwise(F.col("text")),
    ).cache()
    dirty_docs.count()

    def run_lsh(docs):
        spark.sparkContext.setJobDescription("qc_skew_bench: ngram lsh")
        materialize(
            ngram_jaccard_pairs_lsh(
                docs, id_col="doc_id", text_col="text", n=3, threshold=0.2,
            )
        )

    timed_scoped(spark, lambda: run_lsh(uni_docs), trials=1)
    t_lsh_uni = timed_scoped(spark, lambda: run_lsh(uni_docs), trials=2)
    t_lsh_dirty = timed_scoped(spark, lambda: run_lsh(dirty_docs), trials=2)

    contention = window_steal(snap0, _stat_snap())
    lu, ld = min(t_lsh_uni), min(t_lsh_dirty)
    print(f"ngram lsh {args.lsh_docs} docs: uniform {t_lsh_uni} dirty {t_lsh_dirty}")
    print(f"  ratio dirty/uniform = {ld / lu:.2f} (bar: <= 1.5)")
    print(f"steal over run: {contention}")
    spark.stop()


if __name__ == "__main__":
    main()
