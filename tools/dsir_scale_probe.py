"""Measured scale evidence for DSIR (operators/dsir.py): amplify the
sf0.1 documents to N rows (per-replica suffix — distinct docs, same
token distribution), then time

* dsir_weights end-to-end (featurize -> fit p̂/q̂ -> λ broadcast ->
  per-doc fold) at n_buckets 1024 and 16384 — the model is n_buckets
  rows by construction, so the wall should be featurization-bound and
  FLAT in n_buckets;
* dsir_select (weights + Gumbel top-k) — the extra cost over weights
  is one TakeOrderedAndProject, so the delta should be noise.

Each time is best-of-2 after a warmup, whole action (collect of the
full weight table / the top-k). Markdown table to stdout (recorded in
SCALING.md).

Usage: python tools/dsir_scale_probe.py [n_docs]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def timed(fn, runs: int = 2) -> float:
    fn()
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def main():
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    sf_dir = "/root/testdata/sf0.1"

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from ydb_vector_search_simple_api_spark.operators import dsir

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("dsir-scale-probe")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "24g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from ydb_vector_search_simple_api_spark.sources.store import load_documents

    base = load_documents(spark, sf_dir).select("doc_id", "text", "lang")
    n_base = base.count()
    reps = (n_docs + n_base - 1) // n_base
    tmp = tempfile.mkdtemp(prefix="svs_dsirprobe_")
    (
        base.crossJoin(spark.range(reps).select(F.col("id").alias("rep")))
        .select(
            (F.col("doc_id") + F.col("rep") * n_base).alias("doc_id"),
            F.concat_ws(
                " ", "text", F.concat(F.lit("rep"), F.col("rep"))
            ).alias("text"),
            "lang",
            F.lit("src0").alias("source"),
        )
        .withColumn("n_chars", F.length("text"))
        .limit(n_docs)
        .repartition(32)
        .write.mode("overwrite")
        .parquet(f"{tmp}/documents.parquet")
    )
    n = spark.read.parquet(f"{tmp}/documents.parquet").count()
    print(f"corpus: {n} docs", file=sys.stderr)

    results = []
    for buckets in (1024, 16384):
        t = timed(
            lambda b=buckets: dsir.dsir_weights(
                spark, tmp, n_buckets=b
            ).foreach(lambda r: None)
        )
        results.append((f"dsir_weights n_buckets={buckets}", t))
    t = timed(lambda: dsir.dsir_select(spark, tmp, k=1000).collect())
    results.append(("dsir_select k=1000", t))

    print(f"\n| op ({n} docs) | best-of-2 (s) |")
    print("|---|---|")
    for name, t in results:
        print(f"| {name} | {t:.2f} |")


if __name__ == "__main__":
    main()
