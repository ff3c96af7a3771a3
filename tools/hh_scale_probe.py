"""Measured evidence for the Misra-Gries heavy-hitter claim: the
two-pass scheme's shuffle carries <= capacity keys per partition,
so it should beat the direct groupBy top-k when the VOCABULARY is
large (the billion-key n-gram regime), and lose nothing when it is
small.

Vocabulary is inflated deterministically: each token is suffixed with
a per-doc salt for ``1 - hot_frac`` of its occurrences, so distinct
keys ~ n_docs x tokens/doc while a Zipf-ish hot head (the unsalted
fraction) still dominates the top-k. The top-k answer under both
paths must agree (asserted).

Usage: python tools/hh_scale_probe.py [n_docs ...]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    sizes = [int(a) for a in sys.argv[1:]] or [1_000_000]

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from ydb_vector_search_simple_api_spark.functions import text as TXT
    from ydb_vector_search_simple_api_spark.operators import dedup
    from ydb_vector_search_simple_api_spark.operators.textual import mg_candidates
    from ydb_vector_search_simple_api_spark.sources.store import load_documents

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("hh-scale-probe")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.driver.memory", "24g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    base = load_documents(spark, "/root/testdata/sf0.1").select("doc_id", "text")
    n_base = base.count()
    rows = []
    for n_docs in sizes:
        reps = (n_docs + n_base - 1) // n_base
        tmp = tempfile.mkdtemp(prefix="svs_hhprobe_")
        new_id = F.col("doc_id") + F.col("rep") * n_base
        # 30% of occurrences keep the raw token (the hot head);
        # 70% get a per-doc suffix (the rare tail) — md5-deterministic
        salted = F.transform(
            TXT.tokens("text"),
            lambda t: F.when(
                F.substring(F.md5(F.concat(t, new_id.cast("string"))), 1, 1)
                < F.lit("5"),  # ~5/16 ≈ 30%
                t,
            ).otherwise(F.concat(t, F.lit("_"), new_id.cast("string"))),
        )
        (
            base.crossJoin(spark.range(reps).select(F.col("id").alias("rep")))
            .select(
                new_id.alias("doc_id"),
                F.array_join(salted, " ").alias("text"),
            )
            .limit(n_docs)
            .repartition(64)
            .write.mode("overwrite")
            .parquet(f"{tmp}/documents.parquet")
        )
        corpus = spark.read.parquet(f"{tmp}/documents.parquet")
        n_actual = corpus.count()
        n_vocab = (
            corpus.select(F.explode(TXT.tokens("text")).alias("t"))
            .agg(F.count_distinct("t"))
            .head()[0]
        )

        def direct():
            toks = corpus.select(F.explode(TXT.tokens("text")).alias("token"))
            return [
                tuple(r)
                for r in toks.groupBy("token")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .orderBy(F.col("cnt").desc(), F.col("token").asc())
                .limit(25)
                .collect()
            ]

        def two_pass():
            toks = dedup._ensure_parallelism(
                corpus.select(F.explode(TXT.tokens("text")).alias("token"))
            )
            cands = mg_candidates(toks, 4096).select("token").distinct()
            return [
                tuple(r)
                for r in toks.join(F.broadcast(cands), "token", "left_semi")
                .groupBy("token")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .orderBy(F.col("cnt").desc(), F.col("token").asc())
                .limit(25)
                .collect()
            ]

        results = {}
        for name, fn in [("direct groupBy top-k", direct), ("MG two-pass", two_pass)]:
            out = fn()
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                out = fn()
                best = min(best, time.perf_counter() - t0)
            results[name] = (best, out)
            print(f"  {n_actual:,} docs / {n_vocab:,} vocab  {name:22s} {best:7.1f}s",
                  flush=True)
        assert results["direct groupBy top-k"][1] == results["MG two-pass"][1], \
            "top-k answers diverged"
        rows.append((n_actual, n_vocab,
                     results["direct groupBy top-k"][0],
                     results["MG two-pass"][0]))

    print("\n| docs | distinct tokens | direct groupBy (s) | MG two-pass (s) |")
    print("|---|---|---|---|")
    for n, v, d, m in rows:
        print(f"| {n:,} | {v:,} | {d:.1f} | {m:.1f} |")
    spark.stop()


if __name__ == "__main__":
    main()
