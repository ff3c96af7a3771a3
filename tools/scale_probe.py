"""Measured scale evidence: amplify the sf0.1 embeddings to N rows
(deterministic replicas with per-replica perturbation so vectors are
distinct), then time the single-query serving paths against each
other at a size where index economics actually show:

* exact_search-shape scan (brute force, the baseline)
* ivf_search at width 1/4/full (rows-read lever)
* shortlist_search over BQ at shortlist 1k (bytes-per-row lever)
* shortlist_search over SQ at shortlist 1k (8-bit codes, pure-codegen path)
* shortlist_search over PQ at shortlist 1k (bytes-per-row, Arrow ADC path)
* shortlist_search over IVF x BQ at width 4 (both levers)

Writes a markdown table to stdout (recorded in SCALING.md §"Measured
at 200k"). Build times are reported separately from query times; each
query time is best-of-3 after a warmup, whole action (plan+execute+
collect).

Usage: python tools/scale_probe.py [n_rows] [sf_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def timed(fn, runs: int = 3) -> float:
    fn()
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def main():
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from ydb_vector_search_simple_api_spark.functions.distance import score_expr
    from ydb_vector_search_simple_api_spark.operators import bq as bq_mod
    from ydb_vector_search_simple_api_spark.operators import index as ivf_mod
    from ydb_vector_search_simple_api_spark.operators import pq as pq_mod
    from ydb_vector_search_simple_api_spark.operators.search import (
        _order_cols,
        shortlist_search,
    )
    from ydb_vector_search_simple_api_spark.sources.store import load_embeddings

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("scale-probe")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    base = load_embeddings(spark, sf_dir).select(
        F.col("vec_id").alias("id"), "embedding"
    )
    n_base = base.count()
    reps = (n_rows + n_base - 1) // n_base
    # replica r shifts ids by r*n_base and rotates the vector by r
    # positions — deterministic, distinct, same distribution family
    replicas = spark.range(reps).select(F.col("id").alias("rep"))
    big = (
        base.crossJoin(replicas)
        .select(
            (F.col("id") + F.col("rep") * n_base).alias("id"),
            F.concat(
                F.slice(F.col("embedding"), (F.col("rep") % 64) + 1, 64),
                F.slice(F.col("embedding"), 1, F.col("rep") % 64),
            ).alias("embedding"),
        )
        .filter(F.col("id") < n_rows)
    )
    work = tempfile.mkdtemp(prefix="svs_scale_probe_")
    # 32 files so the brute-force baseline scan gets full parallelism
    # (the amplifying cross-join would otherwise emit ~2 giant files
    # and starve the exact path to 2-3 tasks — an unfair baseline)
    big.repartition(32).write.mode("overwrite").parquet(f"{work}/embeddings")
    big = spark.read.parquet(f"{work}/embeddings")
    n = big.count()
    qvec = [float(x) for x in big.filter(F.col("id") == 0).first().embedding]
    print(f"corpus: {n} rows, dim {len(qvec)}", file=sys.stderr)

    results: list[tuple[str, float, str]] = []

    def brute():
        score = score_expr("CosineSimilarity", "embedding", qvec)
        return (
            big.withColumn("score", score)
            .select("id", "score")
            .orderBy(*_order_cols("CosineSimilarity"))
            .limit(10)
            .collect()
        )

    results.append(("exact brute-force scan", timed(brute), "full scan, codegen score"))

    n_clusters = 64
    t0 = time.perf_counter()
    ivf_idx = ivf_mod.build_ivf_index(
        spark, big, f"{work}/ivf", n_clusters=n_clusters, seed=42
    )
    t_build_ivf = time.perf_counter() - t0

    for width in (1, 4, n_clusters):
        results.append(
            (
                f"ivf_search width={width}/{n_clusters}",
                timed(
                    lambda w=width: ivf_mod.ivf_search(
                        spark, ivf_idx, qvec, k=10, search_top_size=w
                    ).collect()
                ),
                f"reads ~{width}/{n_clusters} of rows",
            )
        )

    t0 = time.perf_counter()
    bq_idx = bq_mod.build_bq_index(spark, big, f"{work}/bq")
    t_build_bq = time.perf_counter() - t0
    results.append(
        (
            "shortlist_search BQ shortlist=1024",
            timed(
                lambda: shortlist_search(
                    spark, bq_idx, big, qvec, k=10, shortlist=1024
                ).collect()
            ),
            "1/32 bytes, codegen Hamming + 1k-row rerank",
        )
    )

    from ydb_vector_search_simple_api_spark.operators import sq as sq_mod

    t0 = time.perf_counter()
    sq_idx = sq_mod.build_sq_index(spark, big, f"{work}/sq")
    t_build_sq = time.perf_counter() - t0
    results.append(
        (
            "shortlist_search SQ shortlist=1024",
            timed(
                lambda: shortlist_search(
                    spark, sq_idx, big, qvec, k=10, shortlist=1024
                ).collect()
            ),
            "~1/2 parquet bytes, 1-fold codegen score + 1k-row rerank",
        )
    )

    t_build_pq = float("nan")
    if n <= 300_000:  # the Arrow encode pass dominates at larger N
        t0 = time.perf_counter()
        pq_idx = pq_mod.build_pq_index(
            spark, big, f"{work}/pq", m=8, nbits=8, normalize=True
        )
        t_build_pq = time.perf_counter() - t0
        results.append(
            (
                "shortlist_search PQ shortlist=1024",
                timed(
                    lambda: shortlist_search(
                        spark, pq_idx, big, qvec, k=10, shortlist=1024
                    ).collect()
                ),
                "1/32 bytes, Arrow ADC + 1k-row rerank",
            )
        )

    t0 = time.perf_counter()
    ivfbq_idx = bq_mod.build_ivfbq_index(spark, ivf_idx, f"{work}/ivfbq")
    t_build_ivfbq = time.perf_counter() - t0
    results.append(
        (
            f"shortlist_search IVF x BQ width=4/{n_clusters} shortlist=1024",
            timed(
                lambda: shortlist_search(
                    spark, ivfbq_idx, None, qvec, k=10, shortlist=1024,
                    ivf_index=ivf_idx, search_top_size=4,
                ).collect()
            ),
            "both levers: 4/64 dirs x 1/32 bytes",
        )
    )

    # ---- batch serving: the regime that matters at scale. Single-
    # query times on local mode floor at Spark's ~0.5 s scheduling
    # overhead; a query BATCH amortizes it and exposes the actual
    # data-proportional costs.
    n_q = 256
    queries = big.filter(F.col("id") < n_q).selectExpr(
        "id AS query_id", "embedding AS query_vec"
    )
    queries.persist().count()

    from ydb_vector_search_simple_api_spark.operators.search import knn_join_blocked

    batch: list[tuple[str, float, str]] = []
    batch.append(
        (
            "knn_join_blocked (exact, BLAS)",
            timed(
                lambda: knn_join_blocked(spark, queries, big, k=10).collect(),
                runs=1,
            ),
            "exact baseline: per-block matmul, map-side top-k",
        )
    )
    batch.append(
        (
            "ivf_knn_join_distributed width=4",
            timed(
                lambda: ivf_mod.ivf_knn_join_distributed(
                    spark, ivf_idx, queries, k=10, search_top_size=4
                ).collect(),
                runs=1,
            ),
            "pair-join + fold scoring (oracle path; 10^6-query regime)",
        )
    )
    batch.append(
        (
            "ivf_knn_join_routed_blocked width=4",
            timed(
                lambda: ivf_mod.ivf_knn_join_routed_blocked(
                    spark, ivf_idx, queries, k=10, search_top_size=4
                ).collect(),
                runs=1,
            ),
            "pruned dirs x BLAS blocks (serving path)",
        )
    )
    batch.append(
        (
            "bq_knn_join blocked shortlist=1024",
            timed(
                lambda: bq_mod.bq_knn_join(
                    spark, bq_idx, big, queries, k=10, shortlist=1024, blocked=True
                ).collect(),
                runs=1,
            ),
            "Arrow XOR+popcount blocks + bounded rerank",
        )
    )

    print(f"\ncorpus {n} rows x dim {len(qvec)} (amplified from {sf_dir})\n")
    print("single query (k=10, best of 3):\n")
    print("| path | query time | notes |")
    print("|---|---|---|")
    base_t = results[0][1]
    for name, t, note in results:
        print(f"| {name} | {t*1000:.0f} ms ({base_t/t:.1f}x) | {note} |")
    print(f"\nbatch of {n_q} queries (k=10, warm 1 run):\n")
    print("| path | wall | queries/s | notes |")
    print("|---|---|---|---|")
    for name, t, note in batch:
        print(f"| {name} | {t:.2f} s | {n_q/t:.0f} | {note} |")
    print(
        f"\nbuild times: ivf {t_build_ivf:.1f}s, bq {t_build_bq:.1f}s, "
        f"sq {t_build_sq:.1f}s, pq {t_build_pq:.1f}s, ivfbq {t_build_ivfbq:.1f}s"
    )


if __name__ == "__main__":
    main()
