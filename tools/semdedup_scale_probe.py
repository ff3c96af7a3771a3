"""Measured scale evidence for semantic dedup: exact all-pairs vs the
IVF-multi-probe blocked pair stage (the part that separates the two —
components + election are shared downstream).

Amplifies the sf0.1 embeddings to N rows (deterministic rotated
replicas, distinct vectors) and times:

* exact ``neardup_cosine_pairs``   — O(n^2) pair evaluations
* blocked ``neardup_cosine_multiprobe`` (k centroids, p probes) —
  candidate pairs ~ p^2/k of n^2, exact cosine only within blocks

plus blocked recall vs exact at the probe size (threshold 0.4). The
expected pair-count ratio is ~p^2/k (p=3, k=64 -> ~7% of the exact
pair work); wall-clock ratio approaches it as n grows and the fixed
probe/assignment cost amortizes.

Usage: python tools/semdedup_scale_probe.py [n_rows] [n_clusters] [probes]
Defaults 20000 / 64 / 3. Output recorded in SCALING.md.
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
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    n_clusters = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    probes = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    sf_dir = "/root/testdata/sf0.1"

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from ydb_vector_search_simple_api_spark.operators import dedup
    from ydb_vector_search_simple_api_spark.operators import index as ivf_mod
    from ydb_vector_search_simple_api_spark.sources.store import load_embeddings

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("semdedup-scale-probe")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    base = load_embeddings(spark, sf_dir).select(
        F.col("vec_id").alias("vec_id"), "embedding"
    )
    n_base = base.count()
    reps = (n_rows + n_base - 1) // n_base
    replicas = spark.range(reps).select(F.col("id").alias("rep"))
    big = (
        base.crossJoin(replicas)
        .select(
            (F.col("vec_id") + F.col("rep") * n_base).alias("vec_id"),
            F.concat(
                F.slice(F.col("embedding"), (F.col("rep") % 64) + 1, 64),
                F.slice(F.col("embedding"), 1, F.col("rep") % 64),
            ).alias("embedding"),
        )
        .filter(F.col("vec_id") < n_rows)
    )
    work = tempfile.mkdtemp(prefix="svs_semdedup_probe_")
    big.repartition(32).write.mode("overwrite").parquet(f"{work}/embeddings")
    big = spark.read.parquet(f"{work}/embeddings")
    n = big.count()

    t0 = time.perf_counter()
    idx = ivf_mod.build_ivf_index(
        spark, big.select(F.col("vec_id").alias("id"), "embedding"),
        f"{work}/ivf", n_clusters=n_clusters, seed=42,
    )
    t_build = time.perf_counter() - t0
    cents = idx.centroids.tolist()

    t_exact = timed(
        lambda: dedup.neardup_cosine_pairs(big, threshold=0.4)
        .agg(F.count(F.lit(1)))
        .collect()
    )
    t_blocked = timed(
        lambda: dedup.neardup_cosine_multiprobe(
            big, cents, threshold=0.4, probes=probes
        )
        .agg(F.count(F.lit(1)))
        .collect()
    )
    n_exact = (
        dedup.neardup_cosine_pairs(big, threshold=0.4)
        .agg(F.count(F.lit(1)).alias("c")).head().c
    )
    n_blocked = (
        dedup.neardup_cosine_multiprobe(big, cents, threshold=0.4, probes=probes)
        .agg(F.count(F.lit(1)).alias("c")).head().c
    )

    print(f"\nSemantic-dedup pair stage at {n:,} vectors "
          f"(k={n_clusters} clusters, p={probes} probes; "
          f"centroid build {t_build:.1f}s, amortized across queries/dedups)\n")
    print("| path | wall (s) | pairs found | recall vs exact |")
    print("|---|---|---|---|")
    print(f"| exact all-pairs | {t_exact:.1f} | {n_exact:,} | 1.000 |")
    print(f"| multiprobe blocked | {t_blocked:.1f} | {n_blocked:,} | "
          f"{(n_blocked / n_exact) if n_exact else 1.0:.3f} |")
    print(f"\nspeedup: {t_exact / t_blocked:.1f}x "
          f"(expected pair-work ratio ~p^2/k = {probes * probes / n_clusters:.3f})")
    spark.stop()


if __name__ == "__main__":
    main()
