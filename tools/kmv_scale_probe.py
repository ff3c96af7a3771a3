"""KMV sketch scaling: two-level window top-k vs COUNT(DISTINCT) vs
unbounded collect_set, plus estimator error at scale.

The KMV sketch (operators/kmv.py) pays the same (group, hash) dedup
shuffle as COUNT(DISTINCT); the question is what the top-k stage adds
and what the naive ``slice(sort_array(collect_set(h)), 1, k)`` foil —
which materializes EVERY distinct hash of a group in one aggregation
buffer — costs beside it.

Usage: python tools/kmv_scale_probe.py [n_rows] [n_groups] [k]
(defaults 20_000_000 rows, 8 groups, 1024)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ydb_vector_search_simple_api_spark.operators import kmv


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000_000
    g = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 1024
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    # ~n/2 distinct keys per group (duplicated draws), groups skewed 1:g
    df = (
        spark.range(n)
        .select(
            (F.col("id") % g).alias("g"),
            ((F.col("id") * 2654435761) % (n // 2)).alias("key"),
        )
        .persist()
    )
    df.count()

    t0 = time.time()
    exact = {
        r.g: r.d
        for r in df.groupBy("g").agg(F.countDistinct("key").alias("d")).collect()
    }
    t_exact = time.time() - t0

    t0 = time.time()
    sk = kmv.kmv_estimate(kmv.kmv_sketch(df, "key", ["g"], k=k), k=k)
    est = {r.g: r.est_distinct for r in sk.collect()}
    t_kmv = time.time() - t0

    t0 = time.time()
    skf = kmv.kmv_estimate(kmv.kmv_sketch_filtered(df, "key", ["g"], k=k), k=k)
    estf = {r.g: r.est_distinct for r in skf.collect()}
    t_kmvf = time.time() - t0
    assert estf == est, "filtered build must equal the salted build"

    t0 = time.time()
    naive = (
        df.select("g", kmv._h(F.col("key")).alias("h"))
        .distinct()
        .groupBy("g")
        .agg(F.slice(F.sort_array(F.collect_set("h")), 1, k).alias("sketch"))
    )
    # collect the sketches (NOT .count(), which lets Catalyst prune the
    # collect_set aggregate away and times an empty plan)
    naive_sk = {r.g: r.sketch for r in naive.collect()}
    t_naive = time.time() - t0
    salted_sk = {r.g: r.sketch for r in kmv.kmv_sketch(df, "key", ["g"], k=k).collect()}
    assert naive_sk == salted_sk, "salted build must equal the naive build"

    rels = [abs(est[gg] - exact[gg]) / exact[gg] for gg in exact]
    print(
        f"rows={n} groups={g} k={k}\n"
        f"exact count-distinct: {t_exact:.1f}s\n"
        f"kmv salted build    : {t_kmv:.1f}s  max_rel_err={max(rels):.4f} "
        f"mean_rel_err={sum(rels)/len(rels):.4f}\n"
        f"kmv threshold build : {t_kmvf:.1f}s (== salted output)\n"
        f"naive collect_set   : {t_naive:.1f}s (aggregation buffer = d_g, the OOM foil)"
    )


if __name__ == "__main__":
    main()
