"""Salted local top-cap pre-filter vs direct per-domain window.

A web corpus is domain-skewed: one host can carry millions of docs.
``web.domain_caps`` ranks docs per domain by an md5 draw — the direct
form is one window whose hottest partition sorts the whole hot domain
in a single task. The two-level form first keeps the local top-cap
within (domain, salt) buckets (lossless for the global top-cap), so
the global window sees ≤ n_salts × cap rows per domain.

Synthetic corpus: one hot domain with (n - 50k) docs + 50 cold
domains with 1k docs each.

Usage: python tools/domain_scale_probe.py [n_docs]  (default 5_000_000)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

DOC_CAP = 40


def build(spark, n: int):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 50_000, (F.col("id") % 50).cast("string"))
        .otherwise(F.lit("hot.example.com"))
        .alias("domain"),
        (F.col("id") % 997).alias("n_tokens"),
        F.md5(F.col("id").cast("string")).alias("draw"),
    )


def direct(d):
    w = Window.partitionBy("domain").orderBy("draw", "doc_id")
    return (
        d.withColumn("draw_rank", F.row_number().over(w))
        .filter(F.col("draw_rank") <= DOC_CAP)
        .groupBy("domain")
        .agg(F.count(F.lit(1)).alias("n"), F.max("draw").alias("maxd"))
    )


def two_level(d, n_salts=64):
    salt = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_salts))
    local = Window.partitionBy(F.col("domain"), salt).orderBy("draw", "doc_id")
    pre = d.withColumn("_lr", F.row_number().over(local)).filter(
        F.col("_lr") <= DOC_CAP
    )
    w = Window.partitionBy("domain").orderBy("draw", "doc_id")
    return (
        pre.withColumn("draw_rank", F.row_number().over(w))
        .filter(F.col("draw_rank") <= DOC_CAP)
        .groupBy("domain")
        .agg(F.count(F.lit(1)).alias("n"), F.max("draw").alias("maxd"))
    )


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 5_000_000
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", "24g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    d = build(spark, n).localCheckpoint()
    results = {}
    for name, fn in [("two_level", lambda: two_level(d)), ("direct", lambda: direct(d))]:
        fn().collect()  # warm
        best, rows = None, None
        for _ in range(2):
            t0 = time.time()
            rows = sorted(map(tuple, fn().collect()))
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        results[name] = rows
        print(f"n={n}  {name:>10}: {best:6.2f}s", flush=True)
    print("identical output:", results["two_level"] == results["direct"])


if __name__ == "__main__":
    main()
