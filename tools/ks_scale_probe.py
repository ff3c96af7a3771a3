"""KS cumulative-sum decomposition vs single-partition window.

The two-sample KS statistic needs a global cumulative count over
distinct values — the naive form is ``Window.orderBy(value)`` with no
partitioning: one Exchange SinglePartition sorting EVERY distinct
value in one task. ``stats.ks_drift`` decomposes it into per-bucket
windows + a bucket-offset broadcast. This probe measures both on a
synthetic high-cardinality events table (every value distinct — the
worst case for the serial window).

Usage: python tools/ks_scale_probe.py [n_rows]   (default 20_000_000)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F


def naive_ks(v, tot):
    """Single-partition global cumsum — the foil."""
    w = Window.orderBy("value").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = v.select(
        F.sum("c1").over(w).alias("cum1"), F.sum("c2").over(w).alias("cum2")
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            (
                F.round(
                    F.max(
                        F.abs(
                            F.col("cum1") * F.col("n2")
                            - F.col("cum2") * F.col("n1")
                        )
                    ).cast("double")
                    / (F.first("n1") * F.first("n2")).cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("ks_d")
        )
    )


def bucketed_ks(v, tot, n_buckets=32, vmax=None):
    """The ks_drift decomposition, inlined for the probe."""
    width = vmax / n_buckets
    vb = v.withColumn(
        "bucket",
        F.least(F.lit(n_buckets - 1), F.floor(F.col("value") / width)).cast(
            "int"
        ),
    )
    vb = vb.localCheckpoint(eager=False)
    wb = (
        Window.partitionBy("bucket")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = vb.select(
        "bucket",
        F.sum("c1").over(wb).alias("l1"),
        F.sum("c2").over(wb).alias("l2"),
    )
    per_bucket = vb.groupBy("bucket").agg(
        F.sum("c1").alias("b1"), F.sum("c2").alias("b2")
    )
    wo = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = per_bucket.select(
        "bucket",
        (F.sum("b1").over(wo) - F.col("b1")).alias("o1"),
        (F.sum("b2").over(wo) - F.col("b2")).alias("o2"),
    )
    cum = local.join(F.broadcast(offsets), "bucket").select(
        (F.col("o1") + F.col("l1")).alias("cum1"),
        (F.col("o2") + F.col("l2")).alias("cum2"),
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            (
                F.round(
                    F.max(
                        F.abs(
                            F.col("cum1") * F.col("n2")
                            - F.col("cum2") * F.col("n1")
                        )
                    ).cast("double")
                    / (F.first("n1") * F.first("n2")).cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("ks_d")
        )
    )


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000_000
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", "24g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    # every value distinct; half tag alternates; slight shift in half 1
    v = (
        spark.range(n)
        .select(
            (F.col("id").cast("double") + (F.col("id") % 2) * 0.25).alias(
                "value"
            ),
            F.when(F.col("id") % 2 == 0, 1).otherwise(0).alias("c1"),
            F.when(F.col("id") % 2 == 1, 1).otherwise(0).alias("c2"),
        )
        .localCheckpoint()
    )
    tot = v.agg(
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
        F.count(F.lit(1)).alias("n_points"),
    )
    for name, fn in [
        ("bucketed", lambda: bucketed_ks(v, tot, vmax=float(n) + 1.0)),
        ("naive-single-partition", lambda: naive_ks(v, tot)),
    ]:
        fn().collect()  # warm
        best, res = None, None
        for _ in range(2):
            t0 = time.time()
            res = fn().collect()[0].ks_d
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        print(f"n={n}  {name:>24}: {best:6.2f}s  ks_d={res}", flush=True)


if __name__ == "__main__":
    main()
