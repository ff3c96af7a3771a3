"""Persisted mergeable distinct-count sketches (Apache DataSketches
HLL via Spark's native ``hll_sketch_agg`` family — JVM-side, no UDF).

``approx_distinct_users`` (stats.py) answers one query in one pass;
a pipeline at 100 TB instead MAINTAINS per-partition sketches the way
it maintains an index: build once, fold new arrivals in (sketch union
is register-wise max — associative, commutative, idempotent), answer
rollups from the stored registers without ever rescanning history.
That algebra is the whole point and is pytest-pinned: folding a
second batch into the store equals rebuilding from scratch, and a
coarser rollup (per-day) answered by UNIONING stored finer sketches
(per day x type) equals sketching the raw stream directly — register
equality, so the estimates are IDENTICAL, not merely close.

Engine-specific binary sketches have no DuckDB twin, so the gate
entry is rows-only; accuracy vs exact distinct counts is pinned
(HLL lg_k=12 -> ~1.6% rse; the test allows 5%).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..artifacts import persisted
from ..sources.store import load_events

DEFAULT_LG_K = 12


def build_hll_store(
    df: DataFrame,
    out_dir: str,
    key_cols: list[str],
    value_col: str,
    lg_k: int = DEFAULT_LG_K,
) -> None:
    """One keyed pass: (key..., sketch) parquet table. The shuffle
    carries partial sketches (fixed 2^lg_k registers per key), never
    raw values — map-side combine does the distinct-heavy lifting."""
    (
        df.groupBy(*key_cols)
        .agg(F.hll_sketch_agg(value_col, F.lit(lg_k)).alias("sketch"))
        .write.mode("overwrite")
        .parquet(out_dir)
    )


def hll_store_upsert(
    spark: SparkSession,
    store_dir: str,
    batch_df: DataFrame,
    key_cols: list[str],
    value_col: str,
    lg_k: int = DEFAULT_LG_K,
) -> None:
    """Fold a new batch into the store: sketch the batch, union with
    the stored registers per key, rewrite. Union is register-wise max,
    so replaying the same batch is a no-op (idempotent) and arrival
    order never matters — the properties that make the store safe to
    maintain from a stream."""
    new = batch_df.groupBy(*key_cols).agg(
        F.hll_sketch_agg(value_col, F.lit(lg_k)).alias("sketch")
    )
    old = spark.read.parquet(store_dir)
    merged = (
        old.unionByName(new)
        .groupBy(*key_cols)
        .agg(F.hll_union_agg("sketch").alias("sketch"))
        .localCheckpoint(eager=True)  # pin before overwriting the input
    )
    merged.write.mode("overwrite").parquet(store_dir)


def hll_store_estimate(
    spark: SparkSession, store_dir: str, key_cols: list[str]
) -> DataFrame:
    """Serve estimates from the stored registers — no corpus scan."""
    return (
        spark.read.parquet(store_dir)
        .select(
            *key_cols,
            F.hll_sketch_estimate("sketch").cast("bigint").alias("n_distinct_est"),
        )
    )


def hll_rollup_estimate(
    spark: SparkSession, store_dir: str, rollup_cols: list[str]
) -> DataFrame:
    """Answer a COARSER grouping from the stored finer sketches by
    union — the mergeability dividend: per-day totals from per-
    (day, type) registers without touching raw events."""
    return (
        spark.read.parquet(store_dir)
        .groupBy(*rollup_cols)
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sketch"))
            .cast("bigint")
            .alias("n_distinct_est")
        )
    )


def daily_user_sketches(
    spark: SparkSession, sf_dir: str, lg_k: int = DEFAULT_LG_K
) -> DataFrame:
    """Gate entry: build the (day, event_type) user sketch store over
    events, then report per-day estimates from the ROLLUP path beside
    the exact distinct counts. Output (day, n_users_est,
    n_users_exact) — rows-only (binary sketches are engine-specific);
    the <=5% relative-error and fold-equality contracts are pinned in
    tests/test_sketch_store.py."""
    ev = load_events(spark, sf_dir).select(
        F.to_date("ts").alias("day"), "event_type", "user_id"
    )
    est = persisted(
        "hll", sf_dir, {"lg_k": lg_k},
        lambda out: build_hll_store(ev, out, ["day", "event_type"], "user_id", lg_k),
        lambda path: hll_rollup_estimate(spark, path, ["day"]),
    )
    exact = ev.groupBy("day").agg(
        F.count_distinct("user_id").alias("n_users_exact")
    )
    return (
        est.join(exact, "day")
        .select(
            F.col("day").cast("string").alias("day"),
            "n_distinct_est",
            "n_users_exact",
        )
        .orderBy("day")
    )
