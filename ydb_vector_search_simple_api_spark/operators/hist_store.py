"""Persisted fixed-width histogram store — the EXACT-mergeable
quantile state (the integer twin of the HLL store in
``sketch_store.py``).

``stats.histogram_quantiles`` rescans the fact table per question;
a pipeline at 100 TB maintains the bucket counts instead: counts are
exact integers keyed by (key, bucket), merging is ADDITION
(associative/commutative, shard- and batch-mergeable), and the
quantile readout runs over the constant-sized bucket table — history
is never rescanned. Bin geometry (lo, hi, n_buckets) is FIXED at
build time and persisted beside the counts: folds bucket new rows
with the stored edges (out-of-range values clamp to the edge
buckets, the standard fixed-histogram contract), which is what makes
fold == rebuild hold bit-for-bit.

The gate entry builds with the same whole-range bounds derivation
``histogram_quantiles`` uses, so serving from the store reproduces
its output exactly and carries the SAME full SQL oracle.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..artifacts import persisted
from ..sources.store import load_events

META = "_hist_meta.json"


def _bucket(value, lo: float, width: float, n_buckets: int):
    # Clamp BOTH edges: values below the stored lo must land in bucket 0
    # (not a negative index), just as values >= hi land in the last bucket
    # — otherwise an upsert batch wider than the build range breaks the
    # fixed-histogram contract documented above.
    return F.greatest(
        F.lit(0),
        F.least(
            F.floor((value - F.lit(lo)) / F.lit(width)).cast("int"),
            F.lit(n_buckets - 1),
        ),
    )


def _counts(
    df: DataFrame, key_cols: list[str], value_col: str,
    lo: float, width: float, n_buckets: int,
) -> DataFrame:
    return (
        df.groupBy(
            *key_cols, _bucket(F.col(value_col), lo, width, n_buckets).alias("b")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )


def build_hist_store(
    df: DataFrame,
    out_dir: str,
    key_cols: list[str],
    value_col: str,
    lo: float,
    hi: float,
    n_buckets: int = 1000,
) -> None:
    """One keyed pass -> (key..., b, c) parquet + the bin geometry.
    The shuffle carries (key, bucket) partials with map-side combine,
    never raw values."""
    width = (hi - lo) / float(n_buckets)
    _counts(df, key_cols, value_col, lo, width, n_buckets).write.mode(
        "overwrite"
    ).parquet(out_dir)
    with open(os.path.join(out_dir, META), "w") as f:
        json.dump(
            {"lo": lo, "hi": hi, "n_buckets": n_buckets,
             "key_cols": key_cols, "value_col": value_col},
            f,
        )


def _meta(store_dir: str) -> dict:
    with open(os.path.join(store_dir, META)) as f:
        return json.load(f)


def hist_store_upsert(spark: SparkSession, store_dir: str, batch_df: DataFrame) -> None:
    """Fold a batch in: bucket with the STORED edges, add counts,
    rewrite. Integer addition makes the fold exact — building from
    everything and building-then-folding are bit-identical (pinned)."""
    m = _meta(store_dir)
    width = (m["hi"] - m["lo"]) / float(m["n_buckets"])
    new = _counts(
        batch_df, m["key_cols"], m["value_col"], m["lo"], width, m["n_buckets"]
    )
    merged = (
        spark.read.parquet(store_dir)
        .unionByName(new)
        .groupBy(*m["key_cols"], "b")
        .agg(F.sum("c").alias("c"))
        .localCheckpoint(eager=True)  # pin before overwriting the input
    )
    merged.write.mode("overwrite").parquet(store_dir)
    with open(os.path.join(store_dir, META), "w") as f:
        json.dump(m, f)


def hist_store_quantiles(
    spark: SparkSession, store_dir: str, ps: tuple[float, ...] = (0.5, 0.9, 0.99)
) -> DataFrame:
    """Quantile readout over the stored bucket table only (no fact
    scan): lower edge of the first bucket whose cumulative count
    crosses ceil(p*n) — byte-identical to histogram_quantiles when
    the store was built with the same bounds."""
    m = _meta(store_dir)
    width = (m["hi"] - m["lo"]) / float(m["n_buckets"])
    hist = spark.read.parquet(store_dir)
    keys = m["key_cols"]
    w = (
        Window.partitionBy(*keys)
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(*keys, "b", F.sum("c").over(w).alias("cum"))
    totals = hist.groupBy(*keys).agg(F.sum("c").alias("n"))

    def q_edge(p: float):
        need = F.ceil(F.lit(p) * F.col("n"))
        return F.min(F.when(F.col("cum") >= need, F.col("b")))

    g = (
        cum.join(F.broadcast(totals), keys)
        .groupBy(*keys, "n")
        .agg(*[q_edge(p).alias(f"b{int(p * 100)}") for p in ps])
    )

    def edge(bcol: str):
        return (
            F.round(
                F.lit(m["lo"]) + F.col(bcol).cast("double") * F.lit(width), 6
            )
            + F.lit(0.0)
        )

    return g.select(
        *keys,
        F.col("n").cast("bigint").alias("n"),
        *[edge(f"b{int(p * 100)}").alias(f"p{int(p * 100)}") for p in ps],
    )


def histogram_store_quantiles(
    spark: SparkSession, sf_dir: str, n_buckets: int = 1000
) -> DataFrame:
    """Gate entry: build the (event_type) value-histogram store with
    the whole-range bounds ``histogram_quantiles`` derives, serve
    p50/p90/p99 from the stored counts. Output and oracle identical
    to histogram_quantiles — the store path proves maintained state
    answers the same question without rescanning facts."""
    ev = load_events(spark, sf_dir).select("event_type", "value")

    def build(out: str) -> None:
        b = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi")).head()
        build_hist_store(
            ev, out, ["event_type"], "value",
            lo=float(b.lo), hi=float(b.hi), n_buckets=n_buckets,
        )

    return persisted(
        "hist", sf_dir, {"n_buckets": n_buckets}, build,
        lambda path: hist_store_quantiles(spark, path),
    )
