"""Persisted t-digest quantile store — mergeable quantiles with NO
fixed range (the missing rung between ``hist_store`` and raw
``percentile_approx``).

Public-knowledge basis: Dunning & Ertl, "Computing Extremely Accurate
Quantiles Using t-Digests" (arXiv:1902.04023) — the MERGING digest
variant with the k1 scale function k(q) = δ/(2π)·asin(2q−1), which
bounds each centroid's quantile span so rank error concentrates at
the tails where quantiles matter.

Why a third quantile path: ``hist_store`` is exact-mergeable but
needs bin geometry FIXED at build time (out-of-range folds clamp);
``percentile_approx`` rescans facts per question. The t-digest keeps
a constant-size centroid state per key with no range assumption —
new batches fold in regardless of their span, history is never
rescanned, and serving reads only the centroid table.

Determinism contract (what makes the gate row stable without an SQL
oracle): partial digests are built per (key, shard) where the shard
is a DETERMINISTIC function of the row (hash-mod, not partition id),
and the merge concatenates ALL centroids sorted by (mean, weight)
before one compression pass — so the result is a pure function of
the data, independent of partitioning, task order, and batch split
ORDER (the set of shards, not the sequence of folds, decides).
Accuracy (rank error vs exact quantiles) is pinned in
tests/test_tdigest.py — including AFTER folds. Unlike hist_store
(exact integer counts) a t-digest merge is lossy by design:
build-then-fold and build-on-all agree to digest accuracy, not bit
for bit — the price of dropping the fixed-range requirement. What IS
exact: the same batch sequence always produces the same state, and
serving is a pure function of the stored state.

100 TB shape: one keyed shuffle of (key, shard) partials (each a
≤δ-centroid blob, built map-side in Arrow batches), serving and
folds touch only centroid tables (constant-size per key), driver
collects nothing data-sized.
"""

from __future__ import annotations

import json
import math
import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

META = "_tdigest_meta.json"


# ------------------------------------------------ pure kernel (tested)


def compress(
    means: list[float], weights: list[float], delta: int
) -> tuple[list[float], list[float]]:
    """One merging-digest compression pass: centroids sorted by
    (mean, weight), then greedily absorbed while the k1 scale span
    k(q_right) − k(q_left) stays ≤ 1. Deterministic for a given
    multiset of centroids."""
    if not means:
        return [], []
    pairs = sorted(zip(means, weights))
    total = float(sum(weights))

    def k(q: float) -> float:
        return delta / (2.0 * math.pi) * math.asin(max(-1.0, min(1.0, 2.0 * q - 1.0)))

    out_m: list[float] = []
    out_w: list[float] = []
    cur_m, cur_w = pairs[0]
    acc = 0.0  # weight strictly before the current centroid
    for m, w in pairs[1:]:
        q0 = acc / total
        q2 = (acc + cur_w + w) / total
        if k(q2) - k(q0) <= 1.0:
            # absorb: exact weighted mean
            cur_m = (cur_m * cur_w + m * w) / (cur_w + w)
            cur_w += w
        else:
            out_m.append(cur_m)
            out_w.append(cur_w)
            acc += cur_w
            cur_m, cur_w = m, w
    out_m.append(cur_m)
    out_w.append(cur_w)
    return out_m, out_w


def quantile(
    means: list[float], weights: list[float], q: float
) -> float:
    """Standard t-digest estimation: piecewise-linear interpolation
    between centroid means at their cumulative-weight midpoints,
    clamped to the extreme centroid means."""
    if not means:
        return float("nan")
    if len(means) == 1:
        return means[0]
    total = float(sum(weights))
    target = q * total
    acc = 0.0
    # midpoint positions: centroid i sits at acc + w_i/2
    prev_pos = weights[0] / 2.0
    if target <= prev_pos:
        return means[0]
    acc = 0.0
    for i in range(len(means) - 1):
        pos_i = acc + weights[i] / 2.0
        acc += weights[i]
        pos_j = acc + weights[i + 1] / 2.0
        if target <= pos_j:
            frac = (target - pos_i) / (pos_j - pos_i)
            # Convex combination, NOT means[i] + frac*(delta): the latter
            # overshoots means[i+1] by one ulp when frac == 1.0 and the
            # means differ in magnitude, breaking monotonicity and the
            # min/max clamp contract. Clamp into the segment for safety.
            est = means[i] * (1.0 - frac) + means[i + 1] * frac
            lo, hi = min(means[i], means[i + 1]), max(means[i], means[i + 1])
            return min(max(est, lo), hi)
    return means[-1]


# -------------------------------------------------- distributed build


_PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("shard", T.IntegerType()),
        T.StructField("means", T.ArrayType(T.DoubleType())),
        T.StructField("weights", T.ArrayType(T.DoubleType())),
    ]
)


def _partials(
    df: DataFrame, key_col: str, value_col: str, shard_col, n_shards: int,
    delta: int,
) -> DataFrame:
    """(key, shard, means, weights): deterministic shard partials.
    The shard is hash-mod of a row attribute, NOT the task partition,
    so the partial set is a pure function of the data."""
    src = df.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(value_col).cast("double").alias("v"),
        (F.abs(F.xxhash64(shard_col)) % n_shards).cast("int").alias("shard"),
    ).filter(F.col("v").isNotNull())

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from collections import defaultdict

        # raw values buffered per cell, ONE compression at the end:
        # a partial is then a pure function of its cell's value
        # multiset (compress sorts), never of Arrow batch boundaries
        # or row order — this is the determinism contract. Memory is
        # O(largest cell); n_shards is the knob that bounds cell size
        # (raise it for hot keys — the salting dial).
        acc: dict[tuple[str, int], list[float]] = defaultdict(list)
        for pdf in batches:
            for key, shard, v in zip(pdf["key"], pdf["shard"], pdf["v"]):
                acc[(key, int(shard))].append(float(v))
        rows = []
        for (key, shard), vals in acc.items():
            cm, cw = compress(vals, [1.0] * len(vals), delta)
            rows.append((key, shard, cm, cw))
        yield pd.DataFrame(rows, columns=["key", "shard", "means", "weights"])

    # group map-side by (key, shard) FIRST so each partial sees all of
    # its shard's rows in one task — one keyed shuffle, Arrow both ways
    return (
        src.repartition("key", "shard")
        .mapInPandas(build, schema=_PARTIAL_SCHEMA)
    )


def build_tdigest_store(
    df: DataFrame,
    out_dir: str,
    key_col: str,
    value_col: str,
    shard_col: str,
    n_shards: int = 64,
    delta: int = 100,
) -> None:
    """One keyed pass → per-key centroid table + meta. The stored
    state keeps the SHARD partials (not one folded digest) so an
    upsert re-compresses only the touched (key, shard) cells and the
    serving fold sees the same cell granularity either way."""
    p = _partials(df, key_col, value_col, F.col(shard_col), n_shards, delta)
    merged = _recompress_shards(p, delta)
    merged.write.mode("overwrite").parquet(out_dir)
    with open(os.path.join(out_dir, META), "w") as f:
        json.dump(
            {"key_col": key_col, "value_col": value_col,
             "shard_col": shard_col, "n_shards": n_shards, "delta": delta},
            f,
        )


def _recompress_shards(partials: DataFrame, delta: int) -> DataFrame:
    """Normalize per (key, shard): one digest row per shard cell."""

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        key = pdf["key"].iloc[0]
        shard = int(pdf["shard"].iloc[0])
        means: list[float] = []
        weights: list[float] = []
        for m, w in zip(pdf["means"], pdf["weights"]):
            means.extend(m)
            weights.extend(w)
        m, w = compress(means, weights, delta)
        return pd.DataFrame(
            [(key, shard, m, w)], columns=["key", "shard", "means", "weights"]
        )

    return partials.groupBy("key", "shard").applyInPandas(
        fold, schema=_PARTIAL_SCHEMA
    )


def tdigest_store_upsert(
    spark: SparkSession, store_dir: str, batch_df: DataFrame
) -> None:
    """Fold a batch in: shard it with the STORED shard function,
    union with the stored partials, re-compress per (key, shard),
    rewrite. The shard is a row function, so the batch split never
    changes WHICH cell a value lands in — build-then-fold matches
    build-on-all to digest accuracy (rank-error pinned; a t-digest
    merge of pre-compressed centroids is lossy by design, so bit
    equality is not the contract — determinism and accuracy are)."""
    m = _meta(store_dir)
    new = _partials(
        batch_df, m["key_col"], m["value_col"], F.col(m["shard_col"]),
        m["n_shards"], m["delta"],
    )
    merged = (
        spark.read.parquet(store_dir)
        .unionByName(new)
        .transform(lambda d: _recompress_shards(d, m["delta"]))
        .localCheckpoint(eager=True)  # pin before overwriting the input
    )
    merged.write.mode("overwrite").parquet(store_dir)
    with open(os.path.join(store_dir, META), "w") as f:
        json.dump(m, f)


def _meta(store_dir: str) -> dict:
    with open(os.path.join(store_dir, META)) as f:
        return json.load(f)


def tdigest_store_quantiles(
    spark: SparkSession,
    store_dir: str,
    ps: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Quantile readout over the stored centroid table only: fold the
    shards per key (sorted concat + one compress — deterministic),
    interpolate. Output (key, n, p50, p90, p99 …) rounded to 6."""
    m = _meta(store_dir)
    delta = m["delta"]
    stored = spark.read.parquet(store_dir)

    cols = ["key", "n"] + [f"p{int(p * 100)}" for p in ps]

    def serve(pdf: pd.DataFrame) -> pd.DataFrame:
        key = pdf["key"].iloc[0]
        means: list[float] = []
        weights: list[float] = []
        for mm, ww in zip(pdf["means"], pdf["weights"]):
            means.extend(mm)
            weights.extend(ww)
        cm, cw = compress(means, weights, delta)
        row = [key, float(sum(cw))] + [
            round(quantile(cm, cw, p), 6) + 0.0 for p in ps
        ]
        return pd.DataFrame([row], columns=cols)

    schema = T.StructType(
        [T.StructField("key", T.StringType()), T.StructField("n", T.DoubleType())]
        + [T.StructField(f"p{int(p * 100)}", T.DoubleType()) for p in ps]
    )
    return stored.groupBy("key").applyInPandas(serve, schema=schema)


def tdigest_quantiles(
    spark: SparkSession, sf_dir: str, delta: int = 100
) -> DataFrame:
    """Gate entry: build the per-event-type value digest store (shard
    = hash(event_id) — deterministic) and serve p50/p90/p99 from the
    centroid state. Rows-only (no engine replays a t-digest); rank
    accuracy vs exact quantiles pinned in tests/test_tdigest.py."""
    from ..artifacts import persisted
    from ..sources.store import load_events

    return persisted(
        "td", sf_dir, {"delta": delta},
        lambda out: build_tdigest_store(
            load_events(spark, sf_dir).select("event_type", "value", "event_id"),
            out, "event_type", "value", "event_id", delta=delta,
        ),
        lambda path: tdigest_store_quantiles(spark, path),
    )
