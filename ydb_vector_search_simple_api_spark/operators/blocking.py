"""Sorted-neighborhood blocking (Hernández & Stolfo, SIGMOD 1995 —
the classic record-linkage/merge-purge method; public algorithm).

The third blocking family next to LSH banding (probabilistic) and
prefix filtering (threshold-derived): sort the corpus by a cheap
normalized key and compare only rows within a fixed WINDOW of the
sorted order. Near-duplicates that share their leading content land
adjacent and get verified; everything else is never paired. Unlike
LSH it is deterministic and parameter-light (key + window), unlike
prefix filtering it needs no per-pair bound — the trade is recall:
a duplicate whose edit is inside the sort key can sort far away
(the known SNM failure mode, usually countered with a second pass
on a different key — see :func:`sorted_neighborhood_multi_key`).

100 TB plan shape (the part that needs care — a naive global
row_number is one reducer): the sort key's leading characters form
an ORDER-PRESERVING bucket (a prefix of the key), so the global rank
decomposes into per-bucket local ranks (parallel windows) plus
bucket offsets. Offsets come from one bucket-count aggregate whose
driver collect is bucket-domain-sized (bounded by the charset², not
the data — the repo's bounded-collect contract). Candidate pairing
is a keyed self-join on rank blocks of size window-1 with each row
replicated once (its block and the one below), so a row meets
exactly the rows within window-1 ranks — never a cartesian stage.
Verification is the exact JVM-codegen Levenshtein cut of
``dedup.neardup_edit_distance``, run on candidates only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..branches import run_branches

ROUND = 6


def _sort_key(text_col: str, key_len: int):
    """Whitespace-collapsed, lowercased, trimmed prefix — cheap,
    deterministic, and identical in the DuckDB twin."""
    return F.substring(
        F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "),
        1,
        key_len,
    )


def snm_ranks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    key_len: int = 24,
    bucket_len: int = 2,
) -> DataFrame:
    """(id, text, key, rank): the global sorted-neighborhood rank,
    computed WITHOUT a global single-reducer window. rank is
    row_number over (key, id) exactly — the bucket is a prefix of the
    key, so (bucket, key, id) order == (key, id) order, local ranks
    run as parallel per-bucket windows, and adding the bucket's
    cumulative offset (one bucket-count aggregate, driver collect
    bounded by the bucket DOMAIN) recovers the global rank."""
    spark = df.sparkSession
    keyed = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("text"),
        _sort_key(text_col, key_len).alias("key"),
    ).withColumn("bucket", F.substring(F.col("key"), 1, bucket_len))
    w = Window.partitionBy("bucket").orderBy(F.col("key").asc(), F.col("id").asc())
    local = keyed.withColumn("lrank", F.row_number().over(w))
    counts = sorted(
        (r.bucket, r.c)
        for r in local.groupBy("bucket").agg(F.count(F.lit(1)).alias("c")).collect()
    )
    offsets, acc = [], 0
    for b, c in counts:
        offsets.append((b, acc))
        acc += c
    off = spark.createDataFrame(offsets, "bucket string, off bigint")
    return (
        local.join(F.broadcast(off), "bucket")
        .select(
            "id", "text", "key", (F.col("off") + F.col("lrank")).alias("rank")
        )
    )


_ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789 "


def _char_counts(text_col):
    """Fixed-alphabet character histogram (codegen: one replace +
    length per symbol). Lossless counting-filter basis: one edit
    moves the histogram's L1 by at most 2, so dist >= L1/2 — and
    restricting to a fixed alphabet only LOWERS the L1, keeping the
    bound sound for any input."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.array(
        *[
            (F.length(c) - F.length(F.replace(c, F.lit(ch)))).cast("int")
            for ch in _ALPHABET
        ]
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    key_len: int = 24,
    window: int = 8,
    max_rel_dist: float = 0.2,
    round_digits: int | None = ROUND,
) -> DataFrame:
    """Candidate pairs within ``window`` positions of the sorted
    order, verified by exact Levenshtein at ``max_rel_dist`` of the
    longer text (the ``neardup_edit_distance`` verify contract).
    Output (id_a, id_b, dist, rel_dist), id_a < id_b."""
    # both join sides and the verify stage read the ranked table —
    # materialize it once (it already paid a driver-synchronous
    # bucket-count pass inside snm_ranks, so the plan is not lazy
    # anyway; the checkpoint stops the window+join lineage re-running
    # per consumer)
    r = (
        snm_ranks(df, id_col, text_col, key_len)
        .withColumn("cc", _char_counts("text"))
        .localCheckpoint(eager=True)
    )
    blk_size = max(1, window - 1)
    a = r.select(
        F.col("id").alias("ida"),
        F.col("text").alias("ta"),
        F.col("cc").alias("ca"),
        F.col("rank").alias("ra"),
        F.floor((F.col("rank") - 1) / blk_size).alias("blk"),
    )
    # each probe-side row lands in its own block and the one below, so
    # a (low, high) pair with rank gap <= window-1 meets exactly once
    b = (
        r.select(
            F.col("id").alias("idb"),
            F.col("text").alias("tb"),
            F.col("cc").alias("cb"),
            F.col("rank").alias("rb"),
            F.floor((F.col("rank") - 1) / blk_size).alias("b_blk"),
        )
        .select(
            "idb", "tb", "cb", "rb",
            F.explode(
                F.array(F.col("b_blk"), F.col("b_blk") - 1)
            ).alias("blk"),
        )
    )
    cand = a.join(b, "blk").filter(
        (F.col("rb") > F.col("ra")) & (F.col("rb") <= F.col("ra") + (window - 1))
    )
    # Unlike LSH candidates (already similarity-screened), SNM window
    # pairs are mostly NON-duplicates — the exact DP must not run
    # unbounded on all of them. Three output-identical cuts:
    # (a) |len_a − len_b| > cut ⇒ dist ≥ |len_a − len_b| > cut — drop
    #     before any DP;
    # (b) the counting filter: dist ≥ L1(char histograms)/2 (one edit
    #     moves the L1 by ≤ 2) — a ~40-op codegen fold per pair that
    #     kills the typical sorted-but-unrelated neighbor before the
    #     O(len²) DP ever runs;
    # (c) the banded early-exit form levenshtein(a, b, B) with the
    #     GLOBAL bound B = floor(max_rel·max_len): a surviving pair
    #     needs dist ≤ max_rel·longer ≤ B, and the bounded form is
    #     exact whenever dist ≤ B, so kept pairs carry the exact
    #     integer distance and -1 rows are exactly the over-cut ones.
    # max text length read off the ALREADY-materialized ranked
    # checkpoint (round 12, guide §2.4 — remove passes: the previous
    # form re-scanned the source parquet + re-ran the normalization
    # projection just for one scalar)
    max_len = int(r.agg(F.max(F.length("text")).alias("m")).head().m or 0)
    bound = max(1, int(max_rel_dist * max_len))
    len_gap_ok = (
        F.abs(F.length("ta") - F.length("tb")).cast("double")
        <= F.lit(float(max_rel_dist))
        * F.greatest(F.length("ta"), F.length("tb")).cast("double")
    )
    l1 = F.aggregate(
        F.zip_with(F.col("ca"), F.col("cb"), lambda x, y: F.abs(x - y)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    counting_ok = l1.cast("double") <= F.lit(2.0 * float(max_rel_dist)) * F.greatest(
        F.length("ta"), F.length("tb")
    ).cast("double")
    # The DP must run ONCE per candidate: Catalyst has no let-binding
    # and pushes the dist filter INTO the join condition, where the
    # levenshtein expression is re-inlined per reference (observed:
    # 3 evaluations per pair). The eager checkpoint is a physical
    # barrier between "compute dist" and "filter on dist" — its size
    # is the candidate count x a few ints, never corpus-scale.
    scored = (
        cand.filter(len_gap_ok)
        .filter(counting_ok)
        .select(
            F.least("ida", "idb").alias("id_a"),
            F.greatest("ida", "idb").alias("id_b"),
            F.levenshtein(F.col("ta"), F.col("tb"), bound)
            .cast("bigint")
            .alias("dist"),
            F.greatest(F.length("ta"), F.length("tb")).alias("longer"),
        )
        .localCheckpoint(eager=True)
        .filter(
            (F.col("dist") >= 0)
            & (
                F.col("dist").cast("double")
                <= F.lit(float(max_rel_dist)) * F.col("longer").cast("double")
            )
        )
    )
    rel = F.when(F.col("longer") == 0, F.lit(0.0)).otherwise(
        F.col("dist").cast("double") / F.col("longer").cast("double")
    )
    if round_digits is not None:
        rel = F.round(rel, round_digits) + F.lit(0.0)
    return scored.select("id_a", "id_b", "dist", rel.alias("rel_dist"))


def sorted_neighborhood_multi_key(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    key_len: int = 24,
    window: int = 8,
    max_rel_dist: float = 0.2,
) -> DataFrame:
    """The standard SNM recall fix: a second pass sorted by a
    DIFFERENT key (here the reversed normalized prefix — leading-edit
    duplicates that escape pass 1 sort together when the text is
    read from the tail) unioned and deduplicated. Output as
    :func:`sorted_neighborhood_pairs`."""
    rev = df.select(
        F.col(id_col).alias(id_col),
        F.reverse(F.col(text_col)).alias(text_col),
    )
    # the two passes are independent, driver-blocking job chains
    args = (id_col, text_col, key_len, window, max_rel_dist)
    p1, p2 = run_branches(df.sparkSession, {
        "snm/forward": lambda: sorted_neighborhood_pairs(df, *args),
        "snm/reversed": lambda: sorted_neighborhood_pairs(rev, *args),
    }).values()
    # scores are key-independent (exact Levenshtein is reverse-
    # invariant), so a plain distinct-union merges the passes
    return p1.unionByName(p2).distinct()
