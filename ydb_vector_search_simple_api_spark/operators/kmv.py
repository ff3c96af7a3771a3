"""KMV (k-minimum-values) distinct sketches with set algebra.

The sketch family's missing lens: HLL (``sketch_store``) answers
union-only distinct counts; the KMV / bottom-k sketch additionally
supports INTERSECTION and Jaccard estimates across groups — "how many
users did both A and B touch", "what fraction of source X's vocabulary
appears in source Y" — because the k smallest hash values of a set are
a uniform sample of its distinct elements (Bar-Yossef et al. 2002;
Beyer et al. 2007 "Distinct-Value Synopses").

Semantics:

- A group's sketch is the sorted list of the k smallest 48-bit
  md5-prefix hashes of its distinct keys.
- If a sketch holds FEWER than k values it saw every distinct hash and
  the estimate is EXACT — that regime is what the DuckDB oracle pins
  (COUNT(DISTINCT ...) equality, modulo 48-bit collisions with
  probability ~d²/2^49). With k exceeded, the estimator is the
  classic ``(k-1)·M / h_(k)`` (M = hash-space size), and for a pair
  the k-min values of the UNION are a uniform sample in which the
  fraction belonging to both sides estimates the Jaccard index.

Scale shape (100 TB posture):

- Two builds, both with bounded buffers and no global sort:
  :func:`kmv_sketch` (default) is a salted two-level k-min fold in
  ONE scan; :func:`kmv_sketch_filtered` adds an HLL sizing pass so
  only ~4k survivor hashes per group ever shuffle — the shape for
  extreme cardinality. Foils (unbounded ``collect_set``, ranked
  windows over every distinct pair) measured and rejected in
  ``tools/kmv_scale_probe.py``.
- Sketches are mergeable (k smallest of the concatenation), so
  per-partition / per-day partial sketches fold without rescanning
  facts — same contract as the HLL/t-digest stores.
- The pairwise report joins the EXPLODED sketch rows (≤ groups·k)
  against the broadcast group-pair table — cost is sketch-sized,
  never corpus-sized.

Engine parity: hashes are exact BIGINTs, ranks are integer windows,
and the only float is the final estimate division / ROUND(...,6)
Jaccard — in the oracle-pinned exact regime even those are ratios of
exact integers.

Reference note: no sketch surface exists in the reference (app.py);
extension scope per SURVEY.md ("beyond the reference").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..artifacts import persisted
from ..sources.store import load_events

#: hex digits of the md5 prefix — 48-bit hash space.
_HEX = 12
#: hash-space size M = 16^12 = 2^48.
SPACE = 16**_HEX
#: default sketch size.
DEFAULT_K = 512
#: salt buckets for the stage-1 partial k-min fold (buffer bound =
#: distinct-per-group / N_SALTS; raise with cardinality).
N_SALTS = 32


def _h(col: Column) -> Column:
    """48-bit md5-prefix hash as BIGINT (engine-portable: the DuckDB
    twin decodes the same 12 hex digits)."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, _HEX), 16, 10).cast(
        "bigint"
    )


def kmv_sketch(
    df: DataFrame,
    key: str,
    groups: list[str],
    k: int = DEFAULT_K,
    n_salts: int = N_SALTS,
) -> DataFrame:
    """Per-group KMV sketch: (groups..., sketch array<bigint> sorted
    ascending, n_min = len(sketch) ≤ k).

    Salted two-level k-min build — ONE scan, bounded buffers: the k
    smallest of a union are the k smallest of each part's k smallest,
    so stage 1 reduces every (group, h % n_salts) cell to its k-min
    list (aggregation buffer ≤ distinct/n_salts) and stage 2 folds
    the ≤ ``n_salts·k`` survivors per group. Raise ``n_salts`` with
    cardinality; for the extreme regime where even the salted shuffle
    of distinct pairs is the bottleneck, :func:`kmv_sketch_filtered`
    trades a second scan for a survivor-only shuffle (both measured
    in ``tools/kmv_scale_probe.py``).
    """
    hdf = df.select(*groups, _h(F.col(key)).alias("h"))
    part = hdf.groupBy(*groups, (F.col("h") % n_salts).alias("_salt")).agg(
        F.slice(F.sort_array(F.collect_set("h")), 1, k).alias("_part")
    )
    vals = part.select(*groups, F.explode("_part").alias("h"))
    sk = vals.groupBy(*groups).agg(
        F.slice(F.sort_array(F.collect_set("h")), 1, k).alias("sketch")
    )
    return sk.select(
        *groups, "sketch", F.size("sketch").cast("bigint").alias("n_min")
    )


def kmv_sketch_filtered(
    df: DataFrame, key: str, groups: list[str], k: int = DEFAULT_K
) -> DataFrame:
    """Threshold-filter KMV build (the DataSketches-style shape for
    EXTREME per-group cardinality, where shuffling every distinct
    (group, hash) pair — which :func:`kmv_sketch` still does — is the
    bottleneck):

    1. one ``approx_count_distinct`` pass per group (map-side HLL
       buffers) estimates ``d_g``;
    2. the scan keeps only rows with ``h < S·(c·k/d_g)`` — a map-side
       predicate passing ~``c·k`` hashes per group (c = 4 over the
       ±2% HLL error), so only survivors shuffle;
    3. a deterministic escalation loop (c ×8) re-runs any group whose
       filtered sketch came back deficient (< k values despite a
       below-space threshold) — HLL tail insurance; output is
       identical to the unfiltered build.
    """
    hdf = df.select(*groups, _h(F.col(key)).alias("h"))
    dest = hdf.groupBy(*groups).agg(
        F.approx_count_distinct("h").alias("_d")
    )
    c = 4.0
    done: DataFrame | None = None
    pending = dest
    while True:
        # per-group threshold: full space when d_g is small enough
        thr = F.least(
            F.lit(float(SPACE)),
            F.ceil(F.lit(float(SPACE)) * F.lit(c) * F.lit(float(k)) / F.col("_d")).cast(
                "double"
            ),
        )
        cand = (
            hdf.join(F.broadcast(pending.select(*groups, thr.alias("_t"))), groups)
            .filter(F.col("h") < F.col("_t"))
            .select(*groups, "h", "_t")
            .distinct()
        )
        sk = cand.groupBy(*groups, "_t").agg(
            F.slice(F.sort_array(F.collect_set("h")), 1, k).alias("sketch")
        )
        sk = sk.select(
            *groups,
            "sketch",
            F.size("sketch").cast("bigint").alias("n_min"),
            (
                (F.size("sketch") < k) & (F.col("_t") < F.lit(float(SPACE)))
            ).alias("_deficient"),
        ).persist()  # group-count rows; keeps the isEmpty() probe from
        # recomputing the candidate pass when the result is consumed
        ok = sk.filter(~F.col("_deficient")).drop("_deficient")
        done = ok if done is None else done.unionByName(ok)
        bad = sk.filter(F.col("_deficient")).select(*groups)
        if bad.isEmpty():
            break
        pending = dest.join(F.broadcast(bad), groups, "left_semi")
        c *= 8.0
    return done


def kmv_merge(sketches: DataFrame, groups: list[str], k: int = DEFAULT_K) -> DataFrame:
    """Merge partial sketches sharing the same group key: k smallest
    of the deduped concatenation — the fold the incremental stores
    use. Idempotent and associative."""
    vals = sketches.select(*groups, F.explode("sketch").alias("h")).distinct()
    w = Window.partitionBy(*groups).orderBy("h")
    topk = vals.withColumn("_r", F.row_number().over(w)).filter(F.col("_r") <= k)
    return topk.groupBy(*groups).agg(
        F.sort_array(F.collect_list("h")).alias("sketch"),
        F.count("*").cast("bigint").alias("n_min"),
    )


def kmv_estimate(sketches: DataFrame, k: int = DEFAULT_K) -> DataFrame:
    """Append the distinct-count estimate: exact ``n_min`` when the
    sketch is unsaturated, else ``(k-1)·M / h_(k)`` rounded to BIGINT."""
    kth = F.element_at(F.col("sketch"), k)
    est = F.when(F.col("n_min") < k, F.col("n_min")).otherwise(
        F.round(F.lit(float(k - 1)) * F.lit(float(SPACE)) / kth.cast("double"), 0)
    )
    return sketches.withColumn("est_distinct", est.cast("bigint")).withColumn(
        "exact", F.col("n_min") < k
    )


def kmv_pair_report(
    sketches: DataFrame, group: str, k: int = DEFAULT_K
) -> DataFrame:
    """All-pairs set-algebra report from per-group sketches:
    (a, b, n_union_sketch, n_common, union_est, inter_est, jaccard).

    The k smallest hashes of A∪B are exactly the k smallest of the
    merged sketches; the fraction of them present in BOTH sketches
    estimates Jaccard (exactly, when the union sketch is
    unsaturated)."""
    vals = sketches.select(
        F.col(group).alias("g"), F.explode("sketch").alias("h")
    )
    names = sketches.select(F.col(group).alias("g")).distinct()
    pairs = (
        names.select(F.col("g").alias("a"))
        .crossJoin(names.select(F.col("g").alias("b")))
        .filter(F.col("a") < F.col("b"))
    )
    # (a, b, h, in_a, in_b) — sketch-sized, pairs broadcast
    tagged = (
        vals.join(
            F.broadcast(pairs),
            (F.col("g") == F.col("a")) | (F.col("g") == F.col("b")),
        )
        .groupBy("a", "b", "h")
        .agg(
            F.max((F.col("g") == F.col("a")).cast("int")).alias("in_a"),
            F.max((F.col("g") == F.col("b")).cast("int")).alias("in_b"),
        )
    )
    w = Window.partitionBy("a", "b").orderBy("h")
    union_k = tagged.withColumn("_r", F.row_number().over(w)).filter(
        F.col("_r") <= k
    )
    agg = union_k.groupBy("a", "b").agg(
        F.count("*").cast("bigint").alias("n_union_sketch"),
        F.sum((F.col("in_a") * F.col("in_b"))).cast("bigint").alias("n_common"),
        F.max("h").alias("kth"),
    )
    union_est = F.when(
        F.col("n_union_sketch") < k, F.col("n_union_sketch").cast("double")
    ).otherwise(
        F.round(
            F.lit(float(k - 1)) * F.lit(float(SPACE)) / F.col("kth").cast("double"),
            0,
        )
    )
    return agg.select(
        "a",
        "b",
        "n_union_sketch",
        "n_common",
        union_est.cast("bigint").alias("union_est"),
        F.round(
            F.col("n_common").cast("double")
            / F.col("n_union_sketch").cast("double")
            * union_est,
            0,
        )
        .cast("bigint")
        .alias("inter_est"),
        (
            F.round(
                F.col("n_common").cast("double")
                / F.col("n_union_sketch").cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("jaccard"),
    )


# ------------------------------------------------------- gate entries


def kmv_distinct_by_type(
    spark: SparkSession, sf_dir: str, k: int = DEFAULT_K
) -> DataFrame:
    """Distinct users per event type through the KMV machinery —
    unsaturated at the gate SFs, so ``est_distinct`` must equal the
    oracle's COUNT(DISTINCT user_id) exactly."""
    ev = load_events(spark, sf_dir)
    sk = kmv_sketch(ev, "user_id", ["event_type"], k=k)
    return kmv_estimate(sk, k=k).select(
        "event_type", "n_min", "est_distinct", "exact"
    )


def kmv_user_overlap(
    spark: SparkSession, sf_dir: str, k: int = DEFAULT_K
) -> DataFrame:
    """Pairwise audience overlap between event types (union /
    intersection / Jaccard) from sketches alone — never re-touching
    the fact table per pair."""
    ev = load_events(spark, sf_dir)
    sk = kmv_sketch(ev, "user_id", ["event_type"], k=k)
    return kmv_pair_report(sk, "event_type", k=k).select(
        F.col("a").alias("type_a"),
        F.col("b").alias("type_b"),
        "n_union_sketch",
        "n_common",
        "union_est",
        "inter_est",
        "jaccard",
    )


# ------------------------------------------------------ persisted store

#: store marker file (parquet _SUCCESS is enough; kept for symmetry
#: with the other stores' META probes).
META = "_SUCCESS"


def build_kmv_store(
    df: DataFrame, out_dir: str, key: str, groups: list[str], k: int = DEFAULT_K
) -> None:
    """One pass: (groups..., sketch, n_min) parquet table — state is
    ``k`` BIGINTs per group, never raw keys."""
    kmv_sketch(df, key, groups, k=k).write.mode("overwrite").parquet(out_dir)


def kmv_store_upsert(
    spark: SparkSession,
    store_dir: str,
    batch_df: DataFrame,
    key: str,
    groups: list[str],
    k: int = DEFAULT_K,
) -> None:
    """Fold a new batch in: sketch the batch, k-min-merge with the
    stored sketches per group, rewrite. The merge is associative,
    commutative and idempotent (k smallest of a set union), so replay
    and arrival order are both safe — the same algebra the HLL store
    pins, here with EXACT array equality (tests/test_kmv.py
    merge==whole)."""
    new = kmv_sketch(batch_df, key, groups, k=k)
    old = spark.read.parquet(store_dir)
    merged = kmv_merge(
        old.select(*groups, "sketch").unionByName(new.select(*groups, "sketch")),
        groups,
        k=k,
    ).localCheckpoint(eager=True)  # pin before overwriting the input
    merged.write.mode("overwrite").parquet(store_dir)


def kmv_store_pair_report(
    spark: SparkSession, store_dir: str, group: str, k: int = DEFAULT_K
) -> DataFrame:
    """Serve the pairwise union/intersection/Jaccard report from
    stored sketches — the set-algebra rollup with no fact rescan."""
    return kmv_pair_report(spark.read.parquet(store_dir), group, k=k)


def kmv_store_overlap(
    spark: SparkSession, sf_dir: str, k: int = DEFAULT_K
) -> DataFrame:
    """Gate entry: build the per-type user sketch store from the FIRST
    half of the events stream, fold the second half in via
    ``kmv_store_upsert``, serve the pair report from the store. The
    k-min merge is lossless, so output — and oracle — are identical
    to ``kmv_user_overlap``: maintained state answers the same
    question without rescanning facts."""
    ev = load_events(spark, sf_dir).select("event_id", "event_type", "user_id")

    def build(out: str) -> None:
        half = ev.agg(F.expr("percentile_approx(event_id, 0.5)")).head()[0]
        build_kmv_store(
            ev.filter(F.col("event_id") <= half), out, "user_id",
            ["event_type"], k=k,
        )
        kmv_store_upsert(
            spark, out, ev.filter(F.col("event_id") > half), "user_id",
            ["event_type"], k=k,
        )

    store = persisted("kmv", sf_dir, {"k": k}, build, lambda path: path)
    return kmv_store_pair_report(spark, store, "event_type", k=k).select(
        F.col("a").alias("type_a"),
        F.col("b").alias("type_b"),
        "n_union_sketch",
        "n_common",
        "union_est",
        "inter_est",
        "jaccard",
    )
