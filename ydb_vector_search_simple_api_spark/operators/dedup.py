"""Deduplication operators for the large-scale training-data pipeline.

The reference has no dedup surface; these are north-star extensions
(BASELINE.json) designed Spark-first for 100 TB corpora:

* **exact**: hash-groupBy on a normalized-text fingerprint. One
  shuffle on a 32-byte key; map-side partial aggregation does the
  heavy lifting.
* **n-gram Jaccard**: inverted-index self-join on distinct word
  shingles -> exact Jaccard on the co-occurrence counts. The join key
  is the shingle, so only documents *sharing* a shingle ever meet —
  no all-pairs blowup. A document-frequency cap drops ubiquitous
  shingles (stopword phrases), which is both a quality and a skew
  fix: the hottest keys are exactly the useless ones.
* **MinHash + LSH banding**: linear-cost candidate generation when
  even the inverted index is too dense. Signatures via ``xxhash64``
  (JVM, per-seed salting), OR-of-AND banding, then *exact* Jaccard
  verification of candidates — output precision is 1.0 by
  construction; banding only affects recall.
* **SimHash**: 64-bit near-dup fingerprint via per-bit majority vote
  over token hashes; pairs within a small Hamming radius. Explode ->
  sum 64 sign-counters -> pack; all JVM built-ins with map-side
  partial aggs.
* **embedding cosine**: exact all-pairs above a similarity threshold
  (oracle-able); the scale path prunes with the IVF index first
  (same-cluster blocking) — see ``neardup_cosine_blocked``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as TXT
from ..functions.distance import dot, l2_norm


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Heavy per-row compute (shingling, signatures, pair scoring) is
    bounded by the scan's split count. A 100 TB corpus scans as
    thousands of splits (no-op here); a small local file scans as ONE,
    serializing everything downstream — repartition up to the cluster's
    parallelism in that case."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    # Catalyst's size estimate (file sizes for parquet scans) is a
    # driver-side metadata read — unlike df.rdd.getNumPartitions(),
    # it does not force physical planning / RDD materialization.
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return df.repartition(target)
    # under ~4 MB/core the scan almost certainly has fewer splits than
    # cores; above it the source's own split count is adequate.
    if size < target * 4 * 1024 * 1024:
        return df.repartition(target)
    return df


def shingled_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, sh: array<string>) with the shingle array built from a
    token array MATERIALIZED behind one shuffle barrier.

    Two scale facts force this shape: (a) Catalyst has no let-binding,
    so an expression referenced k times is evaluated k times — the
    regex tokenization would otherwise re-run per element_at reference
    (O(grams x n) splits per row) and again per MinHash seed;
    (b) projections collapse, so only a physical barrier (the
    repartition exchange) pins the token array to be computed exactly
    once. One linear shuffle of tokenized rows buys k-fold reuse
    downstream — the right trade at any scale. The same exchange is
    shared by every consumer of this table in one query
    (ReusedExchange), e.g. LSH banding + verification self-joins."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        # Catalyst size estimate (metadata, no RDD materialization):
        # keep ~64 MB of source text per partition at scale. Plans
        # without stats report the defaultSizeInBytes sentinel
        # (Long.MaxValue-ish); only trust plausible sizes, else a
        # 3-row in-memory relation would repartition to 65536.
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        if size < (1 << 50):
            target = max(target, min(size // (64 << 20), 1 << 16))
    except Exception:
        pass
    # extra_cols ride along (e.g. the text itself, so an admission
    # filter can emit full candidate ROWS without a second corpus
    # scan to re-fetch them — the decontaminate_bloom verify shape)
    toks = df.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in extra_cols],
        TXT.tokens(text_col).alias("toks"),
    ).repartition(target, "id")
    return toks.select(
        "id",
        *extra_cols,
        F.array_distinct(TXT.shingles_from_tokens(F.col("toks"), n)).alias("sh"),
    )


# --------------------------------------------------------------- exact


def exact_dup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Group identical (normalized) texts: (text_hash, keep_id, n_copies).

    The dedup policy is deterministic: keep the minimum id.
    """
    return (
        df.select(
            F.col(id_col).alias("id"),
            TXT.content_fingerprint(text_col).alias("text_hash"),
        )
        .groupBy("text_hash")
        .agg(
            F.min("id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ------------------------------------------------- n-gram Jaccard join


def shingle_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    doc_freq_cap: int | None = None,
) -> DataFrame:
    """(id, shingle) pairs, one row per *distinct* shingle per doc.
    ``doc_freq_cap`` drops shingles appearing in more than that many
    docs — skew + quality control for the self-join."""
    sh = shingled_table(df, id_col, text_col, n).select(
        "id", F.explode("sh").alias("shingle")
    )
    if doc_freq_cap is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > doc_freq_cap)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    return sh


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    doc_freq_cap: int | None = None,
    round_digits: int | None = 6,
) -> DataFrame:
    """Near-duplicate pairs by exact n-gram-shingle Jaccard similarity.

    Inverted-index self-join: docs meet only through shared shingles;
    Jaccard = |A∩B| / (|A|+|B|-|A∩B|) from the co-occurrence count and
    per-doc distinct-shingle counts. Output (id_a, id_b, jaccard),
    id_a < id_b.
    """
    sh = shingle_table(df, id_col, text_col, n, doc_freq_cap)
    counts = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))

    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    ca = counts.select(F.col("id").alias("id_a"), F.col("n_shingles").alias("n_a"))
    cb = counts.select(F.col("id").alias("id_b"), F.col("n_shingles").alias("n_b"))
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    ).cast("double")
    if round_digits is not None:
        jac = F.round(jac, round_digits) + F.lit(0.0)
    return (
        inter.join(ca, "id_a")
        .join(cb, "id_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    round_digits: int | None = 6,
) -> DataFrame:
    """Near-dup pairs by the OVERLAP COEFFICIENT (Szymkiewicz-Simpson)
    c(A,B) = |A∩B| / min(|A|,|B|) over distinct word n-grams — the
    ASYMMETRIC-duplicate detector. A short document embedded verbatim
    inside a much longer one scores c = 1.0 but Jaccard ≈ |A|/|B| → 0,
    so quote farms, wrapper pages, and concatenation dups are
    invisible to :func:`ngram_jaccard_pairs` and caught here (the
    pytest-pinned case). Same inverted-index join shape and the same
    100 TB posture as the Jaccard twin; output
    (id_a, id_b, containment), id_a < id_b."""
    sh = shingle_table(df, id_col, text_col, n)
    counts = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    ca = counts.select(F.col("id").alias("id_a"), F.col("n_shingles").alias("n_a"))
    cb = counts.select(F.col("id").alias("id_b"), F.col("n_shingles").alias("n_b"))
    cont = F.col("n_common").cast("double") / F.least("n_a", "n_b").cast("double")
    if round_digits is not None:
        cont = F.round(cont, round_digits) + F.lit(0.0)
    return (
        inter.join(ca, "id_a")
        .join(cb, "id_b")
        .withColumn("containment", cont)
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def ngram_jaccard_prefix_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    round_digits: int | None = 6,
) -> DataFrame:
    """Near-duplicate pairs by exact n-gram Jaccard, found through
    **prefix filtering** (SSJoin, Chaudhuri et al. ICDE 2006; PPJoin,
    Xiao et al. WWW 2008 — public algorithms). LOSSLESS: returns
    exactly the pairs :func:`ngram_jaccard_pairs` returns — unlike
    MinHash banding, the filter never drops a true pair, so this is
    the scale path that still carries the exact oracle.

    Why it prunes: if J(A,B) >= t then |A∩B| >= t*|A|. Order every
    shingle by a global rarity key (ascending document frequency,
    shingle as tie-break) and keep only each doc's first
    ``|A| - ceil(t*|A|) + 1`` shingles (its *prefix*). Two docs whose
    prefixes are disjoint can share at most ``ceil(t*|A|) - 1 <
    t*|A|`` shingles, so they cannot reach the threshold — joining
    prefixes only is safe. Rare-first ordering makes prefixes
    low-frequency join keys, so candidate fan-out collapses versus
    the full inverted-index join (which meets docs through their
    *hottest* shared shingles too).

    Plan shape at 100 TB: one shuffle to attach document frequencies
    (keyed on shingle), one window per doc for prefix positions, a
    prefix-only self-join (keys are rare by construction — no skew),
    size + POSITIONAL filters on the candidate edge (PPJoin's overlap
    upper bound from the matched prefix positions, plus
    ``t*max(|A|,|B|) <= min(|A|,|B|)``), then exact verification that
    touches only candidate pairs.
    No all-pairs stage anywhere; every join is keyed.
    """
    sh = shingle_table(df, id_col, text_col, n)
    counts = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("dfreq"))
    w = Window.partitionBy("id").orderBy(F.col("dfreq").asc(), F.col("shingle").asc())
    ranked = (
        sh.join(dfreq, "shingle")
        .withColumn("pos", F.row_number().over(w))
        .join(counts, "id")
    )
    # prefix length |A| - ceil(t*|A|) + 1 (>=1 always). The 1e-9 slack
    # (same as alpha below) keeps ceil from rounding UP a double product
    # t*|A| that is mathematically an exact integer — an over-rounded
    # ceil would SHORTEN the prefix and silently drop true pairs; the
    # slack only ever lengthens it (admits extra candidates, lossless).
    prefix = ranked.filter(
        F.col("pos")
        <= F.col("n_sh")
        - F.ceil(F.lit(threshold) * F.col("n_sh") - F.lit(1e-9))
        + F.lit(1)
    ).select("id", "shingle", "n_sh", "pos")

    # PPJoin positional filter (Xiao et al. 2008): a match at prefix
    # positions (pa, pb) caps the achievable overlap at
    # 1 + min(|A|-pa, |B|-pb), and J >= t needs overlap >=
    # ceil(t/(1+t) * (|A|+|B|)). The 1e-9 slack keeps the double
    # product's ceil from rounding an exact integer UP (the filter
    # must stay lossless, so alpha may only ever round DOWN).
    ratio = threshold / (1.0 + threshold)
    alpha = F.ceil(
        F.lit(ratio) * (F.col("a.n_sh") + F.col("b.n_sh")) - F.lit(1e-9)
    )
    ubound = F.lit(1) + F.least(
        F.col("a.n_sh") - F.col("a.pos"), F.col("b.n_sh") - F.col("b.pos")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id"))
            # size filter: J >= t forces t*max <= min; the same 1e-9
            # slack so a double product that rounds UP past an exact
            # integer bound can only ever ADMIT extra candidates
            & (F.col("b.n_sh") >= F.lit(threshold) * F.col("a.n_sh") - F.lit(1e-9))
            & (F.col("a.n_sh") >= F.lit(threshold) * F.col("b.n_sh") - F.lit(1e-9))
            & (ubound >= alpha),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )

    # exact verification restricted to candidates: candidate-pair rows
    # fan out by |A| (join on id_a), land on (id_b, shingle) to count
    # the intersection — never touches non-candidate docs.
    sa = sh.select(F.col("id").alias("id_a"), "shingle")
    sb = sh.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        cand.join(sa, "id_a")
        .join(sb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    ca = counts.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    cb = counts.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    ).cast("double")
    if round_digits is not None:
        jac = F.round(jac, round_digits) + F.lit(0.0)
    return (
        inter.join(ca, "id_a")
        .join(cb, "id_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ----------------------------------------------------- MinHash + LSH


def _sig_element(sh, seed: int, hasher: str = "xxhash64"):
    """min over the doc's shingles of the seed-salted hash.

    ``xxhash64`` (default): fastest, JVM-native, but engine-specific —
    no SQL twin. ``md5``: byte-identical hex in every engine (the min
    is lexicographic over fixed-length hex), so the whole LSH pipeline
    becomes oracle-checkable at ~2x the hash cost."""
    if hasher == "xxhash64":
        return F.array_min(
            F.transform(sh, lambda s: F.xxhash64(F.concat(F.lit(f"mh{seed}:"), s)))
        )
    if hasher == "md5":
        return F.array_min(
            F.transform(sh, lambda s: F.md5(F.concat(F.lit(f"mh{seed}:"), s)))
        )
    raise ValueError(f"unknown hasher {hasher!r}; use 'xxhash64' or 'md5'")


def lsh_band_candidates(
    shingled: DataFrame, num_hashes: int, bands: int, hasher: str
) -> DataFrame:
    """Banded candidate generation shared by every MinHash consumer:
    docs agreeing on ALL rows of at least one band (band key = hash of
    that signature slice) become (id_a, id_b) candidates, id_a < id_b.
    The shuffle is docs × bands keyed rows — never all-pairs; each
    signature element belongs to exactly one band, so inlining the sig
    expressions into the band structs duplicates no work."""
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    rows = num_hashes // bands
    band_hash = F.xxhash64 if hasher == "xxhash64" else F.md5
    band_rows = shingled.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        band_hash(
                            F.concat_ws(
                                ",",
                                *[
                                    _sig_element(F.col("sh"), b * rows + r, hasher)
                                    for r in range(rows)
                                ],
                            )
                        ).alias("bkey"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey"))

    a, b = band_rows.alias("a"), band_rows.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def neardup_edit_distance(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    max_rel_dist: float = 0.2,
    round_digits: int | None = 6,
) -> DataFrame:
    """Edit-distance near-dup pairs: banded MinHash candidates (md5 —
    engine-portable, the ``minhash_lsh_pairs`` banding) verified by
    EXACT Levenshtein distance, keeping pairs whose distance is at
    most ``max_rel_dist`` of the longer text.

    Character-level edit distance catches what token-shingle Jaccard
    blurs (small in-word edits, OCR noise, boilerplate with counters)
    and is the classic verify step for template-dup mining. All-pairs
    Levenshtein is O(n²·len²) — never run raw; here it runs ONLY
    inside LSH buckets:

    100 TB shape: candidates are the docs × bands keyed shuffle
    (map-side combined), Levenshtein is a JVM codegen expression over
    candidate pairs only, and at production lengths the bounded form
    (``levenshtein(l, r, threshold)`` — early-exit banded DP) caps
    per-pair cost; the unbounded form is kept here for the DuckDB
    oracle twin (exact integer distance, identical in both engines).

    Output: (id_a, id_b, dist, rel_dist), id_a < id_b.
    """
    shingled = shingled_table(df, id_col, text_col, n)
    cand = lsh_band_candidates(shingled, num_hashes, bands, "md5")
    ta = df.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("t_a"))
    tb = df.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("t_b"))
    # materialize dist/longer as columns FIRST and filter/derive from
    # the column references: Catalyst has no let-binding, so an
    # expression referenced in the projection AND the filter runs the
    # quadratic DP once per reference — the dominant per-pair cost
    # here. The cut is the exact integer form
    # (dist <= max_rel_dist·longer ⟺ raw rel <= max_rel_dist).
    scored = (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.levenshtein(F.col("t_a"), F.col("t_b")).alias("dist"),
            F.greatest(F.length("t_a"), F.length("t_b")).alias("longer"),
        )
        .filter(
            F.col("dist").cast("double")
            <= F.lit(float(max_rel_dist)) * F.col("longer").cast("double")
        )
    )
    rel = F.when(F.col("longer") == 0, F.lit(0.0)).otherwise(
        F.col("dist").cast("double") / F.col("longer").cast("double")
    )
    if round_digits is not None:
        rel = F.round(rel, round_digits) + F.lit(0.0)
    return scored.select(
        "id_a", "id_b", "dist", rel.alias("rel_dist")
    ).orderBy("id_a", "id_b")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.8,
    round_digits: int | None = 6,
    hasher: str = "xxhash64",
) -> DataFrame:
    """LSH-banded candidate generation + exact Jaccard verification.

    Candidates: docs agreeing on ALL rows of at least one band
    (band key = hash of that slice of the signature). Verification
    joins back the distinct-shingle sets and computes exact Jaccard,
    so every emitted pair truly clears ``threshold`` (precision 1.0;
    banding affects recall only). Output (id_a, id_b, jaccard).

    ``hasher='md5'`` makes the whole pipeline engine-portable (see
    :func:`_sig_element`) — the DuckDB twin in
    ``oracles_text.minhash_lsh_md5_sql`` reproduces it bit-for-bit.
    """
    # divisibility guard lives in lsh_band_candidates (shared by every
    # banding consumer). ONE materialized shingle table feeds
    # signatures, banding AND verification — identical subplans below
    # the exchange become ReusedExchange instead of recomputing the
    # tokenization.
    shingled = shingled_table(df, id_col, text_col, n)
    candidates = lsh_band_candidates(shingled, num_hashes, bands, hasher)

    sa = shingled.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sb = shingled.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter.cast("double") / union.cast("double")
    if round_digits is not None:
        jac = F.round(jac, round_digits) + F.lit(0.0)
    return (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _oph_bins_expr(hs, num_bins: int):
    """Per-bin minima (nulls for empty bins) from a MATERIALIZED
    hash-array attribute: k cheap integer passes, no re-hashing."""
    k = num_bins
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda j: F.array_min(F.filter(hs, lambda h: F.pmod(h, F.lit(k)) == j)),
    )


def _oph_densify_expr(doubled, num_bins: int, dens_c: int):
    """Rotation densification over a MATERIALIZED doubled-bins
    attribute (concat(bins, bins) is its own projection stage — in
    here it would be re-built per element_at reference, k² array
    copies per row): empty bin j borrows from the first non-empty
    bin at cyclic distance t, offset t·C — aggregate's coalesce
    keeps the FIRST hit, so the scan is deterministic."""
    k = num_bins
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda j: F.aggregate(
            F.sequence(F.lit(0), F.lit(k - 1)),
            F.lit(None).cast("bigint"),
            lambda acc, t: F.coalesce(
                acc,
                F.element_at(doubled, (j + t + F.lit(1)).cast("int"))
                + t.cast("bigint") * F.lit(dens_c),
            ),
        ),
    )


def oph_signatures(
    shingled: DataFrame, num_bins: int = 16, dens_c: int = 1_000_003
) -> DataFrame:
    """One-permutation-hashing MinHash signatures (Li, Owen & Zhang
    NIPS 2012; densification per Shrivastava & Li ICML 2014 — public
    algorithms): ONE xxhash64 per shingle, binned by pmod(h, k), min
    per bin, then empty bins borrow cyclically from the next
    non-empty bin to the right at offset t·C per borrow distance t
    (so borrowed values stay distinct across bins and the collision
    probability stays ~Jaccard). Docs with no shingles are dropped
    (an all-null signature would band every short doc together).

    Why it exists: classic k-hash MinHash pays k string hashes PER
    SHINGLE — the dominant map-side cost of the signature stage at
    corpus scale. OPH pays ONE string hash per shingle plus k integer
    folds. Built as THREE projections behind repartition barriers
    (the winnowing precedent): Catalyst has no let-binding, so in one
    projection the densification's ~2k² references to the bins array
    would re-inline the whole hash fold per reference — measured 21x
    SLOWER than k-hash before the barriers. Each stage reads the
    previous one as an attribute, so the hash runs once per shingle.
    Output (id, sig array<bigint>)."""
    target = shingled.sparkSession.sparkContext.defaultParallelism
    hs_t = (
        shingled.filter(F.size("sh") > 0)
        .select(
            "id",
            F.transform(
                F.col("sh"), lambda s: F.xxhash64(F.concat(F.lit("oph:"), s))
            ).alias("hs"),
        )
        .repartition(target, "id")
    )
    bins_t = hs_t.select(
        "id",
        F.concat(
            _oph_bins_expr(F.col("hs"), num_bins),
            _oph_bins_expr(F.col("hs"), num_bins),
        ).alias("dbl"),
    ).repartition(target, "id")
    return bins_t.select(
        "id", _oph_densify_expr(F.col("dbl"), num_bins, dens_c).alias("sig")
    )


def oph_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_bins: int = 16,
    bands: int = 8,
    threshold: float = 0.8,
    round_digits: int | None = 6,
) -> DataFrame:
    """MinHash+LSH near-dup pairs with the ONE-PERMUTATION signature:
    same banding shape and the same exact-Jaccard verification as
    :func:`minhash_lsh_pairs` (precision 1.0 by construction; the
    signature affects recall only), at one string hash per shingle
    instead of ``num_hashes``. Docs with no shingles are dropped
    up front — they cannot reach any threshold > 0, and an all-null
    signature would band every short doc together. Output
    (id_a, id_b, jaccard)."""
    if num_bins % bands:
        raise ValueError("num_bins must be divisible by bands")
    rows = num_bins // bands
    shingled = shingled_table(df, id_col, text_col, n)
    sig = oph_signatures(shingled, num_bins)
    band_rows = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at("sig", b * rows + r + 1).cast(
                                        "string"
                                    )
                                    for r in range(rows)
                                ],
                            )
                        ).alias("bkey"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey"))
    a, b = band_rows.alias("a"), band_rows.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sa = shingled.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sb = shingled.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter.cast("double") / union.cast("double")
    if round_digits is not None:
        jac = F.round(jac, round_digits) + F.lit(0.0)
    return (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ------------------------------------------------------------ SimHash


def _simhash_pack_expr(bits: int) -> str:
    """Fold the token-hash array ``hs`` straight to the packed SimHash:
    per-token, vote on every bit with one zip_with pass over a 64-long
    accumulator; then pack the winning bits. Nested higher-order
    lambdas go through ``F.expr`` — the SQL parser accepts them, the
    Python lambda builder does not."""
    votes = (
        f"aggregate(hs, array_repeat(0L, {bits}), (acc, h) -> "
        f"zip_with(acc, sequence(0, {bits - 1}), "
        "(a, b) -> a + IF(((h >> b) & 1) = 1, 1L, -1L)))"
    )
    return (
        f"aggregate(zip_with({votes}, sequence(0, {bits - 1}), "
        "(v, b) -> IF(v > 0, shiftleft(1L, b), 0L)), "
        "0L, (acc, x) -> acc | x)"
    )


def _simhash_arrow_udf(bits: int):
    """Arrow-batched vote fold: one (n_tokens x bits) NumPy reduction
    per document instead of a 64-long accumulator array allocated per
    token in the JVM fold — measured 2.5x faster at sf0.1, bit-identical
    (cross-checked against the HOF fold in tests/test_dedup.py)."""
    from pyspark.sql import types as T

    @F.pandas_udf(T.LongType())
    def pack(hs: pd.Series) -> pd.Series:
        out = np.empty(len(hs), dtype=np.int64)
        bidx = np.arange(bits, dtype=np.uint64)
        for i, arr in enumerate(hs):
            h = np.asarray(arr, dtype=np.int64).astype(np.uint64)
            votes = (
                ((h[:, None] >> bidx[None, :]) & 1).astype(np.int32) * 2 - 1
            ).sum(axis=0)
            out[i] = np.int64(
                ((votes > 0).astype(np.uint64) << bidx)
                .sum(dtype=np.uint64)
                .astype(np.int64)
            )
        return pd.Series(out)

    return pack


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    impl: str = "arrow",
) -> DataFrame:
    """64-bit SimHash: per-bit majority vote over xxhash64 of the doc's
    distinct tokens. SimHash is a per-document reduction, so it runs as
    a NARROW map — no explode, no shuffle (the earlier
    explode+64-aggregate version shuffled the whole token table).

    Two interchangeable vote folds (``impl``): ``"arrow"`` (default) —
    a vectorized pandas UDF, one NumPy reduction per doc; ``"hof"`` —
    pure-JVM higher-order array folds, zero Python in the path. Both
    produce identical bits (pinned in tests); arrow is ~2.5x faster
    because the JVM fold allocates a bits-long accumulator per token.
    Output (id, simhash: bigint, n_tokens); docs with no tokens are
    dropped (same as the groupBy formulation, which had no rows for
    them)."""
    if impl not in ("arrow", "hof"):
        raise ValueError(f"impl must be 'arrow' or 'hof', got {impl!r}")
    dd = (
        _ensure_parallelism(df)
        .select(
            F.col(id_col).alias("id"),
            F.array_distinct(TXT.tokens(text_col)).alias("toks"),
        )
        .filter(F.size("toks") > 0)
        .select(
            "id",
            F.size("toks").alias("n_tokens"),
            F.transform("toks", lambda t: F.xxhash64(t)).alias("hs"),
        )
    )
    sh = (
        _simhash_arrow_udf(bits)(F.col("hs"))
        if impl == "arrow"
        else F.expr(_simhash_pack_expr(bits))
    )
    return dd.select("id", sh.alias("simhash"), "n_tokens")


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    band_bits: int = 16,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Blocking: split the 64-bit hash into 4 16-bit bands; by pigeonhole,
    any pair within Hamming distance 3 agrees exactly on at least one
    band, so the self-join on (band, band_value) finds all such pairs
    without an all-pairs comparison. Output (id_a, id_b, hamming).

    Full recall needs ``max_hamming <= 64 // band_bits - 1`` (a pair
    with one differing bit per band never agrees on any band) — a
    violating combination raises rather than silently missing pairs.
    """
    if 64 % band_bits:
        raise ValueError("band_bits must divide 64")
    if max_hamming >= 64 // band_bits:
        raise ValueError(
            f"max_hamming={max_hamming} with band_bits={band_bits} gives only "
            f"{64 // band_bits} bands; pigeonhole blocking guarantees recall "
            f"only for max_hamming <= {64 // band_bits - 1}. "
            "Use narrower bands (smaller band_bits)."
        )
    sh = simhash(df, id_col, text_col)
    n_bands = 64 // band_bits
    mask = (1 << band_bits) - 1
    banded = sh.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright("simhash", i * band_bits)
                        .bitwiseAND(F.lit(mask).cast("bigint"))
                        .alias("bval"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "simhash", F.col("bk.band").alias("band"), F.col("bk.bval").alias("bval"))
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ------------------------------------------- embedding cosine near-dup


def neardup_cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    round_digits: int | None = 6,
) -> DataFrame:
    """Exact all-pairs embedding similarity above threshold
    (id_a < id_b). Quadratic — the correctness baseline / oracle twin;
    use :func:`neardup_cosine_blocked` for large corpora.

    Norms are computed once per ROW before the join (n folds), not once
    per PAIR (n^2 folds) — same IEEE op sequence as
    ``cosine_similarity`` (l2_norm(a)*l2_norm(b) denominator), so oracle
    parity is preserved while per-pair work drops to one dot product."""
    src = _ensure_parallelism(df)
    a = src.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        l2_norm(vec_col).alias("na"),
    )
    b = src.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        l2_norm(vec_col).alias("nb"),
    )
    denom = F.col("na") * F.col("nb")
    sim = F.when(denom == 0.0, F.lit(None).cast("double")).otherwise(
        dot("va", "vb") / denom
    )
    if round_digits is not None:
        sim = F.round(sim, round_digits) + F.lit(0.0)
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", sim)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def neardup_cosine_blocked(
    df: DataFrame,
    cluster_col: str,
    id_col: str = "id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    round_digits: int | None = 6,
) -> DataFrame:
    """Scale path: compare only pairs in the same (IVF) cluster —
    the join key blocks the quadratic explosion to within-cluster.
    Recall depends on cluster granularity; exact within each block."""
    src = _ensure_parallelism(df)
    a = src.select(
        F.col(cluster_col).alias("c"),
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        l2_norm(vec_col).alias("na"),
    )
    b = src.select(
        F.col(cluster_col).alias("c"),
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        l2_norm(vec_col).alias("nb"),
    )
    denom = F.col("na") * F.col("nb")
    sim = F.when(denom == 0.0, F.lit(None).cast("double")).otherwise(
        dot("va", "vb") / denom
    )
    if round_digits is not None:
        sim = F.round(sim, round_digits) + F.lit(0.0)
    return (
        a.join(b, "c")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", sim)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def neardup_cosine_multiprobe(
    df: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    probes: int = 2,
    round_digits: int | None = 6,
) -> DataFrame:
    """IVF-multi-probe blocked cosine pairs: each vector is assigned to
    its ``probes`` nearest centroids (euclidean — the same assignment
    the IVF build uses), candidate pairs share at least one probed
    cluster, and candidates are verified with the EXACT cosine — so,
    like the LSH paths, precision is 1.0 by construction and only
    recall depends on the blocking.

    Multi-probe is what closes the recall gap of single-cluster
    blocking (:func:`neardup_cosine_blocked`): a near-dup pair split
    by a Voronoi boundary still meets as long as one of the two
    probes crosses it. Recall grows with ``probes`` and reaches 1.0
    at ``probes == n_clusters`` (every pair shares every cluster).

    Scale shape: the probe table carries ONLY (cluster, id) — the
    exchange moves rows x probes skinny rows, never vector payloads
    or pairs; the quadratic work happens strictly within clusters,
    and vectors rejoin by id AFTER candidate dedup (the
    ``srp_cosine_pairs`` pattern). Centroids are driver-side
    constants (k x dim, a few KB) shipped inside the UDF closure.

    Output (id_a, id_b, cosine) — same schema as
    :func:`neardup_cosine_pairs`, whose exact result is this
    operator's recall oracle in tests."""
    from pyspark.sql import types as T

    C = np.asarray(centroids, dtype=np.float64)  # (k, dim)
    k, dim = C.shape
    p = min(int(probes), k)
    c_sq = (C * C).sum(axis=1)  # (k,)
    src = _ensure_parallelism(df)

    # no type hints: `from __future__ import annotations` stringifies
    # them and PySpark's hint-based inference cannot resolve locals
    def _probe_fn(vecs):
        n = len(vecs)
        E = np.zeros((n, dim), dtype=np.float64)
        ok = np.zeros(n, dtype=bool)
        for i, v in enumerate(vecs):
            if v is not None and len(v) == dim:
                E[i] = v
                ok[i] = True
        # argpartition over ||e-c||^2 = ||e||^2 - 2 e.c + ||c||^2;
        # the ||e||^2 term is constant per row -> drop it
        d2 = c_sq[None, :] - 2.0 * (E @ C.T)  # (n, k)
        near = np.argpartition(d2, p - 1, axis=1)[:, :p]
        return pd.Series(
            [row.tolist() if o else [] for row, o in zip(near, ok)]
        )

    _probe = F.pandas_udf(_probe_fn, T.ArrayType(T.IntegerType()))

    sig = src.select(
        F.col(id_col).alias("id"),
        F.explode(_probe(F.col(vec_col))).alias("c"),
    )
    a, b = sig.alias("a"), sig.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.c") == F.col("b.c")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )

    vecs = src.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        l2_norm(vec_col).alias("nrm"),
    )
    va = vecs.select(
        F.col("id").alias("id_a"), F.col("v").alias("v_a"), F.col("nrm").alias("nrm_a")
    )
    vb = vecs.select(
        F.col("id").alias("id_b"), F.col("v").alias("v_b"), F.col("nrm").alias("nrm_b")
    )
    denom = F.col("nrm_a") * F.col("nrm_b")
    sim = F.when(denom == 0.0, F.lit(None).cast("double")).otherwise(
        dot("v_a", "v_b") / denom
    )
    if round_digits is not None:
        sim = F.round(sim, round_digits) + F.lit(0.0)
    return (
        candidates.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", sim)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# ------------------------------- sign-random-projection (cosine LSH)


def _srp_hyperplanes(dim: int, bits: int, seed: int) -> "list[list[float]]":
    """Deterministic Gaussian hyperplanes (driver-side constants, a few
    KB — they travel inside the plan as literals, no broadcast var
    needed)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    return rng.randn(bits, dim).tolist()


def srp_cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    bits: int = 64,
    band_bits: int = 8,
    seed: int = 7,
    dim: int | None = None,
    round_digits: int | None = 6,
) -> DataFrame:
    """Embedding near-dup via sign-random-projection LSH (Charikar'02):
    the angle-preserving twin of text SimHash. Each row gets ``bits``
    sign bits — one Arrow-batched NumPy matmul against the fixed
    Gaussian hyperplane matrix, not per-plane Column folds — split
    into bands; candidate pairs share a band value; candidates are
    verified with the EXACT cosine, so precision is 1.0 by
    construction and only recall is approximate.

    Scale shape: signatures are a narrow map; the shuffle carries
    (band, bval, id) rows — docs x n_bands, never pairs. Per-pair work
    happens only inside buckets, so bucket occupancy is the knob that
    matters: ``band_bits`` buys 2^band_bits buckets per band, and it
    must grow with the corpus (size it so n_rows / 2^band_bits stays
    near the bucket size you can afford to pair-scan; 8 bits is right
    up to ~10^6 rows, use 12-16 beyond). Recall: a pair at cosine s
    agrees on one bit w.p. 1 - arccos(s)/pi, so the defaults (64 bits,
    8 bands of 8) give per-pair miss ~1.2e-2 at s = 0.95 and ~8e-4 at
    s = 0.98; raise ``bits`` (more bands) for more recall, or
    ``band_bits`` (more selective bands) for fewer candidates.

    Output (id_a, id_b, cosine) — same schema as
    :func:`neardup_cosine_pairs`, whose exact result is this
    operator's recall oracle in tests.

    ``dim`` is required (array columns carry no length in the schema,
    and inferring it would cost a hidden driver-side action). Rows
    whose vector is NULL or has a different length are excluded."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    if bits % band_bits != 0:
        raise ValueError("bits must divide into band_bits bands")
    if dim is None:
        raise ValueError(
            "dim is required: pass the embedding dimensionality explicitly "
            "(schema arrays are unsized; inference would cost a driver action)"
        )
    planes_np = np.asarray(_srp_hyperplanes(dim, bits, seed))  # (bits, dim)
    n_bands = bits // band_bits
    weights = 1 << np.arange(band_bits, dtype=np.int64)
    src = _ensure_parallelism(df)

    # no type hints: `from __future__ import annotations` stringifies
    # them and PySpark's hint-based inference cannot resolve locals —
    # the positional returnType registers a plain SCALAR pandas UDF
    def _band_vals_fn(vecs):
        n = len(vecs)
        E = np.zeros((n, dim), dtype=np.float64)
        ok = np.zeros(n, dtype=bool)
        for i, v in enumerate(vecs):
            if v is not None and len(v) == dim:
                E[i] = v
                ok[i] = True
        sign = (E @ planes_np.T) > 0.0  # (n, bits), one BLAS call/batch
        bvals = sign.reshape(n, n_bands, band_bits) @ weights  # (n, n_bands)
        return pd.Series(
            [row.tolist() if k else [] for row, k in zip(bvals, ok)]
        )

    _band_vals = F.pandas_udf(_band_vals_fn, T.ArrayType(T.LongType()))

    # the banded table carries ONLY (id, band, bval): the exchange
    # moves docs x n_bands skinny rows, never vector payloads. Vectors
    # rejoin by id AFTER candidate dedup — same pattern as
    # minhash_lsh_pairs' shingle verification join. (Mismatched-dim
    # rows emit an empty band array -> no rows after posexplode.)
    sig = src.select(
        F.col(id_col).alias("id"),
        F.posexplode(_band_vals(F.col(vec_col))).alias("band", "bval"),
    )
    a, b = sig.alias("a"), sig.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )

    vecs = src.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        l2_norm(vec_col).alias("nrm"),
    )
    va = vecs.select(
        F.col("id").alias("id_a"), F.col("v").alias("v_a"), F.col("nrm").alias("nrm_a")
    )
    vb = vecs.select(
        F.col("id").alias("id_b"), F.col("v").alias("v_b"), F.col("nrm").alias("nrm_b")
    )
    denom = F.col("nrm_a") * F.col("nrm_b")
    sim = F.when(denom == 0.0, F.lit(None).cast("double")).otherwise(
        dot("v_a", "v_b") / denom
    )
    if round_digits is not None:
        sim = F.round(sim, round_digits) + F.lit(0.0)
    return (
        candidates.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", sim)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# ------------------------------------------------- chunk-level dedup


def chunk_dedup_stats(
    spark,
    sf_dir: str,
    chunk_size: int = 32,
    stride: int = 32,
) -> DataFrame:
    """Corpus-wide exact dedup at CHUNK granularity: documents are cut
    into non-overlapping token windows (``textual.chunk_documents``
    with stride == size), each window is md5-fingerprinted, and only
    the first occurrence corpus-wide survives (first = smallest
    (doc_id, chunk_id)). Catches copy-paste blocks shared between
    otherwise-distinct documents — the granularity doc-level
    ``exact_dup_groups`` can't see.

    Output per doc: (doc_id, n_chunks, n_dropped, clean_md5) where
    clean_md5 hashes the surviving chunks joined in chunk order.

    Scale shape: the chunker is a narrow map; first-occurrence
    election is ONE shuffle on the 32-hex fingerprint (uniform keys —
    no skew); the per-doc rollup is one more shuffle on doc_id. Both
    keys are data-sized, neither is all-pairs.
    """
    from .textual import chunk_documents

    ch = chunk_documents(spark, sf_dir, chunk_size=chunk_size, stride=stride)
    return chunk_dedup_df(ch)


def chunk_dedup_df(ch: DataFrame) -> DataFrame:
    """Core of :func:`chunk_dedup_stats` over any (doc_id, chunk_id,
    chunk_text) stream."""
    from pyspark.sql import Window

    h = F.md5(F.col("chunk_text"))
    w = Window.partitionBy("h").orderBy("doc_id", "chunk_id")
    ranked = ch.withColumn("h", h).withColumn(
        "keep", F.row_number().over(w) == 1
    )
    kept_struct = F.when(
        F.col("keep"), F.struct("chunk_id", "chunk_text")
    )  # null (-> skipped by collect_list) for dropped chunks
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("keep"), 0).otherwise(1)).alias("n_dropped"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(kept_struct)),
                        lambda x: x.chunk_text,
                    ),
                    " ",
                )
            ).alias("clean_md5"),
        )
        .select("doc_id", "n_chunks", "n_dropped", "clean_md5")
    )


def incremental_dedup(
    spark: "SparkSession",
    sf_dir: str,
    existing_frac: float = 0.9,
    k: int = 8,
    window: int = 4,
    include_n_fps: bool = False,
) -> "DataFrame":
    """Incremental-ingest dedup: screen an INCOMING batch of documents
    against an EXISTING corpus without comparing incoming docs to each
    other — the shape of a production crawl pipeline admitting a new
    snapshot against everything already ingested.

    The corpus is split deterministically by the md5-draw rule
    (``sampling.hash_sample``): draws below ``existing_frac`` are the
    existing corpus, the rest are the incoming batch. Each incoming
    doc gets:

    * ``is_exact_dup`` — its normalized-content md5 appears in the
      existing corpus (byte-level duplicate after case/whitespace
      folding);
    * ``n_shared_fps`` — how many of its distinct winnowing
      fingerprints occur anywhere in the existing corpus (near-dup
      evidence: any shared substring of length >= k+window-1 shows up
      here).

    Scale shape: both probes are keyed joins on content-hash / fp —
    inverted-index lookups, never all-pairs; the incoming side (the
    small delta) drives both joins and the existing side ships only
    (hash) / (fp) key columns, so at 100 TB the exchange carries
    fingerprints, not documents. Output (doc_id, is_exact_dup,
    n_shared_fps) for every incoming doc.
    """
    from ..sources.store import load_documents
    from .sampling import _draw, _threshold_hex

    d = load_documents(spark, sf_dir).select("doc_id", "text")
    thr = _threshold_hex(existing_frac)
    side = F.when(
        _draw(F.col("doc_id")) < F.lit(thr), F.lit("existing")
    ).otherwise(F.lit("incoming"))
    tagged = d.withColumn("side", side)

    hashes = tagged.select(
        "doc_id", "side", TXT.content_fingerprint("text").alias("content_hash")
    )
    inc_h = hashes.filter(F.col("side") == "incoming").select("doc_id", "content_hash")
    ex_h = (
        hashes.filter(F.col("side") == "existing")
        .select("content_hash")
        .distinct()
        .withColumn("seen", F.lit(1))
    )
    exact = inc_h.join(ex_h, "content_hash", "left").select(
        "doc_id", F.col("seen").isNotNull().alias("is_exact_dup")
    )

    fps = tagged.select(
        "doc_id", "side", TXT.char_kgram_hashes("text", k).alias("h")
    )
    # same let-binding barrier as textual.winnowing_digest: without it
    # the per-window minima would re-inline the whole hash expression
    fps = fps.repartition(spark.sparkContext.defaultParallelism, "doc_id").select(
        "doc_id", "side", TXT.winnow_mins(F.col("h"), window).alias("fps")
    )
    # materialize ONCE, in the compact array form (docs-sized rows of
    # fingerprint arrays, not the exploded stream): both sides of the
    # probe join branch from this, and without the pin each branch
    # would re-run the whole winnowing hash pass; checkpointing the
    # pre-explode form keeps the stored bytes per doc, the explodes
    # below are cheap narrow generates over the pinned arrays
    fps = fps.localCheckpoint(eager=True)
    flat = fps.select(
        "doc_id", "side", F.explode_outer("fps").alias("fp")
    ).filter(F.col("fp").isNotNull())
    inc_f = flat.filter(F.col("side") == "incoming").select("doc_id", "fp")
    ex_f = flat.filter(F.col("side") == "existing").select("fp").distinct()
    shared = (
        inc_f.join(ex_f, "fp", "left_semi")
        .groupBy("doc_id")
        # winnowing arrays are already distinct per doc, so plain
        # count == count_distinct without the extra dedup pass
        .agg(F.count(F.lit(1)).alias("n_shared_fps"))
    )
    out = exact.join(shared, "doc_id", "left").select(
        "doc_id",
        "is_exact_dup",
        F.coalesce(F.col("n_shared_fps"), F.lit(0)).cast("bigint").alias("n_shared_fps"),
    )
    if include_n_fps:
        # the doc's own fingerprint count, read from the PINNED fps
        # table (size of the already-distinct winnow array) — callers
        # computing containment must NOT re-derive the winnowing
        # expression: without the let-binding barrier the hash array
        # re-inlines into every window minimum (~window-count×
        # blowup; measured 72 s vs 1 s at sf0.1 in the snapshot loop)
        own = fps.filter(F.col("side") == "incoming").select(
            "doc_id",
            F.greatest(
                F.coalesce(F.size("fps"), F.lit(0)), F.lit(0)
            ).cast("bigint").alias("n_fps"),
        )
        out = out.join(own, "doc_id")
    return out


def incremental_dedup_arrow(
    spark: "SparkSession",
    sf_dir: str,
    existing_frac: float = 0.9,
    k: int = 8,
    window: int = 4,
) -> "DataFrame":
    """Production twin of :func:`incremental_dedup`: the fingerprint
    layer is the Arrow rolling-hash winnowing kernel
    (``textual.winnow_fingerprints``, ~15x the md5 expression form),
    emitted as an exploded (doc, fp) stream straight from
    ``mapInPandas``. Join topology is identical: content-hash
    membership for exact dups, fingerprint left-semi for near-dup
    evidence. Rows-only in the gate (the md5 form carries the oracle);
    cross-variant agreement pinned in tests/test_dedup.py."""
    import pyspark.sql.types as T

    from ..sources.store import load_documents
    from .sampling import _draw, _threshold_hex
    from .textual import winnow_fingerprints

    def batch(it):
        for pdf in it:
            fps = [winnow_fingerprints(t, k, window) for t in pdf["text"]]
            n = [len(f) for f in fps]
            yield pd.DataFrame({
                "doc_id": np.repeat(pdf["doc_id"].to_numpy(), n),
                "side": np.repeat(pdf["side"].to_numpy(), n),
                # int64 reinterpret: Spark has no uint64
                "fp": np.concatenate([np.empty(0, np.uint64), *fps]).astype(np.int64),
            })

    thr = _threshold_hex(existing_frac)
    side = F.when(
        _draw(F.col("doc_id")) < F.lit(thr), F.lit("existing")
    ).otherwise(F.lit("incoming"))
    tagged = load_documents(spark, sf_dir).select("doc_id", "text").withColumn(
        "side", side
    )

    hashes = tagged.select(
        "doc_id", "side", TXT.content_fingerprint("text").alias("content_hash")
    )
    inc_h = hashes.filter(F.col("side") == "incoming").select("doc_id", "content_hash")
    ex_h = (
        hashes.filter(F.col("side") == "existing")
        .select("content_hash")
        .distinct()
        .withColumn("seen", F.lit(1))
    )
    exact = inc_h.join(ex_h, "content_hash", "left").select(
        "doc_id", F.col("seen").isNotNull().alias("is_exact_dup")
    )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("side", T.StringType()),
            T.StructField("fp", T.LongType()),
        ]
    )
    flat = tagged.mapInPandas(batch, schema=schema).localCheckpoint(eager=True)
    inc_f = flat.filter(F.col("side") == "incoming").select("doc_id", "fp")
    ex_f = flat.filter(F.col("side") == "existing").select("fp").distinct()
    shared = (
        inc_f.join(ex_f, "fp", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_fps"))
    )
    return exact.join(shared, "doc_id", "left").select(
        "doc_id",
        "is_exact_dup",
        F.coalesce(F.col("n_shared_fps"), F.lit(0)).cast("bigint").alias("n_shared_fps"),
    )


def build_fingerprint_store(
    spark: "SparkSession",
    docs_df: DataFrame,
    path: str,
    k: int = 8,
    window: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """Materialize the dedup state as an on-disk STORE — the
    production form of :func:`incremental_dedup`'s 'existing side'
    (which recomputes fingerprints per call): two parquet tables under
    ``path``, ``hashes`` (distinct content md5s) and ``fps`` (distinct
    winnowing fingerprints). New batches screen against the store
    without touching the original corpus; admissions append via
    :func:`fingerprint_store_upsert` — the same maintained-state
    pattern as ivf_upsert. Returns counts."""
    d = docs_df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    hashes = d.select(TXT.content_fingerprint("text").alias("content_hash")).distinct()
    hashes.write.mode("overwrite").parquet(f"{path}/hashes")
    target = d.sparkSession.sparkContext.defaultParallelism
    fps = (
        d.select("doc_id", TXT.char_kgram_hashes("text", k).alias("h"))
        .repartition(target, "doc_id")
        .select(TXT.winnow_mins(F.col("h"), window).alias("fps"))
        .select(F.explode_outer("fps").alias("fp"))
        .filter(F.col("fp").isNotNull())
        .distinct()
    )
    fps.write.mode("overwrite").parquet(f"{path}/fps")
    spark_ = d.sparkSession
    return {
        "n_hashes": spark_.read.parquet(f"{path}/hashes").count(),
        "n_fps": spark_.read.parquet(f"{path}/fps").count(),
    }


def screen_against_store(
    spark: "SparkSession",
    new_df: DataFrame,
    path: str,
    k: int = 8,
    window: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Screen a new batch against a fingerprint store: same output
    contract as :func:`incremental_dedup` — (doc_id, is_exact_dup,
    n_shared_fps) — but the existing side is the store's parquet,
    never the original documents. The delta drives both keyed joins;
    store reads are columnar scans of hash/fp columns only."""
    d = new_df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    ex_h = spark.read.parquet(f"{path}/hashes").withColumn("seen", F.lit(1))
    inc_h = d.select("doc_id", TXT.content_fingerprint("text").alias("content_hash"))
    exact = inc_h.join(ex_h, "content_hash", "left").select(
        "doc_id", F.col("seen").isNotNull().alias("is_exact_dup")
    )
    target = spark.sparkContext.defaultParallelism
    inc_f = (
        d.select("doc_id", TXT.char_kgram_hashes("text", k).alias("h"))
        .repartition(target, "doc_id")
        .select("doc_id", TXT.winnow_mins(F.col("h"), window).alias("fps"))
        .select("doc_id", F.explode_outer("fps").alias("fp"))
        .filter(F.col("fp").isNotNull())
    )
    ex_f = spark.read.parquet(f"{path}/fps")
    shared = (
        inc_f.join(ex_f, "fp", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_fps"))
    )
    return exact.join(shared, "doc_id", "left").select(
        "doc_id",
        "is_exact_dup",
        F.coalesce(F.col("n_shared_fps"), F.lit(0)).cast("bigint").alias("n_shared_fps"),
    )


def fingerprint_store_upsert(
    spark: "SparkSession",
    admitted_df: DataFrame,
    path: str,
    k: int = 8,
    window: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> int:
    """Append an admitted batch's hashes and fingerprints to the
    store (duplicate rows are harmless for membership semantics; a
    periodic compaction rewrites DISTINCT, the ivf_compact pattern).
    Returns the number of appended fingerprint rows."""
    d = admitted_df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    d.select(TXT.content_fingerprint("text").alias("content_hash")).distinct().write.mode(
        "append"
    ).parquet(f"{path}/hashes")
    target = spark.sparkContext.defaultParallelism
    fps = (
        d.select("doc_id", TXT.char_kgram_hashes("text", k).alias("h"))
        .repartition(target, "doc_id")
        .select(TXT.winnow_mins(F.col("h"), window).alias("fps"))
        .select(F.explode_outer("fps").alias("fp"))
        .filter(F.col("fp").isNotNull())
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = fps.count()
    fps.write.mode("append").parquet(f"{path}/fps")
    return n


def fingerprint_store_compact(spark: "SparkSession", path: str) -> dict:
    """The compaction :func:`fingerprint_store_upsert` promises
    (round 11): appends tolerate duplicate hash/fp rows (membership
    semantics), but an append-churned store scans and shuffles those
    duplicates on every screen — periodically rewrite both tables
    DISTINCT (checkpointed before the overwrite, the kn5_store_upsert
    read-rewrite rule). Screen results are identical before and after
    by the membership argument (pinned in pytest). Returns the
    post-compaction row counts."""
    out = {}
    for sub in ("hashes", "fps"):
        t = (
            spark.read.parquet(f"{path}/{sub}")
            .distinct()
            .localCheckpoint(eager=True)
        )
        out[f"n_{sub}"] = t.count()
        t.write.mode("overwrite").parquet(f"{path}/{sub}")
    return out


def incremental_dedup_store(
    spark: "SparkSession", sf_dir: str, existing_frac: float = 0.9
) -> DataFrame:
    """Gate entry: the store-backed screen must equal
    :func:`incremental_dedup` exactly (same oracle SQL) — the
    maintained-state path producing the identical answer. Builds the
    store from the 'existing' split once (``artifacts.persisted``),
    then screens the 'incoming' split against it."""
    from ..artifacts import persisted
    from ..sources.store import load_documents
    from .sampling import _draw, _threshold_hex

    thr = _threshold_hex(existing_frac)
    d = load_documents(spark, sf_dir).select("doc_id", "text")
    existing = d.filter(_draw(F.col("doc_id")) < F.lit(thr))
    incoming = d.filter(~(_draw(F.col("doc_id")) < F.lit(thr)))
    return persisted(
        "fpstore", sf_dir, {"existing_frac": existing_frac},
        lambda out: build_fingerprint_store(spark, existing, out),
        lambda path: screen_against_store(spark, incoming, path),
    )


def best_quality_election(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical election: per exact-content group keep
    the HIGHEST-quality copy (ties to the smaller doc_id) — real
    pipelines keep the best duplicate, not the first-seen one (the
    min-doc_id election used by curate_corpus is the arrival-order
    twin). Output (content_hash, doc_id, quality, group_size).

    Scale shape: one groupBy(content_hash) with a max(struct)
    aggregation — partial-aggregatable, no window sort; quality is a
    rounded codegen projection, so the election key is deterministic
    under any partitioning."""
    from ..sources.store import load_documents

    docs = load_documents(spark, sf_dir).select("doc_id", "text")
    per = docs.select(
        "doc_id",
        TXT.content_fingerprint("text").alias("content_hash"),
        (F.round(TXT.quality_score("text"), 6) + F.lit(0.0)).alias("quality"),
    )
    # max(struct(quality, -doc_id)) == (max quality, then MIN doc_id):
    # stays a hash aggregation instead of a per-group window
    best = per.groupBy("content_hash").agg(
        F.max(
            F.struct(F.col("quality"), (-F.col("doc_id")).alias("neg_id"))
        ).alias("b"),
        F.count(F.lit(1)).cast("bigint").alias("group_size"),
    )
    return best.select(
        "content_hash",
        (-F.col("b.neg_id")).cast("bigint").alias("doc_id"),
        F.col("b.quality").alias("quality"),
        "group_size",
    )


def _shingle_stream(d: DataFrame, n_col: str, k: int, window) -> DataFrame:
    """Pinned (doc_id, start, h bigint) rows, one per k-window of every
    doc in ``d`` with ``n_col >= k`` (1-based ``start``); ``window(i)``
    is the window at ``i`` (a substring, or an array slice of tokens),
    hashed here with ``xxhash64``. The only corpus-sized structure of
    the span family: the text itself never shuffles.

    A 64-bit collision can only merge two cold windows into one
    false-hot window; no true duplicate is lost (~10^9+ distinct
    windows before birthday collisions bite).

    The stream feeds both the hot-hash aggregate and its join-back, so
    it is pinned with a lazy ``localCheckpoint``: each window is hashed
    once, at the cost of holding the rows as deserialized
    MEMORY_AND_DISK blocks (not the serialized, compressed bytes one
    exchange of them would spill), and losing an executor fails the
    job instead of recomputing it."""
    return (
        d.filter(F.col(n_col) >= k)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.col(n_col) - (k - 1)),
                    lambda i: F.struct(
                        i.alias("start"), F.xxhash64(window(i)).alias("h")
                    ),
                )
            ).alias("s"),
        )
        .select("doc_id", "s.start", "s.h")
        .localCheckpoint(eager=False)
    )


def _token_shingles(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> tuple[DataFrame, DataFrame]:
    """(doc_id, toks, n) per doc and its pinned k-token window stream."""
    t = TXT.tokens(text_col)
    d = df.select(F.col(id_col).alias("doc_id"), t.alias("toks"), F.size(t).alias("n"))
    # the slice is hashed as an array: no per-window concat_ws string
    return d, _shingle_stream(d, "n", k, lambda i: F.slice(F.col("toks"), i, k))


def _char_shingles(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> tuple[DataFrame, DataFrame]:
    """(doc_id, txt, n) per doc and its pinned k-char window stream."""
    d = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("txt"),
        F.length(text_col).cast("int").alias("n"),
    )
    return d, _shingle_stream(d, "n", k, lambda i: F.col("txt").substr(i, F.lit(k)))


def _islands(win: DataFrame, k: int) -> DataFrame:
    """(doc_id, start) windows [start, start+k) -> one (doc_id, s, e)
    row per maximal run of overlapping or adjacent windows.

    Two windows over the SAME (doc_id, start) ordering share one sort.
    groupBy + collect_list + sort_array + a codegen fold was measured
    40% slower on a corpus where every shingle is hot: the per-group
    list costs more than the second window pass saves."""
    w = Window.partitionBy("doc_id").orderBy("start")
    return (
        win.withColumn("end", F.col("start") + F.lit(k - 1))
        .withColumn(
            "prev_max_end",
            F.max("end").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        )
        .withColumn(
            "island",
            F.sum(
                (
                    F.col("prev_max_end").isNull()
                    | (F.col("start") > F.col("prev_max_end") + 1)
                ).cast("int")
            ).over(w),
        )
        .groupBy("doc_id", "island")
        .agg(F.min("start").alias("s"), F.max("end").alias("e"))
    )


def _dup_span_rollup(d: DataFrame, sh: DataFrame, k: int, unit: str) -> DataFrame:
    """Detection tail: windows whose hash occurs >= 2 times in the
    corpus ("hot"), island-merged and rolled up per doc. Output
    (doc_id, total_<unit>, n_dup_spans, dup_<unit>, dup_frac) for every
    doc of ``d`` (doc_id, n).

    The hot set is a hash AGGREGATE (map-side partial combine: a
    boilerplate window repeated in millions of docs never piles into
    one task, as it did under a window over ``h``), attached back with
    a semi-join that AQE may broadcast or skew-split."""
    hot = (
        sh.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .filter(F.col("n_occ") >= 2)
        .select("h")
    )
    per_doc = (
        _islands(sh.join(hot, "h", "left_semi"), k)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dup_spans"),
            F.sum(F.col("e") - F.col("s") + 1).cast("bigint").alias("dup"),
        )
    )
    dup = F.coalesce("dup", F.lit(0)).cast("bigint")
    return d.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.col("n").cast("bigint").alias(f"total_{unit}"),
        F.coalesce("n_dup_spans", F.lit(0)).cast("bigint").alias("n_dup_spans"),
        dup.alias(f"dup_{unit}"),
        (
            F.round(dup.cast("double") / F.col("n").cast("double"), 6)
            + F.lit(0.0)
        ).alias("dup_frac"),
    )


def _removal_spans(d: DataFrame, sh: DataFrame, k: int) -> DataFrame:
    """Removal tail: ``d`` plus ``spans`` array<struct<s,e>>, the merged
    islands of every hot window EXCEPT its corpus-wide first occurrence
    (canonical = min (doc_id, start) per hash, the keep-first rule of
    the exact-dedup election; empty for untouched docs), and their
    total length ``removed``."""
    per_hash = sh.groupBy("h").agg(
        F.count(F.lit(1)).alias("n_occ"),
        F.min(F.struct("doc_id", "start")).alias("canon"),
    )
    removable = (
        sh.join(per_hash.filter(F.col("n_occ") >= 2), "h")
        .filter(
            (F.col("doc_id") != F.col("canon.doc_id"))
            | (F.col("start") != F.col("canon.start"))
        )
        .select("doc_id", "start")
    )
    spans = (
        _islands(removable, k)
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("s", "e")).alias("spans"))
    )
    return (
        d.join(spans, "doc_id", "left")
        .withColumn(
            "spans",
            F.coalesce("spans", F.array().cast("array<struct<s:int,e:int>>")),
        )
        .withColumn(
            "removed",
            F.aggregate(
                "spans", F.lit(0), lambda acc, sp: acc + (sp["e"] - sp["s"] + 1)
            ).cast("bigint"),
        )
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Exact-substring duplicate detection (the token-level analogue
    of suffix-array dedup à la "Deduplicating Training Data Makes
    Language Models Better"): find, per document, the maximal token
    spans covered by some ``k``-token window that appears at least
    twice in the corpus (across docs OR repeated within one doc).

    Pipeline: k-token window hashes with positions → hashes with total
    occurrence ≥ 2 ("hot") → semi-join positions to hot hashes → merge
    overlapping/adjacent [i, i+k) windows into islands per doc →
    per-doc rollup.

    100 TB shape: the only corpus-sized structures are the shingle
    stream (narrow: id + int + 8-byte hash, NOT the text) and its
    hash-keyed count with map-side combine; the hot-hash set is
    ``O(duplicated shingles)`` and the island merge is one window per
    doc over already-filtered rows. No self-join, no all-pairs.
    A full suffix array finds arbitrary-length duplicates; fixed-k
    windows find exactly the spans ≥ k tokens (shorter repeats are
    invisible, longer ones merge into one island) — the standard
    scalable approximation.

    Output: (doc_id, total_tokens, n_dup_spans, dup_tokens, dup_frac)
    for every input document (zero rows included).
    """
    d, sh = _token_shingles(df, id_col, text_col, k)
    return _dup_span_rollup(d, sh, k, "tokens")


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """The actionable form of :func:`duplicate_spans`: strip every
    duplicated k-token window EXCEPT its corpus-wide first occurrence,
    and emit a digest of the cleaned token stream.

    Per doc, the removed region is the union (island merge) of its
    non-canonical hot windows; tokens outside it survive in order.
    A doc whose every token sits under removed windows cleans to the
    empty string (md5('') — same on both engines).

    Scale shape: identical to :func:`duplicate_spans` plus one
    min-aggregate per hot hash and a per-doc spans array (``O(spans)``,
    bounded by total_tokens/k per doc) applied to the token array in
    pure codegen — no Python boundary, no re-tokenize.

    Output: (doc_id, total_tokens, removed_tokens, kept_md5).
    """
    d, sh = _token_shingles(df, id_col, text_col, k)
    idx = F.transform(
        F.sequence(F.lit(1), F.col("n")),
        lambda i: F.struct(
            i.alias("i"), F.element_at(F.col("toks"), i).alias("tok")
        ),
    )
    kept = F.filter(
        idx,
        lambda p: ~F.exists(
            F.col("spans"),
            lambda sp: (p["i"] >= sp["s"]) & (p["i"] <= sp["e"]),
        ),
    )
    return _removal_spans(d, sh, k).select(
        "doc_id",
        F.col("n").cast("bigint").alias("total_tokens"),
        F.col("removed").alias("removed_tokens"),
        F.md5(
            F.concat_ws(" ", F.transform(kept, lambda p: p["tok"]))
        ).alias("kept_md5"),
    )


def duplicate_char_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 40,
) -> DataFrame:
    """CHARACTER-grain exact-substring duplicate detection — the Lee
    et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better") suffix-array unit, below token grain: find, per document,
    the maximal character spans covered by some ``k``-char window that
    appears at least twice in the corpus. Catches sub-token-boundary
    duplication (code, markup, concatenated boilerplate) that the
    token-grain :func:`duplicate_spans` cannot see, with NO tokenizer
    in the loop — raw text, no normalization.

    Same guarantee family as the paper's suffix array restricted to a
    fixed threshold: every duplicated substring of length ≥ k is
    covered exactly (its k-windows are all hot and merge into one
    island); shorter repeats are invisible. The paper's production
    threshold is 50 chars; default k=40 matches the token twin's
    ~8-token footprint on this corpus.

    100 TB shape — identical to the token form, deliberately. The
    char stream is ~5× denser than the token stream (one window per
    CHARACTER), which is the honest cost of sub-token grain —
    SCALING.md records the measured ratio. No suffix-array
    construction (the sequential O(n log n) build doesn't distribute;
    the hot-window form is the standard scalable equivalent at fixed
    threshold).

    Output: (doc_id, total_chars, n_dup_spans, dup_chars, dup_frac)
    for every input document (zero-span docs included).
    """
    d, sh = _char_shingles(df, id_col, text_col, k)
    return _dup_span_rollup(d, sh, k, "chars")


def remove_duplicate_char_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 40,
) -> DataFrame:
    """The actionable form of :func:`duplicate_char_spans`, sharing
    :func:`remove_duplicate_spans`'s island/removal contract at char
    grain, and digesting the surviving character stream — the
    cleaned-stream md5 the oracle verifies byte-for-byte.

    The reassembly differs from the token form on purpose: instead of
    enumerating positions (one struct PER CHARACTER — fine for tokens,
    5× heavier here), the merged removal islands are sorted per doc
    and a single ``aggregate`` fold cuts the COMPLEMENT segments out
    of the original string with ``substr`` — O(islands) codegen string
    ops per doc, no per-char explode, no Python.

    Output: (doc_id, total_chars, removed_chars, kept_md5).
    """
    d, sh = _char_shingles(df, id_col, text_col, k)
    # complement-segment fold: accumulator = (next uncut position,
    # kept-so-far); each island appends the gap before it, the final
    # lambda appends the tail after the last island
    kept_str = F.aggregate(
        F.sort_array(F.col("spans")),
        F.struct(F.lit(1).alias("pos"), F.lit("").alias("acc")),
        lambda acc, sp: F.struct(
            (sp["e"] + F.lit(1)).alias("pos"),
            F.concat(
                acc["acc"], F.col("txt").substr(acc["pos"], sp["s"] - acc["pos"])
            ).alias("acc"),
        ),
        lambda acc: F.concat(
            acc["acc"],
            F.col("txt").substr(acc["pos"], F.col("n") - acc["pos"] + F.lit(1)),
        ),
    )
    return _removal_spans(d, sh, k).select(
        "doc_id",
        F.col("n").cast("bigint").alias("total_chars"),
        F.col("removed").alias("removed_chars"),
        F.md5(kept_str).alias("kept_md5"),
    )


# ------------------------------------------- cross-source overlap


def source_overlap_matrix(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    method: str = "token_set",
) -> DataFrame:
    """Which sources duplicate which: for every (unordered) source
    pair, how many duplicate DOC PAIRS and duplicate GROUPS span it —
    the crawl-triage diagnostic that tells a pipeline operator
    whether two feeds are mirrors (drop one wholesale) or merely
    share boilerplate (keep both, dedup normally). Same-source cells
    (source_a == source_b) report intra-feed duplication.

    ``method`` picks the duplicate key: ``token_set`` (md5 of the
    sorted distinct token set — catches word-order shuffles, the
    duplication mode the synthetic corpus actually contains) or
    ``exact`` (md5 of normalized text).

    Scale shape — pair counts WITHOUT pair enumeration: aggregate to
    per-(content_hash, source) group sizes first (one keyed shuffle
    with map-side combine), then derive pair counts in closed form —
    C(g, 2) within a source, g_a·g_b across two sources via a
    hash-keyed self-join of the GROUP-SIZE table (duplicate-group-
    sized, not corpus-sized). A 10M-copy boilerplate group costs one
    row per source here, never 10M² join rows; the worst case is the
    group-size table's hash join, bounded by distinct (hash, source)
    combinations.

    Output (source_a ≤ source_b, n_pairs, n_groups), cells with at
    least one pair only.
    """
    if method == "token_set":
        fp = TXT.token_set_fingerprint(text_col)
    elif method == "exact":
        fp = TXT.content_fingerprint(text_col)
    else:
        raise ValueError(f"unknown method {method!r}")
    sizes = (
        df.select(
            fp.alias("text_hash"),
            F.col(source_col).alias("src"),
        )
        .groupBy("text_hash", "src")
        .agg(F.count(F.lit(1)).alias("g"))
    )
    same = sizes.filter(F.col("g") >= 2).select(
        F.col("src").alias("source_a"),
        F.col("src").alias("source_b"),
        "text_hash",
        (F.col("g") * (F.col("g") - F.lit(1)) / F.lit(2))
        .cast("bigint")
        .alias("pairs"),
    )
    a = sizes.select("text_hash", F.col("src").alias("source_a"), F.col("g").alias("ga"))
    b = sizes.select("text_hash", F.col("src").alias("source_b"), F.col("g").alias("gb"))
    cross = (
        a.join(b, "text_hash")
        .filter(F.col("source_a") < F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            "text_hash",
            (F.col("ga") * F.col("gb")).cast("bigint").alias("pairs"),
        )
    )
    return (
        same.unionByName(cross)
        .groupBy("source_a", "source_b")
        .agg(
            F.sum("pairs").cast("bigint").alias("n_pairs"),
            F.countDistinct("text_hash").cast("bigint").alias("n_groups"),
        )
    )


# ----------------------------------------------- paragraph-grain dedup


def attach_paragraphs(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic multi-paragraph augmentation: the synthetic corpus
    has no blank-line structure, so (same pattern as
    ``curation.attach_pii``) each doc becomes three ``\\n\\n``-separated
    paragraphs — a shared header (5 variants across the corpus), the
    doc's own text, and a shared footer (3 variants). Headers/footers
    are the cross-document duplicates paragraph dedup must remove;
    both engines build the identical string."""
    i = F.col("doc_id")
    return df.withColumn(
        "ptext",
        F.concat(
            F.lit("shared header "), (i % 5).cast("string"),
            F.lit("\n\n"), F.col(text_col),
            F.lit("\n\n"), F.lit("shared footer "), (i % 3).cast("string"),
        ),
    )


def paragraph_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "ptext"
) -> DataFrame:
    """Paragraph-grain exact dedup (the Lee et al. 2022 "Deduplicating
    Training Data Makes Language Models Better" removal unit, at the
    blank-line paragraph grain): corpus-wide, each distinct paragraph
    is kept ONLY at its first occurrence — ordered by (doc_id,
    position) — and removed everywhere else; documents are then
    reassembled from their surviving paragraphs.

    Election is a groupBy-min on the paragraph's md5 (map-side
    partial min over ``struct(doc_id, idx)``), NOT a window: hot
    boilerplate paragraphs are exactly the skewed keys, and a partial
    aggregate collapses them to one row per partition before the
    shuffle, where a window would sort every occurrence of the hot
    key in one task. The winner table then joins back on the md5 —
    shuffled hash join; AQE's skew split handles residual imbalance.

    Output: (doc_id, n_paras, n_kept, clean_md5) where ``clean_md5``
    fingerprints the surviving paragraphs joined by the original
    blank-line separator — a cleaned-stream md5 twin in the oracle
    verifies the reconstruction byte-for-byte.

    100 TB shape: one shuffle on the 32-byte paragraph hash (partial
    agg), one shuffle back on doc_id for reassembly. No self-join;
    memory is bounded by a single document's paragraph list.
    """
    ex = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(F.split(F.col(text_col), r"\n\n")).alias(
                "idx", "para"
            ),
        )
        .withColumn("pmd5", F.md5(F.col("para")))
    )
    winners = ex.groupBy("pmd5").agg(
        F.min(F.struct("doc_id", "idx")).alias("w")
    )
    kept = ex.join(winners, "pmd5").withColumn(
        "is_first",
        (F.col("doc_id") == F.col("w.doc_id")) & (F.col("idx") == F.col("w.idx")),
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.sum(F.col("is_first").cast("bigint")).alias("n_kept"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("is_first"),
                                    F.struct("idx", "para"),
                                )
                            )
                        ),
                        lambda s: s["para"],
                    ),
                    "\n\n",
                )
            ).alias("clean_md5"),
        )
        .orderBy("doc_id")
    )


def paragraph_dedup_docs(spark, sf_dir: str) -> DataFrame:
    """Gate shape: paragraph dedup over the paragraph-augmented
    documents table. (doc_id, n_paras, n_kept, clean_md5)."""
    from ..sources.store import load_documents

    return paragraph_dedup(attach_paragraphs(load_documents(spark, sf_dir)))


def lsh_calibration_report(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    num_hashes: int = 16,
    band_grid: tuple[int, ...] = (2, 4, 8, 16),
    threshold: float = 0.8,
) -> DataFrame:
    """Banding-parameter calibration for MinHash-LSH dedup — the dedup
    family's twin of ``index.ann_recall_report``: one row per bands
    setting with the measured candidate volume, verified-pair count,
    recall against the EXACT Jaccard truth, and precision of the raw
    candidate set. This is the report a pipeline reads before fixing
    (bands, rows) for a corpus-scale dedup run: more bands → higher
    recall and more candidates to verify; the knee is corpus-specific.

    One shingle pass feeds the truth computation, the signatures, and
    every banding config (md5 hasher — the engine-portable signature,
    so the WHOLE report incl. the banding's approximation error is
    oracle-checked). Counts are per-config aggregates of the same
    bounded candidate machinery the production path uses; nothing
    all-pairs.

    Output: (num_hashes, bands, rows_per_band, n_candidates,
    n_verified, n_truth, recall, precision).
    """
    from ..sources.store import load_documents

    docs = load_documents(spark, sf_dir)
    shingled = shingled_table(docs, "doc_id", "text", n)
    # exact truth: every pair clearing the threshold (inverted-index
    # exact join, same machinery as the oracle-backed exact entry)
    truth = (
        ngram_jaccard_pairs(docs, n=n, threshold=threshold)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
    )

    # ONE signature pass shared by every banding config: the k salted
    # md5 folds over the shingle sets are the expensive stage (they
    # dominate a per-config rebuild 4×); band keys then derive from
    # the materialized sig attribute with one cheap md5 per band.
    sig_df = shingled.select(
        "id",
        "sh",
        F.array(
            *[_sig_element(F.col("sh"), i, "md5") for i in range(num_hashes)]
        ).alias("sig"),
    ).persist()

    def _cands(bands: int) -> DataFrame:
        rows = num_hashes // bands
        band_rows = sig_df.select(
            "id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(bb).alias("band"),
                            F.md5(
                                F.concat_ws(
                                    ",",
                                    *[
                                        F.element_at("sig", bb * rows + r + 1)
                                        for r in range(rows)
                                    ],
                                )
                            ).alias("bkey"),
                        )
                        for bb in range(bands)
                    ]
                )
            ).alias("bk"),
        ).select("id", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey"))
        ba, bb2 = band_rows.alias("a"), band_rows.alias("b")
        return (
            ba.join(
                bb2,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bkey") == F.col("b.bkey"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )

    sa = sig_df.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sb = sig_df.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    per_config = []
    for b in band_grid:
        cands = _cands(b)
        inter = F.size(F.array_intersect("sh_a", "sh_b"))
        union = F.size("sh_a") + F.size("sh_b") - inter
        jac = F.round(inter.cast("double") / union.cast("double"), 6) + F.lit(0.0)
        flagged = (
            cands.join(sa, "id_a")
            .join(sb, "id_b")
            .select((jac >= threshold).cast("int").alias("ok"))
        )
        per_config.append(
            flagged.agg(
                F.lit(num_hashes).cast("bigint").alias("num_hashes"),
                F.lit(b).cast("bigint").alias("bands"),
                F.lit(num_hashes // b).cast("bigint").alias("rows_per_band"),
                F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
                F.sum("ok").cast("bigint").alias("n_verified"),
            )
        )
    rep = per_config[0]
    for c in per_config[1:]:
        rep = rep.unionByName(c)
    return rep.crossJoin(F.broadcast(truth)).select(
        "num_hashes",
        "bands",
        "rows_per_band",
        "n_candidates",
        F.coalesce("n_verified", F.lit(0)).cast("bigint").alias("n_verified"),
        "n_truth",
        (
            F.when(
                F.col("n_truth") > 0,
                F.round(
                    F.coalesce("n_verified", F.lit(0)).cast("double")
                    / F.col("n_truth"),
                    6,
                ),
            )
            + F.lit(0.0)
        ).alias("recall"),
        (
            F.when(
                F.col("n_candidates") > 0,
                F.round(
                    F.coalesce("n_verified", F.lit(0)).cast("double")
                    / F.col("n_candidates"),
                    6,
                ),
            )
            + F.lit(0.0)
        ).alias("precision"),
    )
