"""Image near-duplicate dedup: perceptual hash (dHash) + banded
Hamming blocking + exact Hamming verify.

The standard CommonCrawl-images curation step: re-encodes, recrops,
and brightness tweaks defeat byte-level (md5) dedup, but survive a
difference hash — grayscale, downscale to (hash_size+1, hash_size),
threshold horizontal gradients into a 64-bit fingerprint. Two images
are near-dups when their fingerprints are within a small Hamming
radius.

Spark-first decomposition (mirrors the text MinHash-LSH shape,
``dedup.minhash_lsh_pairs``):

1. **Hash** — Arrow-batched ``mapInPandas`` decode→gray→resize→dHash
   (the only Python stage; bytes cross the boundary once per batch).
   The corpus rides the same deterministic synthetic rasters the
   multimodal pipeline uses (no imaging libs in the container), with
   planted near-duplicates: every ``doc_id % 10 == 9`` doc carries a
   brightness-shifted, pixel-flipped copy of doc ``doc_id - 9``'s
   image — close in dHash space, never byte-identical.
2. **Block** — split the 64-bit hash into ``n_bands`` words (native
   ``shiftrightunsigned``/``&`` + explode). By pigeonhole, any pair
   within Hamming radius ``n_bands - 1`` shares at least one exact
   band — so 4 bands give LOSSLESS recall for radius ≤ 3 and high
   recall well past it. Candidates join on (band, value): only
   fingerprints agreeing on 16 exact bits ever meet — no all-pairs
   stage, same as LSH banding.
3. **Verify** — exact Hamming via native ``bit_count(a ^ b)`` on the
   candidate pairs only; distinct-dedup across bands.

100 TB shape: one narrow hash stage, one keyed self-join on 16-bit
band values (hot bands = flat/black images; the groupBy-count cap
``max_band_df`` drops degenerate band buckets the way the n-gram
join drops stopword shingles), exact verify on candidates only.
Everything after the hash stage is JVM codegen.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F, types as T

from ..functions.png import resize_bilinear
from ..artifacts import persisted
from ..sources.store import load_documents
from .multimodal import _fake_raster, decode_raster, encode_raster

HASH_BITS = 64


def dhash64(img: np.ndarray, hash_size: int = 8) -> int:
    """64-bit difference hash: integer luma grayscale, bilinear resize
    to (hash_size, hash_size+1), horizontal gradient sign bits, MSB
    first. Pure numpy — deterministic across platforms."""
    a = np.asarray(img, dtype=np.int64)
    if a.ndim == 3:
        # integer luma (Rec.601 weights scaled by 1000) — no float path
        gray = (299 * a[..., 0] + 587 * a[..., 1] + 114 * a[..., 2]) // 1000
    else:
        gray = a
    small = resize_bilinear(
        gray.astype(np.uint8)[..., None], hash_size + 1, hash_size
    )[..., 0].astype(np.int64)
    bits = (small[:, 1:] > small[:, :-1]).flatten()
    h = 0
    for b in bits:
        h = (h << 1) | int(b)
    return h


def perturb_raster(payload: bytes, doc_id: int) -> bytes:
    """Near-duplicate perturbation: +2 brightness (clipped) and a
    handful of md5-drawn pixel flips — byte-level different, dHash
    close. Deterministic in ``doc_id``."""
    img = decode_raster(payload).astype(np.int64)
    img = np.clip(img + 2, 0, 255)
    h, w, c = img.shape
    noise = hashlib.md5(f"flip:{doc_id}".encode()).digest()
    for i in range(3):
        y, x = noise[2 * i] % h, noise[2 * i + 1] % w
        img[y, x, :] = noise[6 + i]
    return encode_raster(img.astype(np.uint8))


_HASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("base_id", T.LongType()),
        T.StructField("dhash", T.LongType()),
    ]
)


def image_dhashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, base_id, dhash) for the synthetic image corpus with
    planted near-dups. ``base_id`` records which doc a planted
    duplicate copies (it equals ``doc_id`` for originals) — the
    ground-truth column the recall pin uses; the dedup operator never
    reads it. One Arrow stage; the base-image lookup is a self-join
    on ``doc_id - 9`` (narrow key join, only for the planted 10%).

    Persisted to parquet (``artifacts.persisted``): the table is a
    pure function of the corpus, and four consumers (pairs, groups,
    store, stream landing) would otherwise re-decode the images per
    call."""
    return persisted(
        "imgh", sf_dir, {},
        lambda out: _image_dhashes_uncached(spark, sf_dir).write.parquet(out),
        spark.read.parquet,
    )


def _image_dhashes_uncached(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_documents(spark, sf_dir).select("doc_id", "n_chars")
    base = d.select(
        F.col("doc_id").alias("base_id"), F.col("n_chars").alias("base_chars")
    )
    planted = F.col("doc_id") % 10 == 9
    # originals need no lookup; only the planted 10% join for their
    # base image's dimensions — the join never touches the other 90%
    orig = d.filter(~planted).select(
        "doc_id",
        F.col("doc_id").alias("base_id"),
        F.col("n_chars").alias("base_chars"),
    )
    dups = (
        d.filter(planted)
        .select("doc_id", (F.col("doc_id") - 9).alias("base_id"))
        .join(base, "base_id")
        .select("doc_id", "base_id", "base_chars")
    )
    from .dedup import _ensure_parallelism

    # fan out before the Arrow stage: a small parquet scans as ONE
    # split, serializing the decode/hash work (same fix as audiofp)
    src = _ensure_parallelism(orig.unionByName(dups))

    def hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, base_id, base_chars in zip(
                pdf["doc_id"], pdf["base_id"], pdf["base_chars"]
            ):
                payload = _fake_raster(int(base_id), int(base_chars))
                if int(base_id) != int(doc_id):
                    payload = perturb_raster(payload, int(doc_id))
                img = decode_raster(payload)
                h = dhash64(img)
                # to signed 64-bit (LongType) — band extraction uses
                # shiftrightunsigned so the sign bit is harmless
                rows.append(
                    (int(doc_id), int(base_id), int(np.int64(np.uint64(h))))
                )
            yield pd.DataFrame(rows, columns=["doc_id", "base_id", "dhash"])

    return src.mapInPandas(hash_batches, schema=_HASH_SCHEMA)


def dhash_pairs(
    hashes: DataFrame,
    max_hamming: int = 10,
    n_bands: int = 4,
    max_band_df: int = 2000,
) -> DataFrame:
    """Banded-Hamming near-dup pairs over (doc_id, dhash) rows:
    explode into ``n_bands`` exact band words, self-join per band,
    exact ``bit_count(xor)`` verify, distinct. Pairs within Hamming
    radius ``n_bands - 1`` are found with recall 1.0 (pigeonhole);
    larger radii degrade gracefully like LSH banding. ``max_band_df``
    drops degenerate hot buckets (flat images all hash alike) — the
    df-cap skew fix from the n-gram join."""
    # the hash stage is consumed by the df-cap count AND both join
    # sides — without a barrier the Arrow decode/hash re-runs per
    # consumer (8 MapInPandas nodes in the unshared DAG, measured)
    hashes = hashes.localCheckpoint(eager=False)
    width = HASH_BITS // n_bands
    mask = (1 << width) - 1
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                (
                    F.shiftrightunsigned(F.col("dhash"), b * width)
                    .bitwiseAND(F.lit(mask))
                ).alias("val"),
            )
            for b in range(n_bands)
        ]
    )
    e = hashes.select(
        "doc_id", "dhash", F.explode(bands).alias("b")
    ).select("doc_id", "dhash", F.col("b.band").alias("band"), F.col("b.val").alias("val"))
    # df cap on (band, val) buckets — drops only degenerate hot keys
    hot = (
        e.groupBy("band", "val")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_band_df)
        .select("band", "val")
    )
    e = e.join(F.broadcast(hot), ["band", "val"], "left_anti")
    l = e.select(
        F.col("band"), F.col("val"),
        F.col("doc_id").alias("id_a"), F.col("dhash").alias("h_a"),
    )
    r = e.select(
        F.col("band"), F.col("val"),
        F.col("doc_id").alias("id_b"), F.col("dhash").alias("h_b"),
    )
    cand = (
        l.join(r, ["band", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "h_a", "h_b")
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .orderBy("id_a", "id_b")
    )


def image_phash_dedup(
    spark: SparkSession, sf_dir: str, max_hamming: int = 10
) -> DataFrame:
    """Gate shape: banded perceptual-hash near-dup pairs over the
    planted-duplicate image corpus. Rows-only (md5-keystream pixels
    have no SQL twin); planted recall + blocking-vs-exact parity
    pinned in tests/test_imagededup.py."""
    return dhash_pairs(
        image_dhashes(spark, sf_dir).select("doc_id", "dhash"),
        max_hamming=max_hamming,
    )


def dhash_pairs_exact(hashes: DataFrame, max_hamming: int = 10) -> DataFrame:
    """All-pairs baseline (O(n²) — the measured foil for SCALING.md,
    never the serving path): cross-join + bit_count verify."""
    l = hashes.select(F.col("doc_id").alias("id_a"), F.col("dhash").alias("h_a"))
    r = hashes.select(F.col("doc_id").alias("id_b"), F.col("dhash").alias("h_b"))
    return (
        l.join(r, F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .orderBy("id_a", "id_b")
    )


# ------------------------------------------------ persisted pHash store


def build_phash_store(hashes: DataFrame, path: str) -> int:
    """Materialize image-dedup state as an on-disk inverted BAND
    table — the production form of :func:`dhash_pairs`' left side
    (which recomputes hashes per call): one parquet table under
    ``path``/bands with columns (val, doc_id, dhash), PARTITIONED BY
    band, so a screen reads only the four 16-bit posting lists it
    probes and never the image corpus. Same maintained-state pattern
    as ``dedup.build_fingerprint_store`` / ivf_upsert. Returns the
    band-row count."""
    width = HASH_BITS // _STORE_BANDS
    mask = (1 << width) - 1
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                (
                    F.shiftrightunsigned(F.col("dhash"), b * width)
                    .bitwiseAND(F.lit(mask))
                ).alias("val"),
            )
            for b in range(_STORE_BANDS)
        ]
    )
    e = (
        hashes.select("doc_id", "dhash", F.explode(bands).alias("b"))
        .select(
            F.col("b.band").alias("band"),
            F.col("b.val").alias("val"),
            "doc_id",
            "dhash",
        )
    )
    e = e.localCheckpoint(eager=True)  # one eval: count + write
    n = e.count()
    e.write.mode("overwrite").partitionBy("band").parquet(f"{path}/bands")
    return n


_STORE_BANDS = 4


def screen_images_against_store(
    spark: SparkSession,
    new_hashes: DataFrame,
    path: str,
    max_hamming: int = 10,
) -> DataFrame:
    """Screen a new image batch against the pHash store: banded
    candidate join into the stored posting lists, exact
    bit_count(xor) verify, best match per incoming image. Output
    (doc_id, is_near_dup, best_match, best_hamming) for EVERY
    incoming row (non-dups carry nulls). The store side reads only
    the (val, doc_id, dhash) columns of the probed band partitions."""
    width = HASH_BITS // _STORE_BANDS
    mask = (1 << width) - 1
    new_hashes = new_hashes.localCheckpoint(eager=False)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                (
                    F.shiftrightunsigned(F.col("dhash"), b * width)
                    .bitwiseAND(F.lit(mask))
                ).alias("val"),
            )
            for b in range(_STORE_BANDS)
        ]
    )
    probes = (
        new_hashes.select("doc_id", "dhash", F.explode(bands).alias("b"))
        .select(
            F.col("b.band").alias("band"),
            F.col("b.val").alias("val"),
            F.col("doc_id").alias("new_id"),
            F.col("dhash").alias("new_hash"),
        )
    )
    store = spark.read.parquet(f"{path}/bands").select(
        "band", "val",
        F.col("doc_id").alias("store_id"), F.col("dhash").alias("store_hash"),
    )
    cand = (
        probes.join(store, ["band", "val"])
        .select("new_id", "new_hash", "store_id", "store_hash")
        .distinct()
        .withColumn(
            "hamming",
            F.bit_count(
                F.col("new_hash").bitwiseXOR(F.col("store_hash"))
            ).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    best = cand.groupBy("new_id").agg(
        F.min(F.struct("hamming", "store_id")).alias("w")
    )
    return (
        new_hashes.select(F.col("doc_id"))
        .join(best, new_hashes["doc_id"] == best["new_id"], "left")
        .select(
            "doc_id",
            F.col("w").isNotNull().alias("is_near_dup"),
            F.col("w.store_id").alias("best_match"),
            F.col("w.hamming").alias("best_hamming"),
        )
        .orderBy("doc_id")
    )


def phash_store_upsert(admitted_hashes: DataFrame, path: str) -> int:
    """Append an admitted batch's band rows to the store (duplicates
    harmless for membership; periodic compaction rewrites DISTINCT —
    the ivf_compact pattern). Returns appended row count."""
    width = HASH_BITS // _STORE_BANDS
    mask = (1 << width) - 1
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                (
                    F.shiftrightunsigned(F.col("dhash"), b * width)
                    .bitwiseAND(F.lit(mask))
                ).alias("val"),
            )
            for b in range(_STORE_BANDS)
        ]
    )
    e = (
        admitted_hashes.select("doc_id", "dhash", F.explode(bands).alias("b"))
        .select(
            F.col("b.band").alias("band"),
            F.col("b.val").alias("val"),
            "doc_id",
            "dhash",
        )
        .localCheckpoint(eager=True)
    )
    n = e.count()
    e.write.mode("append").partitionBy("band").parquet(f"{path}/bands")
    return n


def incremental_image_dedup(
    spark: SparkSession, sf_dir: str, existing_frac: float = 0.9,
    max_hamming: int = 10,
) -> DataFrame:
    """Gate entry: store-backed image screen — the corpus split 90/10
    by the standard md5 draw, the store built from the 'existing'
    split, the 'incoming' split screened against it. Rows-only
    (pHash corpus); store == recompute equivalence and upsert growth
    pinned in tests/test_imagededup.py."""
    from .sampling import _draw, _threshold_hex

    thr = _threshold_hex(existing_frac)
    h = image_dhashes(spark, sf_dir).select("doc_id", "dhash")
    h = h.localCheckpoint(eager=False)
    existing = h.filter(_draw(F.col("doc_id")) < F.lit(thr))
    incoming = h.filter(~(_draw(F.col("doc_id")) < F.lit(thr)))
    return persisted(
        "phash", sf_dir, {"existing_frac": existing_frac},
        lambda out: build_phash_store(existing, out),
        lambda path: screen_images_against_store(
            spark, incoming, path, max_hamming=max_hamming
        ),
    )


def hamming_banded_pairs(
    spark: SparkSession, sf_dir: str, max_hamming: int = 10
) -> DataFrame:
    """ORACLE surface for the banded-Hamming machinery: the same
    :func:`dhash_pairs` blocking + verify, run over a fingerprint
    table BOTH engines can construct exactly — 60-bit integers from
    each doc's md5 hex prefix, with planted near-dups (XOR 7 of the
    base doc's hash — Hamming 3, inside the pigeonhole-lossless
    radius, so blocked == specified output deterministically). The
    image entries stay rows-only because their PIXELS have no SQL
    twin; this entry puts the band-explode / hot-cap / keyed-join /
    bit_count-verify math itself under the hash-exact gate."""
    d = load_documents(spark, sf_dir).select("doc_id")

    def h_of(col) -> "F.Column":
        return F.conv(
            F.substring(F.md5(col.cast("string")), 1, 15), 16, 10
        ).cast("bigint")

    hashes = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 9,
            h_of(F.col("doc_id") - 9).bitwiseXOR(F.lit(7)),
        )
        .otherwise(h_of(F.col("doc_id")))
        .alias("dhash"),
    )
    return dhash_pairs(hashes, max_hamming=max_hamming)
