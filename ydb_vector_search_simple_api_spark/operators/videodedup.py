"""Video sequence near-dup: frame-level perceptual hashes shingled
into sequence keys + inverted-index join + offset-consistency verify.

The video analogue of the corpus's other modality dedups: re-encoded
or re-containered clips defeat byte-level dedup, but their FRAME
SEQUENCE survives — per-frame dHash (``imagededup.dhash64``) collapses
pixel-level noise, and a k-frame shingle of consecutive hashes is a
sequence landmark that only matches when k frames line up in order
(the video twin of the audio constellation / the text k-gram
shingle).

Pipeline:

1. **Frame hashes** (Arrow ``mapInPandas``): deterministic synthetic
   frame sequences (md5-keystream rasters per (doc, frame) — the
   container has no video codecs, same honesty contract as the other
   multimodal stages); every ``doc_id % 10 == 9`` doc embeds a
   brightness-shifted copy of frames 1..10 of doc ``doc_id - 9`` at
   position 2 of its own sequence (brightness +2 preserves gradient
   signs away from saturation, so most frame dHashes survive while
   the bytes differ). Emits ``(doc_id, t, shingle)`` — md5 over the
   k=4-frame hash window.
2. **Candidate join** (JVM): self-join on the shingle key with
   ``id_a < id_b`` — only docs sharing an exact k-frame landmark meet.
3. **Offset histogram** (JVM): votes pile on one ``t_b - t_a`` cell
   for a true shared subsequence (length L ≥ k ⇒ L − k + 1 aligned
   shingles), scatter otherwise; ``min_votes`` rejects coincidence.

100 TB shape: identical to the audio matcher — narrow Arrow stage,
keyed join (df-cap for degenerate shingles: black frames, test
patterns), one keyed count, groupBy-max election per pair.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F, types as T

from ..artifacts import persisted
from ..sources.store import load_documents
from .dedup import _ensure_parallelism
from .imagededup import dhash64

SHINGLE_K = 4
_FRAME_H, _FRAME_W = 16, 16


def _fake_frame(doc_id: int, fidx: int) -> np.ndarray:
    """Deterministic (16, 16, 3) uint8 frame from an md5 keystream of
    (doc_id, frame index)."""
    need = _FRAME_H * _FRAME_W * 3
    seed = f"vid:{doc_id}:{fidx}".encode()
    chunks, i = [], 0
    while sum(len(c) for c in chunks) < need:
        chunks.append(hashlib.md5(seed + i.to_bytes(4, "little")).digest())
        i += 1
    return (
        np.frombuffer(b"".join(chunks)[:need], dtype=np.uint8)
        .reshape(_FRAME_H, _FRAME_W, 3)
        .copy()
    )


def _frame_hashes(doc_id: int, n_chars: int) -> list[int]:
    """The doc's frame-hash sequence, with the planted shared
    subsequence for ``doc_id % 10 == 9`` docs (brightness-shifted
    frames 3..9 of the base doc spliced in at position 2)."""
    n_frames = 12 + (n_chars % 8)
    own = [dhash64(_fake_frame(doc_id, f)) for f in range(n_frames)]
    if doc_id % 10 == 9:
        # 10 borrowed frames -> 7 aligned shingles: redundancy absorbs
        # the occasional frame whose dHash flips under the brightness
        # shift (saturation near 255), the same
        # survive-a-minority-of-losses contract as the audio matcher
        base = doc_id - 9
        borrowed = [
            dhash64(np.clip(_fake_frame(base, f).astype(np.int64) + 2, 0, 255))
            for f in range(1, 11)
        ]
        own[2 : 2 + len(borrowed)] = borrowed
    return own


def _shingles(hashes: list[int], k: int = SHINGLE_K) -> list[tuple[str, int]]:
    """(md5-of-k-consecutive-frame-hashes, start index) landmarks."""
    out = []
    for t in range(len(hashes) - k + 1):
        key = hashlib.md5(
            b"".join(int(h).to_bytes(8, "little") for h in hashes[t : t + k])
        ).hexdigest()
        out.append((key, t))
    return out


_SHINGLE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("key", T.StringType()),
        T.StructField("t", T.IntegerType()),
    ]
)


def video_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, key, t) sequence landmarks for every document's
    synthetic clip, persisted to parquet (``artifacts.persisted``; a
    pure function of the corpus)."""
    return persisted(
        "vshg", sf_dir, {},
        lambda out: _video_shingles_uncached(spark, sf_dir).write.parquet(out),
        spark.read.parquet,
    )


def _video_shingles_uncached(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _ensure_parallelism(
        load_documents(spark, sf_dir).select("doc_id", "n_chars")
    )

    def fp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                for key, t in _shingles(
                    _frame_hashes(int(doc_id), int(n_chars))
                ):
                    rows.append((int(doc_id), key, t))
            yield pd.DataFrame(rows, columns=["doc_id", "key", "t"])

    return d.mapInPandas(fp, schema=_SHINGLE_SCHEMA)


def sequence_pairs(
    shingles: DataFrame, min_votes: int = 2, max_key_df: int = 1000
) -> DataFrame:
    """Self-join sequence matcher: pairs of docs sharing ≥ min_votes
    shingles at ONE consistent frame offset. Output (id_a, id_b,
    offset, n_votes), id_a < id_b, ordered. Same plan family as
    ``audiofp.match_fingerprints`` (keyed join + offset histogram +
    max-struct election); ``max_key_df`` drops degenerate hot shingles
    (black frames) like the n-gram df cap."""
    shingles = shingles.localCheckpoint(eager=False)
    hot = (
        shingles.groupBy("key")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_key_df)
        .select("key")
    )
    s = shingles.join(F.broadcast(hot), "key", "left_anti")
    a = s.select("key", F.col("doc_id").alias("id_a"), F.col("t").alias("ta"))
    b = s.select("key", F.col("doc_id").alias("id_b"), F.col("t").alias("tb"))
    votes = (
        a.join(b, "key")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", (F.col("tb") - F.col("ta")).alias("offset"))
        .agg(F.count(F.lit(1)).alias("n_votes"))
        .filter(F.col("n_votes") >= min_votes)
    )
    best = votes.groupBy("id_a", "id_b").agg(
        F.max(F.struct("n_votes", "offset")).alias("w")
    )
    return best.select(
        "id_a",
        "id_b",
        F.col("w.offset").alias("offset"),
        F.col("w.n_votes").alias("n_votes"),
    ).orderBy("id_a", "id_b")


def video_sequence_dedup(
    spark: SparkSession, sf_dir: str, min_votes: int = 2
) -> DataFrame:
    """Gate shape: frame-sequence near-dup pairs over the
    planted-subsequence video corpus. Rows-only (md5-keystream frames
    have no SQL twin); planted pair+offset recovery pinned in
    tests/test_videodedup.py."""
    return sequence_pairs(video_shingles(spark, sf_dir), min_votes=min_votes)
