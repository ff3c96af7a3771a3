"""Cross-modality curation report: one admission verdict per document
from ALL of its modalities.

A multimodal training corpus carries text + image + audio + video per
record; curation must reject a record when ANY modality is a
near-duplicate of an earlier record (or the text fails quality) —
otherwise near-dup media leaks through a text-only gate. This
operator composes the per-modality dedup stages the engine already
ships into the per-document provenance row the pipeline audits
(`curation_reasons` extended across modalities):

* text: n-gram Jaccard near-dup pairs (``dedup.ngram_jaccard_pairs``)
* image: banded pHash near-dup pairs (``imagededup.image_phash_dedup``)
* audio: constellation match of the planted probe clips
  (``audiofp.audio_fingerprint_match``)
* video: frame-sequence shingle match (``videodedup``)
* quality: the standard composite text score

Dup convention: in every pair the LATER doc (higher doc_id) is the
duplicate — the corpus-wide keep-first rule all the dedup families
use. Admission = quality pass AND no modality flags.

100 TB shape: each modality stage keeps its own documented plan (all
keyed joins / Arrow stages); this report adds only left-semi joins of
doc_id sets onto the corpus spine — broadcast-scale per modality at
the duplicate-fraction row counts, keyed joins otherwise. Rows-only
(the media stages have no SQL twins); flag-by-flag equality against
the individual operators pinned in tests/test_mmcuration.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..branches import run_branches
from ..functions import text as TXT
from ..sources.store import load_documents


def multimodal_curation_report(
    spark: SparkSession,
    sf_dir: str,
    min_quality: float = 0.8,
    jaccard_threshold: float = 0.8,
) -> DataFrame:
    """(doc_id, quality_pass, text_near_dup, image_dup, audio_dup,
    video_dup, admitted) for every document, ordered."""
    from . import audiofp, dedup, imagededup, videodedup

    docs = load_documents(spark, sf_dir)
    spine = docs.select(
        "doc_id",
        (
            F.round(TXT.quality_score("text"), 6) + F.lit(0.0) >= min_quality
        ).alias("quality_pass"),
    )

    def later_ids(pairs: DataFrame) -> DataFrame:
        return pairs.select(F.col("id_b").alias("doc_id")).distinct()

    # the four modality pair builders are independent jobs; each
    # branch pins only its duplicate ID SET (O(duplicated docs) rows,
    # never the corpus)
    text_dup, image_dup, video_dup, audio_dup = run_branches(spark, {
        "mm-curation/text": lambda: later_ids(
            dedup.ngram_jaccard_pairs(docs, n=3, threshold=jaccard_threshold)
        ).localCheckpoint(eager=True),
        "mm-curation/image": lambda: later_ids(
            imagededup.image_phash_dedup(spark, sf_dir)
        ).localCheckpoint(eager=True),
        "mm-curation/video": lambda: later_ids(
            videodedup.video_sequence_dedup(spark, sf_dir)
        ).localCheckpoint(eager=True),
        # audio probes ARE the later docs (probe_id = base_id + 9)
        "mm-curation/audio": lambda: audiofp.audio_fingerprint_match(
            spark, sf_dir
        ).select(F.col("probe_id").alias("doc_id")).distinct().localCheckpoint(
            eager=True
        ),
    }).values()

    out = spine
    for name, ids in (
        ("text_near_dup", text_dup),
        ("image_dup", image_dup),
        ("audio_dup", audio_dup),
        ("video_dup", video_dup),
    ):
        out = out.join(
            ids.withColumn(name, F.lit(True)), "doc_id", "left"
        ).withColumn(name, F.coalesce(F.col(name), F.lit(False)))
    return out.select(
        "doc_id",
        "quality_pass",
        "text_near_dup",
        "image_dup",
        "audio_dup",
        "video_dup",
        (
            F.col("quality_pass")
            & ~F.col("text_near_dup")
            & ~F.col("image_dup")
            & ~F.col("audio_dup")
            & ~F.col("video_dup")
        ).alias("admitted"),
    ).orderBy("doc_id")


def multimodal_safe_splits(
    spark: SparkSession,
    sf_dir: str,
    train: float = 0.8,
    valid: float = 0.1,
) -> DataFrame:
    """Leakage-safe splits across EVERY modality: the split is keyed
    on the connected component of the UNION of all four near-dup
    graphs (text n-gram Jaccard ∪ image pHash ∪ audio constellation
    ∪ video sequence), so two documents sharing a near-duplicate in
    ANY modality can never straddle the train/test fence — the
    multimodal extension of ``curation.leakage_safe_splits`` (whose
    text-only fence a shared image/audio/video asset walks straight
    through).

    Union graph resolved by two-star alternation (diameter-robust —
    cross-modality unions chain: A↔B by image, B↔C by audio);
    singleton docs are their own component; the md5 split draw is the
    corpus-wide ``sampling.split_assign`` convention. Output (doc_id,
    component_id, split). Rows-only (the media edges have no SQL
    twin); the never-straddle property is pinned per modality in
    tests/test_mmcuration.py."""
    from . import audiofp, dedup, imagededup, videodedup
    from .graph import connected_components_twostar
    from .sampling import split_assign

    docs = load_documents(spark, sf_dir)

    # the four modality edge builders are independent jobs; each pins
    # only its near-dup EDGE LIST (O(duplicated docs) rows)
    text, image, video, audio = run_branches(spark, {
        "mm-splits/text": lambda: dedup.ngram_jaccard_pairs(
            docs, n=3, threshold=0.8
        ).select("id_a", "id_b").localCheckpoint(eager=True),
        "mm-splits/image": lambda: imagededup.image_phash_dedup(
            spark, sf_dir
        ).select("id_a", "id_b").localCheckpoint(eager=True),
        "mm-splits/video": lambda: videodedup.video_sequence_dedup(
            spark, sf_dir
        ).select("id_a", "id_b").localCheckpoint(eager=True),
        "mm-splits/audio": lambda: audiofp.audio_fingerprint_match(
            spark, sf_dir
        ).select(
            F.least("probe_id", "track_id").alias("id_a"),
            F.greatest("probe_id", "track_id").alias("id_b"),
        ).localCheckpoint(eager=True),
    }).values()
    edges = text.unionByName(image).unionByName(video).unionByName(audio)
    comp = connected_components_twostar(edges).select(
        F.col("doc_id").alias("c_doc_id"), "component_id"
    )
    return (
        docs.select("doc_id")
        .join(comp, F.col("doc_id") == F.col("c_doc_id"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component_id"), F.col("doc_id")).alias(
                "component_id"
            ),
        )
        .withColumn("split", split_assign(F.col("component_id"), train, valid))
        .orderBy("doc_id")
    )
