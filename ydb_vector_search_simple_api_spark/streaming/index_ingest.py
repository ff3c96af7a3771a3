"""Continuous ANN-index ingestion: Structured Streaming -> the index
layouts.

The reference's store is written by an external loader and its
``vector_kmeans_tree`` secondary index is maintained by YDB itself as
rows arrive; :func:`stream_ingest` is the Spark-native counterpart for
every maintained layout: a streaming source of ``(id, embedding)`` rows
is upserted micro-batch by micro-batch into one or more indexes (IVF,
k-means tree, PQ / SQ8 / BQ codes flat or IVF-composed, k-NN graph), so
searches see new vectors as soon as their batch commits (directory-based
pruning re-lists the layout per generation; no restart, no rebuild).

Why ``foreachBatch`` and not a streaming sink: each append is a batch
write into a hive-partitioned directory keyed by a model-side
assignment (nearest centroid) or an encode, which the layouts' upserts
already implement (``layout.append_batch`` under each of them).
``foreachBatch`` reuses that batch path and gives exactly-once-per-batch
semantics through the checkpoint (a replayed batch re-appends — see the
caveat below).

Scale posture (100 TB serving):

* per-batch work is one Arrow-batched route/encode pass per index and a
  partitioned append — no shuffle, no touch of existing files; cost
  tracks batch size, never index size;
* drift stats accumulate on the driver (a few floats per batch) and
  feed the rebuild trigger: when the assignment distance trends above
  the build-time baseline, schedule an offline rebuild and flip the
  serving pointer (generation pattern, ``layout.compact``);
* many small appended files are the known cost of freshness — run
  ``layout.compact`` on a cadence (file-count threshold), like any
  LSM-ish serving store.

Exactly-once caveat: the file-source checkpoint guarantees each input
file feeds exactly one COMMITTED batch, but a batch that fails after
its appends re-runs and re-appends — duplicate (id, embedding) rows. A
duplicated row scores identically, but it occupies an extra top-k slot
until removed: ``layout.compact(..., dedup_ids=True)`` of every layout
the stream feeds folds replay duplicates away on the usual compaction
cadence.
"""

from __future__ import annotations

import os

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import index as ivf_mod


@dataclass
class IngestMonitor:
    """Driver-side accumulation of per-batch upsert stats — the
    rebuild-trigger feed. A few floats per batch; never row-sized."""

    batches: list = field(default_factory=list)

    @property
    def n_appended(self) -> int:
        return sum(b["n_appended"] for b in self.batches)

    @property
    def max_assign_l2(self) -> float:
        return max((b["max_assign_l2"] for b in self.batches), default=0.0)

    def needs_rebuild(self, baseline_l2: float, factor: float = 2.0) -> bool:
        """True when incoming vectors assign further from the frozen
        centroids than ``factor`` x the build-time baseline — the
        codebook no longer describes the incoming distribution."""
        return self.max_assign_l2 > factor * baseline_l2


def _upsert(spark: SparkSession, index, batch: DataFrame, ivf_index) -> dict:
    """Append ``batch`` to ``index`` through its layout's upsert; an
    IVF-composed codes layout is routed by ``ivf_index``."""
    from ..operators import graphann, layout, tree

    if isinstance(index, ivf_mod.IvfIndex):
        return ivf_mod.ivf_upsert(spark, index, batch)
    if isinstance(index, tree.KmeansTreeIndex):
        return tree.tree_upsert(spark, index, batch)
    if isinstance(index, graphann.GraphAnnIndex):
        return graphann.graphann_upsert(spark, index, batch)
    return layout.codes_upsert(
        spark, index, batch, ivf_index if index.partition_col else None
    )


def stream_ingest(
    spark: SparkSession,
    indexes: list,
    source: DataFrame,
    checkpoint_dir: str,
    monitor: IngestMonitor | None = None,
    available_now: bool = True,
):
    """Wire a streaming ``(id, embedding)`` source into ``indexes``.

    Each micro-batch is persisted once and upserted into every index in
    order, inside ONE ``foreachBatch``, so a replayed batch re-appends
    to all of them together (never codes without vectors). An
    IVF-composed codes layout is routed by the first ``IvfIndex`` before
    it in ``indexes`` (IVF first: the pair ``search.shortlist_search(...,
    ivf_index=...)`` reads stays consistent batch by batch).

    Returns the started ``StreamingQuery``; with ``available_now``
    (default) it drains everything currently available and stops — the
    testable/batch-backfill mode. Pass ``available_now=False`` for an
    unbounded micro-batch trigger. ``monitor`` (optional) collects one
    entry per batch for the rebuild trigger: ``batch_id``,
    ``n_appended`` (the batch's rows), ``max_assign_l2`` (over the
    indexes) and ``per_index``, each index's upsert stats."""
    mon = monitor if monitor is not None else IngestMonitor()

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            ivf_index, stats = None, []
            for index in indexes:
                stats.append(_upsert(spark, index, batch_df, ivf_index))
                if ivf_index is None and isinstance(index, ivf_mod.IvfIndex):
                    ivf_index = index
        finally:
            batch_df.unpersist()
        mon.batches.append(
            {
                "batch_id": batch_id,
                "n_appended": stats[0]["n_appended"],
                "max_assign_l2": max(s["max_assign_l2"] for s in stats),
                "per_index": stats,
            }
        )

    writer = (
        source.select("id", "embedding")
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_lexical_ingest(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str | None = None,
    n_shards: int = 4,
    k1: float = 1.2,
    b: float = 0.75,
):
    """Continuous ingest for the LEXICAL index (the 5th serving
    layout): the documents table drains through ``n_shards`` arrival
    micro-batches; each batch tokenizes ONLY its own rows and appends
    its postings (token, doc_id, tf, dl) plus one (n_docs, sum_dl)
    partial-stats row; finalize seals dfreq + the corpus scalars into
    the serving generation. The sealed index is bit-identical to an
    offline ``build_lexical_index`` over the same corpus — partial
    bigint sums fold exactly, and BM25's per-term decimal contributions
    are aggregation-order independent — so the gate entry shares the
    bm25 oracle (the strongest check a streaming op can carry).

    Per-batch cost tracks BATCH size (tokenize + one keyed count over
    the batch); existing postings files are never touched. Appends are
    not globally token-sorted — run the offline build (== compaction)
    on a cadence to restore the row-group-pruning layout; correctness
    never depends on it (the IN-filter still prunes by row-group
    min/max within each appended file)."""
    import json
    import tempfile
    import uuid

    from ..functions import text as TXT
    from ..operators import ranking as ranking_mod
    from .curation_ingest import write_shard_landing

    run = uuid.uuid4().hex[:8]
    base = out_dir or os.path.join(tempfile.gettempdir(), f"svs_lexing_{run}")
    landing = os.path.join(base, "landing")
    idx_dir = os.path.join(base, "lexical")
    parts_dir = os.path.join(idx_dir, "_stats_parts")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(landing, exist_ok=True)

    docs = load_documents_for_lexical(spark, sf_dir)
    write_shard_landing(docs, landing, n_shards)
    schema = docs.schema

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch is at-least-once: a replayed micro-batch must
        # not double-append postings/stats (tf/df/n_docs/avgdl would
        # silently inflate). Each batch owns a batch_id-keyed
        # partition directory written with OVERWRITE — a retry
        # rewrites its own directory instead of appending a second
        # copy. Readers project the batch_id partition column away.
        toks = TXT.tokens("text")
        per_doc = batch_df.select(
            "doc_id",
            F.size(toks).cast("bigint").alias("dl"),
            toks.alias("toks"),
        )
        postings = (
            per_doc.select("doc_id", "dl", F.explode("toks").alias("token"))
            .groupBy("token", "doc_id", "dl")
            .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
            .sortWithinPartitions("token", "doc_id")
        )
        postings.write.mode("overwrite").parquet(
            os.path.join(idx_dir, "postings", f"batch_id={batch_id}")
        )
        per_doc.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("dl").cast("bigint").alias("sum_dl"),
        ).write.mode("overwrite").parquet(
            os.path.join(parts_dir, f"batch_id={batch_id}")
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(landing, "shard=*"))
    )
    q = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # ---- finalize: seal dfreq + corpus scalars (the generation flip)
    dfreq = (
        spark.read.parquet(os.path.join(idx_dir, "postings"))
        .select("token", "doc_id")  # project the batch_id partition away
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .repartitionByRange(F.col("token"))
        .sortWithinPartitions("token")
    )
    dfreq.write.mode("overwrite").parquet(os.path.join(idx_dir, "dfreq"))
    tot = spark.read.parquet(parts_dir).agg(
        F.sum("n_docs").alias("n"), F.sum("sum_dl").alias("dl")
    ).collect()[0]
    meta = {
        "k1": k1,
        "b": b,
        # identical double arithmetic to build_lexical_index's
        # sum(dl)::double / count::double (exact bigint totals first)
        "n_docs": float(tot.n),
        "avgdl": float(tot.dl) / float(tot.n),
    }
    with open(os.path.join(idx_dir, "_lexical_meta.json"), "w") as f:
        json.dump(meta, f)
    return ranking_mod.LexicalIndex(path=idx_dir, **meta)


def load_documents_for_lexical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.store import load_documents

    return load_documents(spark, sf_dir).select("doc_id", "text")
