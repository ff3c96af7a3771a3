"""Continuous ANN-index ingestion: Structured Streaming -> IVF layout.

The reference's store is written by an external loader and its
``vector_kmeans_tree`` secondary index is maintained by YDB itself as
rows arrive; this module is the Spark-native counterpart for the
serving index in :mod:`..operators.index` — a streaming source of
(id, embedding) rows is routed micro-batch by micro-batch into the
cluster-partitioned layout via ``ivf_upsert``, so searches see new
vectors as soon as their batch commits (directory-based pruning
re-lists files per query; no restart, no rebuild).

Why ``foreachBatch`` and not a streaming sink: the append itself is a
batch write into a hive-partitioned directory keyed by a model-side
assignment (nearest centroid), and ``ivf_upsert`` already implements
exactly that append + drift accounting. ``foreachBatch`` reuses the
battle-tested batch path and gives exactly-once-per-batch semantics
through the checkpoint (a replayed batch re-appends — see the dedup
note below).

Scale posture (100 TB serving):

* per-batch work is one Arrow-batched assignment pass + a partitioned
  append — no shuffle, no touch of existing files; cost tracks batch
  size, never index size;
* drift stats accumulate on the driver (a few floats per batch) and
  feed the rebuild trigger: when p95 assignment distance trends above
  the build-time baseline, schedule an offline rebuild and flip the
  serving pointer (generation pattern, ``ivf_compact``);
* many small appended files are the known cost of freshness — run
  ``ivf_compact`` on a cadence (file-count threshold), exactly like
  any LSM-ish serving store.

Exactly-once caveat: the file-source checkpoint guarantees each input
file feeds exactly one COMMITTED batch, but a batch that fails after
its append re-runs and re-appends — duplicate (id, embedding) rows.
A duplicated row scores identically, so result QUALITY is unaffected,
but it occupies an extra top-k slot until removed; run
``ivf_compact(..., dedup_ids=True)`` — and, for the IVFADC pair,
``pq.pq_compact(..., dedup_ids=True)`` over the codes layout — on the
usual compaction cadence to fold replay duplicates away, or for
strict once-only ingest land the stream into a staging directory and
``ivf_upsert`` the deduplicated batch — the operator composition is
the same.
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


def stream_ivf_ingest(
    spark: SparkSession,
    index: ivf_mod.IvfIndex,
    source: DataFrame,
    checkpoint_dir: str,
    id_col: str = "id",
    vec_col: str = "embedding",
    monitor: IngestMonitor | None = None,
    available_now: bool = True,
):
    """Wire a streaming (id, embedding) source into the IVF layout.

    Returns the started ``StreamingQuery``; with ``available_now``
    (default) it drains everything currently available and stops —
    the testable/batch-backfill mode. Pass ``available_now=False``
    for an unbounded micro-batch trigger.

    ``monitor`` (optional) collects each batch's ``ivf_upsert`` stats
    for the rebuild trigger.
    """
    mon = monitor if monitor is not None else IngestMonitor()

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        stats = ivf_mod.ivf_upsert(
            spark, index, batch_df, id_col=id_col, vec_col=vec_col
        )
        stats["batch_id"] = batch_id
        mon.batches.append(stats)

    writer = (
        source.select(F.col(id_col).alias(id_col), F.col(vec_col).alias(vec_col))
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_ivfpq_ingest(
    spark: SparkSession,
    ivf_index: ivf_mod.IvfIndex,
    pq_index,
    source: DataFrame,
    checkpoint_dir: str,
    id_col: str = "id",
    vec_col: str = "embedding",
    monitor: IngestMonitor | None = None,
    available_now: bool = True,
):
    """Keep BOTH serving layouts fresh from one stream: each batch is
    (1) routed + appended into the full-precision IVF layout
    (``ivf_upsert``) and (2) PQ-encoded against the frozen codebooks
    and appended into the cluster-partitioned IVFADC codes layout
    (``pq_upsert`` with the same routing centroids) — the pair
    ``search.shortlist_search(..., ivf_index=...)`` reads (codes for
    the ADC shortlist, full vectors for the rerank) stays consistent
    batch by batch.

    Both appends run inside ONE foreachBatch, so a replayed batch
    re-appends to both layouts together (never codes without vectors).
    The batch is persisted across the two appends — one assignment
    evaluation feeds both writes.
    """
    from ..operators import pq as pq_mod

    mon = monitor if monitor is not None else IngestMonitor()

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        batch_df.persist()
        try:
            stats = ivf_mod.ivf_upsert(
                spark, ivf_index, batch_df, id_col=id_col, vec_col=vec_col
            )
            n_codes = pq_mod.pq_upsert(
                spark, pq_index,
                batch_df.select(
                    F.col(id_col).alias(pq_index.id_col),
                    F.col(vec_col).alias(pq_index.vec_col),
                ),
                ivf_index=ivf_index if pq_index.partition_col else None,
            )
        finally:
            batch_df.unpersist()
        stats["batch_id"] = batch_id
        stats["n_codes_appended"] = n_codes
        mon.batches.append(stats)

    writer = (
        source.select(F.col(id_col).alias(id_col), F.col(vec_col).alias(vec_col))
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def parquet_vector_stream(
    spark: SparkSession,
    path: str,
    id_col: str = "id",
    vec_col: str = "embedding",
    schema=None,
) -> DataFrame:
    """Streaming file-source over a directory of (id, embedding)
    parquet drops — the standard landing-zone shape for embedding
    pipelines (an upstream job writes a file per shard; the stream
    picks each up exactly once via the checkpoint).

    Without ``schema`` the schema comes from a driver-side footer read
    (like ``events._events_stream``) — which requires at least one
    shard to already exist. To wire the stream BEFORE the first drop
    lands (the usual deployment order), pass the schema explicitly,
    e.g. ``T.StructType([T.StructField("id", T.LongType()),
    T.StructField("embedding", T.ArrayType(T.FloatType()))])``."""
    if schema is None:
        try:
            schema = spark.read.parquet(path).select(id_col, vec_col).schema
        except Exception as exc:
            raise ValueError(
                f"cannot infer the stream schema from {path!r} (missing or "
                "empty landing directory); pass schema= to start the stream "
                "before the first shard lands"
            ) from exc
    return spark.readStream.schema(schema).parquet(path).select(id_col, vec_col)


def stream_bq_ingest(
    spark: SparkSession,
    bq_index,
    source: DataFrame,
    checkpoint_dir: str,
    id_col: str = "id",
    vec_col: str = "embedding",
    available_now: bool = True,
):
    """Keep the sign-bit table fresh from a vector stream: each batch
    is packed to bit words and appended (``bq_upsert``) — the BQ twin
    of :func:`stream_ivf_ingest`. Per-batch cost is one Arrow encode
    pass + a flat append (no routing needed: the flat bits layout has
    no partition key); replayed ids fold at the next
    ``bq_compact(dedup_ids=True)``. The returned query's progress is
    observable through the landing checkpoint exactly like the IVF
    variant (each shard ingested once across restarts)."""
    from ..operators import bq as bq_mod

    state = {"index": bq_index}

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        state["index"] = bq_mod.bq_upsert(
            spark, state["index"], batch_df, id_col=id_col, vec_col=vec_col
        )

    writer = (
        source.select(F.col(id_col).alias(id_col), F.col(vec_col).alias(vec_col))
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_tree_ingest(
    spark: SparkSession,
    tree_index,
    source: DataFrame,
    checkpoint_dir: str,
    id_col: str = "id",
    vec_col: str = "embedding",
    monitor: IngestMonitor | None = None,
    available_now: bool = True,
):
    """Keep the two-level tree layout fresh from a vector stream: each
    batch routes through the frozen tree (``tree_upsert`` — leaf
    assignment in one Arrow pass, partitioned append into the (l1, l2)
    directories) — completing the ingest surface across all index
    shapes (IVF, IVF+IVFADC lockstep, BQ, tree). Per-batch drift stats
    feed the same rebuild-trigger monitor as the IVF variant."""
    from ..operators import tree as tree_mod

    mon = monitor if monitor is not None else IngestMonitor()

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        stats = tree_mod.tree_upsert(
            spark, tree_index, batch_df, id_col=id_col, vec_col=vec_col
        )
        stats["batch_id"] = batch_id
        mon.batches.append(stats)

    writer = (
        source.select(F.col(id_col).alias(id_col), F.col(vec_col).alias(vec_col))
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_graphann_ingest(
    spark: SparkSession,
    graph_index,
    source: DataFrame,
    checkpoint_dir: str,
    id_col: str = "id",
    vec_col: str = "embedding",
    available_now: bool = True,
):
    """Keep the k-NN graph fresh from a vector stream: each batch
    links in through ``graphann_upsert`` (blocked kNN against the
    existing nodes -> forward links appended to the adjacency,
    reverse links to the LSM delta), so full-beam searches stay exact
    over the grown corpus between compactions. The graph twin of
    :func:`stream_sq_ingest`; batch cost is one blocked kNN join of
    batch x index, and churn folds at the next ``graphann_compact``."""
    from ..operators import graphann as gann_mod

    state = {"index": graph_index}

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        state["index"] = gann_mod.graphann_upsert(
            spark, state["index"], batch_df, id_col=id_col, vec_col=vec_col
        )

    writer = (
        source.select(F.col(id_col).alias(id_col), F.col(vec_col).alias(vec_col))
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


def stream_sq_ingest(
    spark: SparkSession,
    sq_index,
    source: DataFrame,
    checkpoint_dir: str,
    id_col: str = "id",
    vec_col: str = "embedding",
    available_now: bool = True,
):
    """Keep the int8 codes table fresh from a vector stream: each
    batch is quantized and appended (``sq_upsert``) — the SQ twin of
    :func:`stream_bq_ingest`, and the layout where streaming ingest
    is CHEAPEST: SQ has no trained state (no codebooks, no centroids)
    so the encode can never go stale regardless of drift — no rebuild
    trigger needed, unlike the IVF/PQ monitors. Replayed ids fold at
    the next ``sq_compact(dedup_ids=True)``."""
    from ..operators import sq as sq_mod

    state = {"index": sq_index}

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        state["index"] = sq_mod.sq_upsert(
            spark, state["index"], batch_df, id_col=id_col, vec_col=vec_col
        )

    writer = (
        source.select(F.col(id_col).alias(id_col), F.col(vec_col).alias(vec_col))
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
