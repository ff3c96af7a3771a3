"""Binary quantization (BQ) — 1-bit-per-dimension ANN scale path.

Public-knowledge basis: sign-bit quantization / binary hashing for
angular similarity (Charikar, "Similarity Estimation Techniques from
Rounding Algorithms", STOC 2002: the sign pattern of a vector is an
LSH family for cosine; Hamming distance between sign patterns
estimates the angle). The identity-projection special case used here
(sign of each coordinate) is the standard "binary quantization" of
vector databases.

Why it matters at 100 TB: a float32 corpus at dim 64 is 256 bytes per
vector; sign bits are 8 bytes — a 32x scan-size cut like PQ
(operators/pq.py) but with a *pure-JVM* query path: Hamming distance
is ``bit_count(a XOR b)`` over packed 64-bit words, a whole-stage
codegen expression. No Python boundary, no broadcast lookup table —
the cheapest possible first-pass filter, at the cost of a coarser
approximation than PQ's ADC (1 bit vs 8 bits per subdimension).

Spark-native shape:

* **Encode** (distributed, zero shuffle, at build and upsert): one
  Arrow-batched pass packs ``sign(x) > 0`` bits into ``array<bigint>``
  words (NumPy packbits, ``BqIndex.encode``).
* **Hamming scan** (distributed, zero shuffle, zero Python): the query
  word array is a literal; per-row distance is
  ``aggregate(zip_with(bits, qbits, (x, y) -> bit_count(x ^ y)), 0, +)``
  — all inside codegen over the narrow (id, bits) table.
* **Shortlist** (:meth:`BqIndex.shortlist`): ``ORDER BY hamming LIMIT
  shortlist`` compiles to TakeOrderedAndProject (per-partition heap;
  only ``shortlist`` rows per partition reach the driver merge).
* **Rerank** (``search.shortlist_search``): shortlist ids semi-join
  back into the full-precision vector table (broadcast — a shortlist
  is small by construction) and the exact strategy score re-ranks
  (same expressions as exact_search). With a full shortlist the
  result is EXACT for every strategy — the oracle-gate variant; pruned
  shortlists trade recall for scan width, recall contract pinned in
  tests/test_bq.py.

The Hamming pre-filter approximates ANGULAR closeness: it is a strong
proxy for Cosine/InnerProduct (and exact-rerank fixes ranking); for
Euclidean/Manhattan on non-normalized data it is weaker — documented,
and the full-shortlist path stays exact regardless.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator, Sequence
from dataclasses import dataclass
from typing import ClassVar

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import tombstones
from ..config import validate_strategy
from ..functions.distance import score_expr
from .index import ivf_rows
from .layout import CodeLayout, encode_rows, write_meta
from .search import _order_cols, read_codes


@dataclass(frozen=True)
class BqIndex(CodeLayout):
    """A persisted (id, bits) sign-bit table under ``bits/``.

    ``partition_col`` records whether the bits layout is
    hive-partitioned (the IVF x BQ composition partitions by
    ``cluster_id``), which the upsert routes into."""

    path: str
    dim: int
    n_words: int
    n_rows: int
    partition_col: str | None = None

    subdir: ClassVar[str] = "bits"
    meta_file: ClassVar[str] = "_bq_meta.json"
    code_fields: ClassVar[tuple[T.StructField, ...]] = (
        T.StructField("bits", T.ArrayType(T.LongType())),
    )

    @staticmethod
    def encode(X: np.ndarray) -> dict:
        """(n, dim) float64 rows -> their packed sign bits."""
        return {"bits": [list(r) for r in _pack_bits(X)]}

    def shortlist(
        self,
        spark: SparkSession,
        query_vec: Sequence[float],
        n: int | None,
        strategy: str,
        keep: Sequence[int] | None = None,
        filter_ids: DataFrame | None = None,
    ) -> DataFrame:
        """The ``n`` nearest (id, hamming) rows to the query's sign
        bits (ascending, id tiebreak; TakeOrdered), ``n=None`` keeping
        every id (no score). One Hamming shortlist serves every
        ``strategy``. ``keep`` and ``filter_ids`` prune the bits as in
        ``search.read_codes``."""
        bits = read_codes(spark, self.path, self.layout_dir, keep, filter_ids)
        if n is None:
            return bits.select("id")
        return (
            bits.withColumn("hamming", hamming_expr("bits", pack_query_bits(query_vec)))
            .select("id", "hamming")
            .orderBy(F.asc("hamming"), F.asc("id"))
            .limit(n)
        )


def _pack_bits(X: np.ndarray) -> np.ndarray:
    """Sign bits of (n, dim) float rows packed into (n, n_words) int64
    words, big-endian within each word. NaN packs as 0 (not > 0)."""
    n, dim = X.shape
    bits = (X > 0).astype(np.uint8)
    pad = (-dim) % 64
    if pad:
        bits = np.concatenate([bits, np.zeros((n, pad), dtype=np.uint8)], axis=1)
    by = np.packbits(bits, axis=1)  # (n, (dim+pad)/8) big-endian bytes
    by = by.reshape(n, -1, 8).astype(np.uint64)
    words = np.zeros((n, by.shape[1]), dtype=np.uint64)
    for j in range(8):
        words |= by[:, :, j] << np.uint64(8 * (7 - j))
    return words.view(np.int64)


def pack_query_bits(vec: Sequence[float]) -> list[int]:
    """Driver-side sign-bit packing of a single query vector."""
    return [int(w) for w in _pack_bits(np.asarray([vec], dtype=np.float64))[0]]


def n_words_for(dim: int) -> int:
    return (dim + 63) // 64


def build_bq_index(
    spark: SparkSession,
    src: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "id",
    dim: int | None = None,
    partition_col: str | None = None,
) -> BqIndex:
    """Encode + persist the narrow (id, bits) table. One pass over the
    source, no shuffle, no driver collect of data rows.
    ``partition_col`` (the IVF ``cluster_id``) rides the encode and
    becomes the hive partition of the bits layout, as in
    ``pq.build_pq_index``. ``dim`` (the word count's input) is taken
    from the first row when omitted (one tiny driver action)."""
    if dim is None:
        first = src.select(F.size(F.col(vec_col)).alias("d")).first()
        if first is None:
            raise ValueError("cannot build a BQ index over an empty source")
        dim = int(first["d"])
    extra = (partition_col,) if partition_col else ()
    bits_dir = os.path.join(path, BqIndex.subdir)
    rows = src.selectExpr(f"`{id_col}` AS id", f"`{vec_col}` AS embedding", *extra)
    encode_rows(rows, BqIndex, extra).write.mode("overwrite").partitionBy(*extra).parquet(
        bits_dir
    )
    n_rows = spark.read.parquet(bits_dir).count()
    index = BqIndex(path, dim, n_words_for(dim), n_rows, partition_col)
    write_meta(index)
    return index


def load_bq_index(path: str) -> BqIndex:
    with open(os.path.join(path, BqIndex.meta_file)) as f:
        meta = json.load(f)
    return BqIndex(
        path=path, dim=meta["dim"], n_words=meta["n_words"],
        n_rows=meta["n_rows"], partition_col=meta.get("partition_col"),
    )


def hamming_expr(bits_col: str, query_words: str | Sequence[int]) -> Column:
    """``popcount(bits XOR qbits)`` summed over words, as one SQL
    expression (one JVM call, pure codegen). ``query_words`` is a
    column name or the query's packed words."""
    if isinstance(query_words, str):
        q = f"`{query_words}`"
    else:
        q = f"array({', '.join(f'CAST({int(w)} AS BIGINT)' for w in query_words)})"
    return F.expr(
        f"aggregate(zip_with(`{bits_col}`, {q}, (x, y) -> bit_count(x ^ y)), 0, "
        "(acc, x) -> acc + x)"
    )


def _hamming_block(Qw, W, pop8):
    """(nq, m) Hamming counts: XOR the packed words, popcount bytes."""
    x = Qw[:, None, :] ^ W[None, :, :]
    return pop8[x.view(np.uint8)].reshape(Qw.shape[0], W.shape[0], -1).sum(
        axis=2, dtype=np.int64
    )


def _topn_by_hamming_id(ham, ids, top):
    """Indices of the true top-``top`` by (hamming ASC, id ASC) —
    argpartition for O(n), exact id tiebreak at the boundary (a plain
    argpartition keeps ARBITRARY members of a tied boundary, which
    would diverge from the SQL window's ordering)."""
    n = len(ids)
    if n <= top:
        return np.arange(n)
    part = np.argpartition(ham, top - 1)[:top]
    boundary = ham[part].max()
    sure = np.nonzero(ham < boundary)[0]
    tied = np.nonzero(ham == boundary)[0]
    need = top - len(sure)
    tied_keep = tied[np.argsort(ids[tied], kind="stable")[:need]]
    return np.concatenate([sure, tied_keep])


def _blocked_hamming_topn(
    spark: SparkSession,
    bits: DataFrame,
    queries_df: DataFrame,
    n_short: int,
    query_id: str,
    query_vec: str,
    id_col: str,
    dim: int,
) -> DataFrame:
    """Arrow-blocked Hamming scoring with PARTITION-level top-n: the
    packed query-bit matrix rides a broadcast; every batch of a
    partition is XOR'd + popcounted against all queries in NumPy, and
    a per-query running top-``n_short`` accumulates ACROSS the
    partition's batches — one emit per partition, so the downstream
    window merges partitions x nq x n_short rows (not batches x ...,
    which for a large corpus and shortlist is itself a flood).

    Integer arithmetic + the (hamming, id) boundary tiebreak make this
    bit-identical to the pure-codegen pair-join formulation; equality
    is pinned in tests/test_bq.py."""
    q_rows = queries_df.select(
        F.col(query_id).alias("qid"), F.col(query_vec).alias("qv")
    ).collect()
    qids = np.array([r.qid for r in q_rows])
    Qw = _pack_bits(
        np.asarray([np.asarray(r.qv, dtype=np.float64) for r in q_rows])
    ).astype(np.uint64)  # (nq, n_words)
    qid_dtype = queries_df.schema[query_id].dataType.simpleString()
    id_dtype = bits.schema[id_col].dataType.simpleString()
    out_schema = f"query_id {qid_dtype}, `{id_col}` {id_dtype}, hamming int"
    popcount8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.int64)
    bc = spark.sparkContext.broadcast((qids, Qw, popcount8, int(n_short)))

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids_, Qw_, pop8, top = bc.value
        nq = len(qids_)
        # running candidates per query: (ham, id) arrays, re-pruned
        # whenever they outgrow 4x the target
        acc_h = [np.empty(0, dtype=np.int64) for _ in range(nq)]
        # (np.concatenate upcasts to object dtype for string ids)
        acc_i = [np.empty(0, dtype=np.int64) for _ in range(nq)]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            W = np.asarray(
                [np.asarray(w, dtype=np.int64) for w in pdf["bits"]]
            ).astype(np.uint64)
            ham = _hamming_block(Qw_, W, pop8)  # (nq, m)
            for qi in range(nq):
                keep = _topn_by_hamming_id(ham[qi], ids, top)
                acc_h[qi] = np.concatenate([acc_h[qi], ham[qi][keep]])
                acc_i[qi] = np.concatenate([acc_i[qi], ids[keep]])
            for qi in range(nq):
                if len(acc_h[qi]) > 4 * top:
                    k2 = _topn_by_hamming_id(acc_h[qi], acc_i[qi], top)
                    acc_h[qi] = acc_h[qi][k2]
                    acc_i[qi] = acc_i[qi][k2]
        out_q, out_i, out_h = [], [], []
        for qi in range(nq):
            if len(acc_h[qi]) > top:
                k2 = _topn_by_hamming_id(acc_h[qi], acc_i[qi], top)
                acc_h[qi], acc_i[qi] = acc_h[qi][k2], acc_i[qi][k2]
            out_q.extend([qids_[qi]] * len(acc_i[qi]))
            out_i.extend(acc_i[qi].tolist())
            out_h.extend(acc_h[qi].tolist())
        if out_q:
            yield pd.DataFrame({"query_id": out_q, id_col: out_i, "hamming": out_h})

    return bits.select(id_col, "bits").mapInPandas(scan, schema=out_schema)


def bq_knn_join(
    spark: SparkSession,
    index: BqIndex,
    src: DataFrame,
    queries_df: DataFrame,
    k: int,
    strategy: str = "CosineSimilarity",
    shortlist: int | None = None,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    vec_col: str = "embedding",
    id_col: str = "id",
    round_digits: int | None = None,
    blocked: bool = False,
) -> DataFrame:
    """Batch ANN join through the sign-bit domain: for every query,
    Hamming-shortlist candidates over the compressed bits table, then
    exact-rerank the survivors. Output (query_id, id, score, rank) —
    the contract of ``search.knn_join``; ``shortlist=None`` keeps
    every candidate, making the result EXACT (oracle-gate variant).

    Two shortlist engines, IDENTICAL results (Hamming is integer
    arithmetic with an id tiebreak — no float divergence):

    * ``blocked=False``: pure-codegen — broadcast-join the query bits,
      ``bit_count(xor)`` per pair, one ranked window. Zero Python, but
      the window shuffles |corpus| x n_queries int triples: right for
      small corpora or few queries.
    * ``blocked=True`` (the scale path): one Arrow pass over the bits
      table with the packed query-bit matrix in the closure; per batch
      NumPy XOR + popcount scores ALL queries against the block and
      emits only each block's per-query top-``shortlist`` — the window
      then merges batches x n_queries x shortlist rows, independent of
      corpus size (the ``knn_join_blocked`` economics; measured 30x on
      a 4M-row corpus in tools/scale_probe.py).

    Either way only ``nq x shortlist`` ids reach the full-precision
    rerank join, and the rerank scoring is the same Column fold — so
    ``blocked`` cannot change the final rows."""
    from pyspark.sql import Window

    validate_strategy(strategy)
    if not isinstance(k, int) or k < 1:
        raise ValueError("k must be a positive integer")
    n_short = index.n_rows if shortlist is None else int(shortlist)

    bits = tombstones.apply_tombstones(
        spark, index.path, index.rows(spark)
    ).withColumnRenamed("id", id_col)
    w_short = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col(id_col).asc()
    )
    if blocked:
        cand_scored = _blocked_hamming_topn(
            spark, bits, queries_df, n_short,
            query_id=query_id, query_vec=query_vec,
            id_col=id_col, dim=index.dim,
        )
    else:
        qbits = encode_rows(
            queries_df.selectExpr(f"`{query_id}` AS id", f"`{query_vec}` AS embedding"),
            BqIndex,
        )
        pairs = bits.join(
            F.broadcast(qbits.selectExpr("id AS query_id", "bits AS qbits"))
        )
        cand_scored = pairs.withColumn("hamming", hamming_expr("bits", "qbits")).select(
            "query_id", id_col, "hamming"
        )
    cand = (
        cand_scored
        .withColumn("hrank", F.row_number().over(w_short))
        .filter(F.col("hrank") <= n_short)
        .select("query_id", id_col)
    )

    vecs = src.select(F.col(id_col).alias(id_col), F.col(vec_col).alias(vec_col))
    qv = queries_df.select(
        F.col(query_id).alias("query_id"), F.col(query_vec).alias("query_vec")
    )
    scored = (
        cand.join(vecs, id_col, "inner")
        .join(F.broadcast(qv), "query_id", "inner")
        .withColumn("score", score_expr(strategy, vec_col, "query_vec"))
    )
    if round_digits is not None:
        scored = scored.withColumn(
            "score", F.round(F.col("score"), round_digits) + F.lit(0.0)
        )
    return (
        scored.select("query_id", F.col(id_col).alias("id"), "score")
        .withColumn("rank", F.row_number().over(Window.partitionBy("query_id").orderBy(*_order_cols(strategy))))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


# ----------------------------------------------- IVF x BQ composition


def build_ivfbq_index(spark: SparkSession, ivf_index, out_dir: str) -> BqIndex:
    """IVF-partitioned sign-bit layout — the BQ analogue of IVFADC
    (operators/pq.py:build_ivfpq_index): encode the IVF index's rows
    and keep ``cluster_id`` as the bits partition column, so a query
    reads ~(search_top_size / n_clusters) of the bit words AND pays
    1/32 of the bytes per row it does read. Rows-read and
    bytes-per-row levers multiply; the Hamming scan stays pure
    codegen."""
    return build_bq_index(
        spark, ivf_rows(spark, ivf_index), out_dir, partition_col="cluster_id"
    )
