"""Product quantization (PQ) — the memory-side ANN scale path.

Public-knowledge basis: Jégou, Douze, Schmid, "Product Quantization
for Nearest Neighbor Search" (IEEE TPAMI 2011) — split the vector into
``m`` subspaces, k-means each subspace into ``2**nbits`` codewords,
store each vector as ``m`` code bytes, and score queries against codes
via an Asymmetric Distance Computation (ADC) lookup table.

Why it matters at 100 TB: a float32 corpus at dim 64 is 256 bytes per
vector; PQ codes at m=8/nbits=8 are 8 bytes — a 32x scan-size
reduction, and the per-row score is ``m`` table lookups + adds instead
of ``d`` multiplies. The IVF/tree indexes (operators/index.py,
operators/tree.py) cut *which rows* are read; PQ cuts *bytes per row*
— at scale the two compose (classic IVFADC), and each is independently
useful.

Spark-native shape:

* **Train** (driver, bounded): codebooks are fit on a deterministic
  hash-sampled subset (size independent of corpus scale — standard PQ
  practice; the codebook is a tiny model, ~m * 2**nbits * dsub floats).
  Reuses the deterministic Lloyd iteration from operators/tree.py.
* **Encode** (distributed, zero shuffle): one ``mapInPandas`` pass,
  codebooks broadcast, each Arrow batch encoded with one argmin per
  subspace; codes written as a ``BinaryType`` column (m bytes).
* **ADC scan** (distributed, zero shuffle): the per-query lookup table
  (m x 2**nbits float64) is broadcast; each batch scores as ``m``
  gathers + a row sum, then local top-k, then the global
  TakeOrdered-style merge — only k rows per partition leave the scan.
* **Rerank**: :meth:`PqIndex.shortlist` is the ADC shortlist of
  ``search.shortlist_search``, which semi-joins it into the
  full-precision vectors and re-ranks them exactly. With a full
  shortlist the result is EXACT — that variant is the oracle gate;
  pruned shortlists trade recall for the join size, recall contract
  pinned in tests/test_pq.py.
* **IVFADC** (:func:`build_ivfpq_index`, searched with
  ``shortlist_search(..., ivf_index=...)``): the
  codes layout is hive-partitioned by the IVF ``cluster_id``; a query
  reads only the ``search_top_size`` nearest cluster directories
  (planner-level pruning) and only the m-byte codes inside them —
  rows-read and bytes-per-row levers multiply.

All five reference strategies (env.example:15-17) are supported: ADC
tables are additive over subspaces for inner product, squared
euclidean, and manhattan; cosine rides on inner product over
pre-normalized encodings (``normalize=True``), with exact cosine
restored in the rerank stage.
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence
from dataclasses import dataclass
from typing import ClassVar

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import tombstones
from ..config import DEFAULT_K, sort_descending, validate_strategy
from .index import ivf_rows
from .layout import CodeLayout, encode_rows, write_meta
from .search import _order_cols, read_codes
from .tree import _lloyd


@dataclass(frozen=True)
class PqIndex(CodeLayout):
    path: str  # codes parquet directory
    m: int
    nbits: int
    dim: int
    normalize: bool
    codebooks: np.ndarray  # (m, 2**nbits_eff, dim//m) float64
    id_col: str = "id"
    vec_col: str = "embedding"
    #: hive partition column of the codes layout (IVFADC: "cluster_id");
    #: None for a flat layout. Recorded so the upsert routes new codes
    #: into it and the rewrite keeps it.
    partition_col: str | None = None

    meta_file: ClassVar[str] = "_pq_meta.json"
    code_fields: ClassVar[tuple[T.StructField, ...]] = (
        T.StructField("codes", T.BinaryType()),
    )

    @property
    def n_codes(self) -> int:
        return self.codebooks.shape[1]

    def encode(self, E: np.ndarray) -> dict:
        """(n, dim) float64 rows -> their m-byte codes (unit rows first
        when the index is normalized)."""
        if self.normalize:
            E = E / np.maximum(np.linalg.norm(E, axis=1)[:, None], 1e-300)
        return {"codes": [c.tobytes() for c in _encode_batch(E, self.codebooks)]}

    def shortlist(
        self,
        spark: SparkSession,
        query_vec: Sequence[float],
        n: int | None,
        strategy: str,
        keep: Sequence[int] | None = None,
        filter_ids: DataFrame | None = None,
    ) -> DataFrame:
        """Approximate top-``n`` over the PQ codes only (no full
        vectors touched): (id, score) with the ADC estimate as score,
        ``n=None`` keeping every id (no score). Shuffle-free scan: each
        partition emits at most ``n`` candidate rows. ``keep`` and
        ``filter_ids`` prune the codes as in ``search.read_codes``
        (``keep`` is the IVFADC read: whole code directories pruned at
        planning time)."""
        codes_df = read_codes(spark, self.path, self.path, keep, filter_ids)
        if n is None:
            return codes_df.select("id")
        lut, needs_sqrt = _adc_table(self, query_vec, strategy)
        desc = sort_descending(strategy)
        bc = spark.sparkContext.broadcast((lut, self.m, desc, n))
        codes_df = codes_df.select("id", "codes")
        out_schema = T.StructType(
            [
                T.StructField("id", codes_df.schema["id"].dataType),
                T.StructField("score", T.DoubleType()),
            ]
        )

        def scan(batches):
            import pandas as pd

            lut_, m_, desc_, k_ = bc.value
            cols = np.arange(m_)
            for pdf in batches:
                if not len(pdf):
                    continue
                codes = np.frombuffer(
                    b"".join(pdf["codes"]), dtype=np.uint8
                ).reshape(len(pdf), m_)
                s = lut_[cols[None, :], codes].sum(axis=1)
                kk = min(k_, len(s))
                # local top-k with the same tie-break as the global merge
                # (score direction, then id ascending): two stable sorts —
                # an argpartition would cut ties at the k boundary
                # arbitrarily and could drop the id the total order keeps
                ids = pdf["id"].to_numpy()
                by_id = np.argsort(ids, kind="stable")
                s_id = s[by_id]
                part = by_id[
                    np.argsort(-s_id if desc_ else s_id, kind="stable")[:kk]
                ]
                yield pd.DataFrame({"id": ids[part], "score": s[part]})

        out = codes_df.mapInPandas(scan, schema=out_schema)
        if needs_sqrt:
            out = out.withColumn(
                "score", F.sqrt(F.greatest(F.col("score"), F.lit(0.0)))
            )
        return out.orderBy(*_order_cols(strategy)).limit(n)


def train_pq_codebooks(
    x: np.ndarray, m: int, nbits: int = 8, n_iter: int = 20
) -> np.ndarray:
    """Fit one codebook per subspace with deterministic Lloyd k-means.
    ``x``: (n, d) training sample, d divisible by m. Returns
    (m, k_eff, d//m); k_eff < 2**nbits when the sample has fewer rows."""
    n, d = x.shape
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    if nbits > 8:
        # codes are stored as uint8 (1 byte per subspace); a larger
        # codebook would silently wrap code ids mod 256 in
        # _encode_batch and decode to the wrong codewords
        raise ValueError(f"nbits={nbits} > 8 unsupported (uint8 code storage)")
    dsub = d // m
    k = 2**nbits
    books = [
        _lloyd(np.ascontiguousarray(x[:, j * dsub : (j + 1) * dsub]), k, n_iter)
        for j in range(m)
    ]
    k_eff = min(len(b) for b in books)
    return np.stack([b[:k_eff] for b in books])


def _encode_batch(X: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(n, d) float -> (n, m) uint8 codes (argmin L2 per subspace)."""
    n = len(X)
    m, _, dsub = books.shape
    codes = np.empty((n, m), dtype=np.uint8)
    for j in range(m):
        sub = X[:, j * dsub : (j + 1) * dsub]
        # ||s - c||^2 = ||s||^2 - 2 s.c + ||c||^2 ; ||s||^2 constant per row
        d2 = (books[j] ** 2).sum(axis=1)[None, :] - 2.0 * (sub @ books[j].T)
        codes[:, j] = d2.argmin(axis=1).astype(np.uint8)
    return codes


def build_pq_index(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    m: int = 8,
    nbits: int = 8,
    train_rows: int = 16384,
    normalize: bool = False,
    id_col: str = "id",
    vec_col: str = "embedding",
    partition_col: str | None = None,
) -> PqIndex:
    """Offline build: hash-sample a training set, fit codebooks on the
    driver, encode the corpus distributively, write codes + metadata.

    The training collect is bounded by ``train_rows`` regardless of
    corpus size (xxhash64 thinning — deterministic for any id type);
    encoding is one shuffle-free mapInPandas pass.

    ``partition_col`` (e.g. the IVF ``cluster_id``) is carried through
    encoding and becomes a hive partition of the codes layout — the
    IVFADC composition: the index prunes which code directories are
    read, PQ prunes bytes per row inside them.
    """
    cols = [F.col(id_col).alias("id"), F.col(vec_col).alias("embedding")]
    if partition_col:
        cols.append(F.col(partition_col).alias(partition_col))
    src = df.select(*cols)
    # deterministic uniform sample in ONE pass: the train_rows smallest
    # xxhash64 values (TakeOrdered — per-partition top-k, driver merge;
    # no count() pre-scan, no shuffle). Hash order is pseudorandom and
    # id-keyed, so the sample is scale- and partitioning-invariant.
    train = (
        src.select("id", "embedding")
        .orderBy(F.abs(F.xxhash64(F.col("id"))).asc(), F.col("id").asc())
        .limit(train_rows)
        .collect()
    )
    X = np.array([r.embedding for r in train], dtype=np.float64)
    dim = X.shape[1]
    if normalize:
        X = X / np.maximum(np.linalg.norm(X, axis=1)[:, None], 1e-300)
    books = train_pq_codebooks(X, m=m, nbits=nbits)
    index = PqIndex(
        path=out_dir, m=m, nbits=nbits, dim=dim, normalize=normalize,
        codebooks=books, id_col=id_col, vec_col=vec_col,
        partition_col=partition_col,
    )
    encode_rows(src, index, index.partition_cols).write.mode("overwrite").partitionBy(
        *index.partition_cols
    ).parquet(out_dir)
    write_meta(index)
    return index


def load_pq_index(path: str) -> PqIndex:
    with open(os.path.join(path, PqIndex.meta_file)) as f:
        meta = json.load(f)
    return PqIndex(
        path=path, m=meta["m"], nbits=meta["nbits"], dim=meta["dim"],
        normalize=meta["normalize"], codebooks=np.array(meta["codebooks"]),
        id_col=meta["id_col"], vec_col=meta["vec_col"],
        # metas written before round 3 lack the key (flat layouts only)
        partition_col=meta.get("partition_col"),
    )


def _adc_table(index: PqIndex, query_vec: Sequence[float], strategy: str) -> tuple[np.ndarray, bool]:
    """Per-query lookup table (m, n_codes); score(codes) =
    sum_j LUT[j, codes[j]] (+ sqrt for euclidean, applied post-sum).
    Returns (LUT, needs_sqrt)."""
    q = np.asarray(query_vec, dtype=np.float64)
    if q.shape[0] != index.dim:
        raise ValueError(f"query dim {q.shape[0]} != index dim {index.dim}")
    if strategy in ("CosineSimilarity", "CosineDistance"):
        if not index.normalize:
            raise ValueError(
                "cosine ADC needs an index built with normalize=True "
                "(codes then quantize unit vectors and inner product "
                "approximates cosine)"
            )
        nq = np.linalg.norm(q)
        q = q / (nq if nq else 1.0)
    m, _, dsub = index.codebooks.shape
    qs = q.reshape(m, dsub)
    if strategy in ("InnerProductSimilarity", "CosineSimilarity", "CosineDistance"):
        lut = np.einsum("jd,jkd->jk", qs, index.codebooks)
        if strategy == "CosineDistance":
            # 1 - sum(ip) == sum(1/m - ip_j): fold the constant in
            lut = 1.0 / m - lut
        return lut, False
    if strategy == "EuclideanDistance":
        diff = index.codebooks - qs[:, None, :]
        return (diff**2).sum(axis=2), True
    if strategy == "ManhattanDistance":
        diff = index.codebooks - qs[:, None, :]
        return np.abs(diff).sum(axis=2), False
    raise ValueError(f"unknown strategy {strategy!r}")


def _adc_tables_batch(
    index: PqIndex, Q: np.ndarray, strategy: str
) -> tuple[np.ndarray, bool]:
    """Vectorized per-query LUTs: (nq, m, n_codes). Same math as
    :func:`_adc_table` for every row of ``Q``."""
    if Q.shape[1] != index.dim:
        raise ValueError(f"query dim {Q.shape[1]} != index dim {index.dim}")
    if strategy in ("CosineSimilarity", "CosineDistance"):
        if not index.normalize:
            raise ValueError(
                "cosine ADC needs an index built with normalize=True "
                "(codes then quantize unit vectors and inner product "
                "approximates cosine)"
            )
        Q = Q / np.maximum(np.linalg.norm(Q, axis=1)[:, None], 1e-300)
    m, _, dsub = index.codebooks.shape
    Qs = Q.reshape(len(Q), m, dsub)
    if strategy in ("InnerProductSimilarity", "CosineSimilarity", "CosineDistance"):
        lut = np.einsum("qjd,jkd->qjk", Qs, index.codebooks)
        if strategy == "CosineDistance":
            lut = 1.0 / m - lut
        return lut, False
    if strategy == "EuclideanDistance":
        diff = index.codebooks[None, :, :, :] - Qs[:, :, None, :]
        return (diff**2).sum(axis=3), True
    if strategy == "ManhattanDistance":
        diff = index.codebooks[None, :, :, :] - Qs[:, :, None, :]
        return np.abs(diff).sum(axis=3), False
    raise ValueError(f"unknown strategy {strategy!r}")


def pq_knn_join(
    spark: SparkSession,
    index: PqIndex,
    queries_df: DataFrame,
    k: int = DEFAULT_K,
    strategy: str = "CosineSimilarity",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    partition_filter=None,
) -> DataFrame:
    """Batch ANN join in the compressed domain: every query's
    approximate top-k over PQ codes only — the analogue of
    ``search.knn_join_blocked`` at ~(m / 4·dim) of the scan bytes.

    The query batch is collected and turned into a broadcast LUT
    tensor (nq x m x n_codes — the serving-path contract shared with
    knn_join_blocked: the query side is small by construction; for
    corpus-x-corpus joins use the LSH/blocked dedup operators).
    Scoring per Arrow batch is ``m`` gathers + adds per query; only
    ``nq x k`` candidate rows leave each partition, then one ranked
    window — identical two-level top-k economics to the
    full-precision blocked join, at 32x fewer input bytes (dim 64,
    m=8). Output (query_id, id, score, rank); score is the ADC
    estimate — rerank against full vectors where exactness matters.
    """
    import pandas as pd
    from pyspark.sql import Window

    validate_strategy(strategy)
    q_rows = queries_df.select(
        F.col(query_id).alias("qid"), F.col(query_vec).alias("qv")
    ).collect()
    qids = np.array([r.qid for r in q_rows])
    Q = np.array([r.qv for r in q_rows], dtype=np.float64)
    lut, needs_sqrt = _adc_tables_batch(index, Q, strategy)
    desc = sort_descending(strategy)
    bc = spark.sparkContext.broadcast((qids, lut, index.m, desc, k))

    codes_df = tombstones.apply_tombstones(
        spark, index.path, spark.read.parquet(index.path)
    )
    if partition_filter is not None:
        codes_df = codes_df.filter(partition_filter)
    codes_df = codes_df.select("id", "codes")

    out_schema = T.StructType(
        [
            T.StructField("query_id", queries_df.schema[query_id].dataType),
            T.StructField("id", codes_df.schema["id"].dataType),
            T.StructField("score", T.DoubleType()),
        ]
    )

    def scan(batches):
        qids_, lut_, m_, desc_, k_ = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["id"].to_numpy()
            codes = np.frombuffer(
                b"".join(pdf["codes"]), dtype=np.uint8
            ).reshape(len(pdf), m_)
            # S: (n_rows, nq) — m gathers of (nq, n_rows) accumulated
            S = np.zeros((len(ids), len(qids_)))
            for j in range(m_):
                S += lut_[:, j, codes[:, j]].T
            kk = min(k_, len(ids))
            by_id = np.argsort(ids, kind="stable")
            S_id = S[by_id, :]
            order = np.argsort(-S_id if desc_ else S_id, axis=0, kind="stable")[:kk]
            rows = []
            for qi, qid in enumerate(qids_):
                sel = by_id[order[:, qi]]
                rows.extend(zip([qid] * kk, ids[sel].tolist(), S[sel, qi].tolist()))
            yield pd.DataFrame(rows, columns=["query_id", "id", "score"])

    cand = codes_df.mapInPandas(scan, schema=out_schema)
    if needs_sqrt:
        cand = cand.withColumn("score", F.sqrt(F.greatest(F.col("score"), F.lit(0.0))))
    direction = (
        F.col("score").desc_nulls_last() if desc else F.col("score").asc_nulls_last()
    )
    w = Window.partitionBy("query_id").orderBy(direction, F.col("id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "id", "score", "rank")
    )


# ------------------------------------------------------------- IVFADC


def build_ivfpq_index(
    spark: SparkSession,
    ivf_index,
    out_dir: str,
    m: int = 8,
    nbits: int = 8,
    train_rows: int = 16384,
    normalize: bool = False,
) -> PqIndex:
    """IVFADC build: PQ-encode the IVF index's partitioned layout,
    keeping ``cluster_id`` as the codes partition column. The returned
    PqIndex reads ~(search_top_size / n_clusters) of the code bytes
    when searched through ``search.shortlist_search(...,
    ivf_index=...)``."""
    return build_pq_index(
        spark, ivf_rows(spark, ivf_index), out_dir, m=m, nbits=nbits, train_rows=train_rows,
        normalize=normalize, partition_col="cluster_id",
    )
