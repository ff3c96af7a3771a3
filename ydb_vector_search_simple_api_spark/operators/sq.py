"""Scalar quantization (SQ8) — 8-bit-per-dimension ANN scale path.

Public-knowledge basis: per-vector symmetric int8 quantization
(codes = round(x · 127 / max|x|)), the "SQ" layout every mainstream
vector store ships beside PQ and binary codes (e.g. faiss
ScalarQuantizer QT_8bit). It completes this repo's compression
ladder: BQ (1 bit, 32×, coarsest) — **SQ8 (8 bits, ~4×, near-exact)**
— PQ (codebook ADC, 8-32×, lookup-table scans).

Why it matters at 100 TB: a float32 corpus at dim 64 scans 256 bytes
per vector; int8 codes + one scale scan ~72 — a ~3.5× scan-byte cut
with reconstruction error ≤ max|x|/254 per coordinate, so the
approximate ranking is already close and a short exact rerank
restores precision. Unlike PQ there is no training pass and no
broadcast codebook: encode is stateless per row, which also makes
upserts trivial (encode the delta, append).

Spark-native shape:

* **Encode** (distributed, zero shuffle, at build and upsert): one
  Arrow-batched numpy pass (``SqIndex.encode``) — ``codes = floor(x·127/max|x| + 0.5)``
  (the exact scheme of the ``quantize_embeddings`` gate entry, so
  the two surfaces agree bit-for-bit). One narrow parquet table
  (id, codes array<tinyint>, qscale).
* **Approximate scan** (zero Python): strategy-specialized codegen
  over the raw codes — cosine divides the integer dot by the STORED
  code norm (the per-vector scale cancels; one fold per row),
  Euclidean uses the ``||v−q||² = ||v||² − 2⟨v,q⟩ + ||q||²``
  identity (one fold), inner product folds the dot and multiplies
  by one scalar. ONE array traversal per row is the design rule:
  the HOF fold's per-element lambda is the hot cost, so the naive
  dequant-then-score form (3 traversals) measured SLOWER than the
  brute-force float scan; this form measures 1.4× faster at 4M
  rows CPU-bound, plus the ~2× parquet byte cut when scan-bound
  (see ``_approx_score``).
* **Shortlist** (:meth:`SqIndex.shortlist`): ``ORDER BY approx score
  LIMIT shortlist`` compiles to TakeOrderedAndProject.
* **Rerank** (``search.shortlist_search``): shortlist ids broadcast
  semi-join into the full-precision table; exact strategy score
  re-ranks. With a full shortlist the result is EXACT for every
  strategy — the oracle-gate variant; pruned shortlists trade recall
  for scan bytes (recall contract pinned in tests/test_sq.py).

Reference parity: extends the reference's ANN surface
(app.py:267-405 exposes flat search only); cited for the shared
strategy vocabulary (app.py:120-131).
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence
from dataclasses import dataclass
from typing import ClassVar

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.distance import (
    _py_l2_norm,
    double_sql,
    fold_sql,
    operand_sql,
    score_sql,
)
from .index import ivf_rows
from .layout import CodeLayout, encode_rows, write_meta
from .search import _order_cols, read_codes


@dataclass(frozen=True)
class SqIndex(CodeLayout):
    """A persisted (id, codes, qscale, cnorm) int8-code table under
    ``codes/``. ``partition_col`` marks the IVF-partitioned composition
    layout (build_ivfsq_index), which the upsert routes into."""

    path: str
    dim: int
    n_rows: int
    partition_col: str | None = None

    subdir: ClassVar[str] = "codes"
    meta_file: ClassVar[str] = "_sq_meta.json"
    code_fields: ClassVar[tuple[T.StructField, ...]] = (
        T.StructField("codes", T.ArrayType(T.ByteType())),
        T.StructField("qscale", T.DoubleType()),
        T.StructField("cnorm", T.DoubleType()),
    )

    @staticmethod
    def encode(X: np.ndarray) -> dict:
        """(n, dim) float64 rows -> codes, qscale, cnorm: ``codes =
        floor(x·127/max|x| + 0.5)`` (round-half-up, the
        ``quantize_embeddings`` gate entry's scheme bit-for-bit). Numpy,
        not Column expressions: Catalyst has no let-binding, so a Column
        encode re-evaluates ``max|x|`` per element (84 s vs ~4 s at 4M
        rows). ``cnorm``, the L2 norm of the integer codes, is stored so
        the query-time cosine/Euclidean costs ONE array fold per row;
        it only ranks the approximate shortlist, so numpy's summation
        order is fine. Zero vectors encode to all-zero codes with qscale
        0 (dequantize reproduces them)."""
        s = np.abs(X).max(axis=1)
        safe = np.where(s == 0.0, 1.0, s)
        C = np.floor(X * (127.0 / safe[:, None]) + 0.5).astype(np.int8)
        C[s == 0.0] = 0
        return {
            "codes": [list(r) for r in C],
            "qscale": s,
            "cnorm": np.sqrt((C.astype(np.float64) ** 2).sum(axis=1)),
        }

    def shortlist(
        self,
        spark: SparkSession,
        query_vec: Sequence[float],
        n: int | None,
        strategy: str,
        keep: Sequence[int] | None = None,
        filter_ids: DataFrame | None = None,
    ) -> DataFrame:
        """The ``n`` best (id, score) rows by the one-fold approximate
        score over the int8 codes (``_approx_score``; TakeOrdered),
        ``n=None`` keeping every id (no score). ``keep`` and
        ``filter_ids`` prune the codes as in ``search.read_codes``."""
        codes = read_codes(spark, self.path, self.layout_dir, keep, filter_ids)
        if n is None:
            return codes.select("id")
        return (
            codes.withColumn("score", _approx_score(strategy, list(query_vec)))
            .select("id", "score")
            .orderBy(*_order_cols(strategy))
            .limit(n)
        )


def build_sq_index(
    spark: SparkSession,
    src: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "id",
    partition_col: str | None = None,
) -> SqIndex:
    """Encode + persist. One pass, no shuffle, no driver collect.
    ``partition_col`` (the IVF ``cluster_id``) rides the encode and
    becomes the hive partition of the codes layout, as in
    ``pq.build_pq_index``."""
    first = src.select(F.size(F.col(vec_col)).alias("d")).first()
    if first is None:
        raise ValueError("cannot build an SQ index over an empty source")
    extra = (partition_col,) if partition_col else ()
    codes_dir = os.path.join(path, SqIndex.subdir)
    rows = src.selectExpr(f"`{id_col}` AS id", f"`{vec_col}` AS embedding", *extra)
    encode_rows(rows, SqIndex, extra).write.mode("overwrite").partitionBy(*extra).parquet(
        codes_dir
    )
    n_rows = spark.read.parquet(codes_dir).count()
    index = SqIndex(path, int(first["d"]), n_rows, partition_col)
    write_meta(index)
    return index


def load_sq_index(path: str) -> SqIndex:
    with open(os.path.join(path, SqIndex.meta_file)) as f:
        meta = json.load(f)
    return SqIndex(
        path=path, dim=meta["dim"], n_rows=meta["n_rows"],
        partition_col=meta.get("partition_col"),
    )


def dequant_expr(codes_col="codes", scale_col="qscale") -> Column:
    """array<double> reconstruction: c · s / 127. (Reference form —
    the query path never materializes it; see ``_approx_score``.)"""
    s = F.col(scale_col) if isinstance(scale_col, str) else scale_col
    c = F.col(codes_col) if isinstance(codes_col, str) else codes_col
    return F.transform(c, lambda x: x.cast("double") * s / F.lit(127.0))


def _approx_score(strategy: str, q: Sequence[float]) -> Column:
    """Approximate strategy score over (codes, qscale) WITHOUT
    materializing the dequantized array — a naive
    ``score_expr(strategy, dequant_expr(), q)`` re-evaluates the
    transform per reference (Catalyst has no let-binding; measured
    slower than the brute-force float scan at 4M rows).

    Per strategy: cosine is SCALE-INVARIANT, so scoring the raw int8
    codes against the float query is exactly the dequantized cosine
    (the per-vector s/127 cancels in numerator and denominator);
    inner product is the integer dot times one per-row scalar; the
    distance metrics fold ``c·s/127 − q_i`` in a single zip_with
    pass. All pure codegen, one array traversal each."""
    dot = score_sql("InnerProductSimilarity", "codes", q)
    scale = "(`qscale` / 127.0D)"
    qn = _py_l2_norm(q)
    if strategy in ("CosineSimilarity", "CosineDistance"):
        # scale-invariant (the per-vector s/127 cancels), and the row
        # norm is the stored cnorm — ONE dot fold per row; try_divide
        # nulls zero vectors like the library cosine
        cos = f"try_divide({dot}, `cnorm` * {double_sql(qn)})"
        sql = f"1.0D - {cos}" if strategy == "CosineDistance" else cos
    elif strategy == "InnerProductSimilarity":
        sql = f"{dot} * {scale}"
    elif strategy == "EuclideanDistance":
        # ||v - q||² = ||v||² − 2⟨v,q⟩ + ||q||² with v = codes·s/127:
        # one dot fold + stored norms (max(0,·) absorbs rounding)
        vnorm = f"(`cnorm` * {scale})"
        sql = (
            f"sqrt(greatest({vnorm} * {vnorm} - 2.0D * {scale} * {dot}"
            f" + {double_sql(qn * qn)}, 0.0D))"
        )
    else:  # ManhattanDistance: no norm identity — a single zip_with fold
        sql = fold_sql(
            "`codes`", operand_sql(q), f"abs(CAST(x AS DOUBLE) * {scale} - y)"
        )
    return F.expr(sql)


# ----------------------------------------------- IVF x SQ composition


def build_ivfsq_index(spark: SparkSession, ivf_index, out_dir: str) -> SqIndex:
    """IVF-partitioned int8 layout — the SQ analogue of IVFADC/IVFBQ:
    encode the IVF index's rows keeping ``cluster_id`` as the codes
    partition column, so a query reads ~(search_top_size / n_clusters)
    of the rows AND ~1/2 of the parquet bytes per row it does read,
    with near-exact codes (tight shortlists; see the recall contract
    in tests/test_sq.py)."""
    return build_sq_index(
        spark, ivf_rows(spark, ivf_index), out_dir, partition_col="cluster_id"
    )
