"""OPQ — Optimized Product Quantization (Ge et al., CVPR 2013), the
parametric variant: learn an ORTHOGONAL rotation R that decorrelates
dimensions and balances variance across PQ subspaces, then product-
quantize the rotated vectors. Plain PQ chops the raw axes into m
contiguous blocks; when dimensions are correlated or variance is
uneven, some codebooks model noise while others saturate. The
parametric OPQ fix is closed-form: R = PCA eigenvectors with
EIGENVALUE ALLOCATION — greedily deal the principal directions to the
m subspaces so each subspace's variance product is balanced (Ge et
al. §4; the independence + balance assumptions of the paper).

Spark shape (all the heavy steps reuse the PQ machinery unchanged):

- **Train is driver-side on a bounded sample.** The same xxhash64
  thinning collect as ``build_pq_index``; fitting is one d×d ``eigh``
  (d=64 here) + a greedy allocation over d eigenvalues — O(d³) on the
  driver, constant in corpus size.
- **Rotation is an Arrow matmul, not a shuffle.** The corpus is
  rotated inside the SAME ``mapInPandas`` scan that encodes codes
  (one broadcast of a d×d matrix ≈ 32 KB), so OPQ's build plan is
  plan-identical to PQ's: scan → mapInPandas → write.
- **Search rotates the QUERY, not the data.** R is orthogonal, so
  distances/cosines in rotated space equal the originals; the ADC
  shortlist runs on rotated codes with the rotated query, and the
  exact re-rank joins the ORIGINAL vectors with the ORIGINAL query —
  full-shortlist therefore stays EXACT (the oracle-gated config,
  same contract as pq/bq/sq_rerank_full).

Reference note: the reference engine (app.py) exposes no compressed
index; extension scope (SURVEY.md "beyond the reference"), rounding out
the compressed-shape family (PQ, IVFADC, BQ, SQ8, OPQ, IVF×OPQ).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .index import ivf_rows
from .pq import PqIndex, build_pq_index, load_pq_index

_META_FILE = "_opq_meta.json"


@dataclass(frozen=True)
class OpqIndex:
    path: str
    rotation: np.ndarray  # (d, d) orthogonal; applied as x @ R
    pq: PqIndex

    @property
    def dim(self) -> int:
        return self.pq.dim

    def shortlist(
        self,
        spark: SparkSession,
        query_vec: Sequence[float],
        n: int | None,
        strategy: str,
        keep: Sequence[int] | None = None,
        filter_ids: DataFrame | None = None,
    ) -> DataFrame:
        """The PQ shortlist of the ROTATED query (the codes live in
        rotated space); centroid routing and the exact rerank of
        ``search.shortlist_search`` stay in the original space."""
        q_rot = np.asarray(query_vec, dtype=np.float64) @ self.rotation
        return self.pq.shortlist(spark, list(q_rot), n, strategy, keep, filter_ids)


def train_opq_rotation(x: np.ndarray, m: int) -> np.ndarray:
    """Parametric OPQ rotation from a training sample: PCA basis +
    eigenvalue allocation. Returns R (d, d) with columns ordered so
    subspace j owns columns [j·dsub, (j+1)·dsub) and the product of
    eigenvalues per subspace is greedily balanced (largest eigenvalue
    to the currently-lightest non-full bucket). Deterministic: ties
    break by bucket index; eigenvector sign fixed by largest-|coord|
    positive (the embstats convention)."""
    n, d = x.shape
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    mu = x.mean(axis=0)
    cov = (x - mu).T @ (x - mu) / max(n - 1, 1)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1]
    evals, evecs = evals[order], evecs[:, order]
    for j in range(d):  # deterministic sign
        i = int(np.abs(evecs[:, j]).argmax())
        if evecs[i, j] < 0:
            evecs[:, j] = -evecs[:, j]
    # balanced allocation on log-eigenvalues (Ge et al. §4.1's goal,
    # SHIFT-INVARIANT greedy): the naive "assign to the min-product
    # non-full bucket" degenerates whenever all eigenvalues are < 1
    # (unit-normalized data: trace(cov) <= 1 so every log is negative
    # and the bucket just fed keeps being the minimum — it swallows a
    # contiguous run, reproducing the chop the allocation exists to
    # beat). Level greedy instead: one direction per bucket per round,
    # each round handing the largest remaining eigenvalue to the
    # currently-lightest bucket — comparisons only ever happen between
    # buckets with EQUAL fill, so a global rescale of the spectrum
    # (which shifts every log equally per slot) cannot change any
    # decision. Ties break by bucket index; fully deterministic.
    loads = np.zeros(m)
    slots: list[list[int]] = [[] for _ in range(m)]
    logs = np.log(np.maximum(evals, 1e-12))
    for level in range(dsub):
        order = sorted(range(m), key=lambda i: (loads[i], i))
        for pick, b in enumerate(order):
            j = level * m + pick
            slots[b].append(j)
            loads[b] += logs[j]
    cols = [j for b in range(m) for j in slots[b]]
    return np.ascontiguousarray(evecs[:, cols])


def build_opq_index(
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
) -> OpqIndex:
    """Offline build: train R on the bounded sample, rotate the corpus
    in one Arrow pass, and product-quantize the rotated vectors with
    the stock PQ builder (codes live under ``out_dir``/pq).
    ``partition_col`` (the IVF ``cluster_id``) rides the rotation and
    partitions the codes, as in ``build_pq_index``."""
    extra = (partition_col,) if partition_col else ()
    src = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("embedding"), *extra
    )
    train = (
        src.select("id", "embedding")
        .orderBy(F.abs(F.xxhash64(F.col("id"))).asc(), F.col("id").asc())
        .limit(train_rows)
        .collect()
    )
    X = np.array([r.embedding for r in train], dtype=np.float64)
    if normalize:
        X = X / np.maximum(np.linalg.norm(X, axis=1)[:, None], 1e-300)
    R = train_opq_rotation(X, m=m)
    rotated = rotate_df(spark, src, R, extra_cols=extra)
    pq = build_pq_index(
        spark,
        rotated,
        os.path.join(out_dir, "pq"),
        m=m,
        nbits=nbits,
        train_rows=train_rows,
        normalize=normalize,
        partition_col=partition_col,
    )
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, _META_FILE), "w") as f:
        json.dump({"rotation": R.tolist()}, f)
    return OpqIndex(path=out_dir, rotation=R, pq=pq)


def load_opq_index(path: str) -> OpqIndex:
    with open(os.path.join(path, _META_FILE)) as f:
        meta = json.load(f)
    return OpqIndex(
        path=path,
        rotation=np.array(meta["rotation"], dtype=np.float64),
        pq=load_pq_index(os.path.join(path, "pq")),
    )


def rotate_df(
    spark: SparkSession,
    src: DataFrame,
    R: np.ndarray,
    extra_cols: tuple = (),
) -> DataFrame:
    """(id, embedding, *extra) -> (id, embedding @ R, *extra) via one
    broadcast Arrow matmul batch kernel — no shuffle, no per-row
    Python. ``extra_cols`` (e.g. the IVF ``cluster_id``) ride the
    batch untouched so the partitioned layout survives the rotation."""
    bc = spark.sparkContext.broadcast(R)
    extra_schema = "".join(
        f", {c} {src.schema[c].dataType.simpleString()}" for c in extra_cols
    )

    def _rot(batches):
        import pandas as pd

        R_ = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            E = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            out = {"id": pdf["id"].to_numpy(), "embedding": list(E @ R_)}
            for c in extra_cols:
                out[c] = pdf[c].to_numpy()
            yield pd.DataFrame(out)

    return src.mapInPandas(
        _rot, schema=f"id long, embedding array<double>{extra_schema}"
    )


def build_ivfopq_index(
    spark: SparkSession,
    ivf_index,
    out_dir: str,
    m: int = 8,
    nbits: int = 8,
    train_rows: int = 16384,
    normalize: bool = False,
) -> OpqIndex:
    """IVF×OPQ composition (the FAISS ``OPQ..,IVF..,PQ..`` factory
    string): rotate the IVF index's partitioned layout with the
    learned R and PQ-encode it keeping ``cluster_id`` as the codes
    partition column — directory pruning and rotated-ADC byte
    compression multiply, exactly like IVFADC, with the rotation's
    lower per-code distortion on top."""
    return build_opq_index(
        spark, ivf_rows(spark, ivf_index), out_dir, m=m, nbits=nbits,
        train_rows=train_rows, normalize=normalize, partition_col="cluster_id",
    )
