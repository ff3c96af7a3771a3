"""Two-level k-means tree ANN index: hierarchical parity with the
reference's YDB ``vector_kmeans_tree`` secondary index.

Reference semantics being reproduced (SURVEY.md §2 O2/O3, §4.3):

* YDB's ``vector_kmeans_tree`` is a *hierarchical* k-means clustering
  — the index the reference searches through
  (``/root/reference/app.py:193-196``, ``env.example:20-22``); the
  single-level IVF in :mod:`.index` flattens it, this module restores
  the tree shape.
* ``PRAGMA ydb.KMeansTreeSearchTopSize = N`` (``app.py:186-191``) is
  applied PER LEVEL: the search descends the best ``N`` level-1 cells,
  then the best ``N`` leaves among their children.

Spark-native design — the tree is a *directory layout*, not a data
structure:

* **Build** (offline, three passes, all distributed):
  1. level-1 coarse clustering via ``pyspark.ml.clustering.KMeans``;
  2. per-cell level-2 clustering with a deterministic NumPy Lloyd
     iteration inside ``applyInPandas`` — cells are clustered in
     parallel, each group fits comfortably in one task (a cell at
     100 TB is corpus/n_l1; pick n_l1 so cells are task-sized). Only
     the tiny (n_l1 × fanout × dim) centroid table is collected;
  3. leaf assignment JVM->Arrow per batch (nearest level-2 centroid
     within the row's level-1 cell) and a rewrite
     ``partitionBy("l1", "l2")`` — each leaf is a physical directory.
* **Search**: the driver ranks level-1 centroids against the query
  (NumPy, tiny), keeps ``top_l1`` cells, ranks their children, keeps
  ``top_l2`` leaves, and prunes the layout to those ``l1=<a>/l2=<b>``
  leaf directories through the flat index's reader
  (``index._read_clusters``): an OR-of-conjunctions over the two
  partition columns, which the plan shows as PartitionFilters, over a
  reader listed once per index generation, so planning launches no
  listing or schema-inference job (the layout schema is stored in the
  tree's metadata file), and the leaves :func:`tree_upsert` writes
  give a new reader. Candidates re-rank exactly (same
  TakeOrderedAndProject shape as exact_search).
* Recall contract: monotone in both widths; EXACT when both widths
  cover the whole tree (every leaf read).

Versus flat IVF at 100 TB: routing cost is ``n_l1 + top_l1·fanout``
centroid distances instead of ``n_clusters`` — the tree keeps the
routing table tiny even when the leaf count grows to 10^5+, which is
exactly why YDB shapes the index this way.
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
from .index import (
    _collect_queries,
    _read_clusters,
    _routed_blocked_join,
    _stored_schema,
)
from ..config import DEFAULT_K, validate_strategy
from ..functions.distance import score_expr
from .layout import append_batch, nearest, write_meta
from .search import _rank_per_query, rank_topk


@dataclass(frozen=True)
class KmeansTreeIndex:
    path: str
    n_l1: int
    fanout: int  # max level-2 children per level-1 cell
    centroids_l1: np.ndarray  # (n_l1, dim) float64
    centroids_l2: list[np.ndarray]  # [l1] -> (n_children_l1, dim)
    #: schema of the partitioned layout; None = infer from the files
    schema: T.StructType | None = None

    partition_cols: ClassVar[tuple[str, ...]] = ("l1", "l2")
    meta_file: ClassVar[str] = "_kmeans_tree.json"

    @property
    def n_leaves(self) -> int:
        return sum(len(c) for c in self.centroids_l2)

    @property
    def dim(self) -> int:
        return self.centroids_l1.shape[1]

    @property
    def layout_dir(self) -> str:
        return self.path

    @property
    def n_partitions(self) -> int:
        return max(1, self.n_leaves)

    def rows(self, spark: SparkSession) -> DataFrame:
        return _read_clusters(spark, self)

    def partitions(
        self, query_vec: Sequence[float], strategy: str, width: int
    ) -> list[tuple[int, int]]:
        """The ``(l1, l2)`` leaves a search of ``width`` per level reads,
        best first."""
        validate_strategy(strategy)
        return route(self, query_vec, strategy, *_widths(self, width, None, None))


def _lloyd(x: np.ndarray, k: int, n_iter: int = 20) -> np.ndarray:
    """Deterministic Lloyd k-means (no RNG: init = k rows spread
    evenly through the cell's rows in their stored order). Empty
    clusters keep their previous centroid. Returns (k_eff, dim)."""
    n = len(x)
    k_eff = min(k, n)
    if k_eff == 0:
        return np.empty((0, x.shape[1]))
    init_idx = np.linspace(0, n - 1, k_eff).astype(int)
    cent = x[init_idx].astype(np.float64).copy()
    for _ in range(n_iter):
        d2 = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for j in range(k_eff):
            m = assign == j
            if m.any():
                cent[j] = x[m].mean(axis=0)
    return cent


def build_kmeans_tree(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    n_l1: int = 4,
    fanout: int = 4,
    id_col: str = "id",
    vec_col: str = "embedding",
    seed: int = 42,
    fit_sample_rows: int | None = None,
) -> KmeansTreeIndex:
    """Offline tree build; see module docstring for the three passes.

    ``fit_sample_rows`` bounds BOTH iterative fits to a deterministic
    hash-sample (the TakeOrdered-by-xxhash64 pattern of
    ``index.build_ivf_index``): L1 KMeans iterates over the sample
    only, and each cell's L2 Lloyd sees only the sample's rows — so
    the per-cell ``applyInPandas`` group is sample/n_l1 rows instead
    of corpus/n_l1 (the shape that actually survives 100 TB, where a
    full cell would not fit one task). The leaf-assignment pass and
    the partitioned rewrite still cover every row; full-width search
    stays exact regardless (sampling moves the recall-vs-width curve,
    never full-width correctness)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    import pandas as pd

    feats = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("embedding"),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"),
    )
    fit_input = feats
    if fit_sample_rows is not None:
        if fit_sample_rows < n_l1 * fanout:
            raise ValueError("fit_sample_rows must be >= n_l1 * fanout")
        # persist the sample: the TakeOrdered sampling pass scans the
        # corpus once; without the persist both the L1 KMeans fit and
        # the L2 per-cell fit below would re-run that scan
        fit_input = (
            feats.orderBy(F.abs(F.xxhash64(F.col("id"))).asc(), F.col("id").asc())
            .limit(fit_sample_rows)
            .persist()
        )
    model = KMeans(k=n_l1, seed=seed, featuresCol="features").fit(fit_input)
    assigned = model.transform(feats).select(
        "id", "embedding", F.col("prediction").alias("l1")
    )

    # pass 2: per-cell level-2 centroids (parallel over cells; only
    # the tiny centroid rows come back). Fit input is the sample when
    # bounded — cells of the sample, not of the corpus.
    cent_schema = T.StructType(
        [
            T.StructField("l1", T.IntegerType()),
            T.StructField("l2", T.IntegerType()),
            T.StructField("centroid", T.ArrayType(T.DoubleType())),
        ]
    )

    def _fit_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        # stored order must be deterministic for the Lloyd init
        pdf = pdf.sort_values("id")
        x = np.stack(pdf["embedding"].map(np.asarray))
        cent = _lloyd(x, fanout)
        l1 = int(pdf["l1"].iloc[0])
        return pd.DataFrame(
            {
                "l1": l1,
                "l2": range(len(cent)),
                "centroid": [c.tolist() for c in cent],
            }
        )

    l2_fit = (
        assigned
        if fit_sample_rows is None
        else model.transform(fit_input).select(
            "id", "embedding", F.col("prediction").alias("l1")
        )
    )
    try:
        cent_rows = (
            l2_fit.select("id", "embedding", "l1")
            .groupBy("l1")
            .applyInPandas(_fit_cell, schema=cent_schema)
            .collect()
        )
    finally:
        if fit_sample_rows is not None:
            fit_input.unpersist()
    l1_centers = [
        np.asarray(c, dtype=np.float64) for c in model.clusterCenters()
    ]
    centroids_l2: list[np.ndarray] = []
    for l1 in range(n_l1):
        cell = sorted(
            ((r.l2, r.centroid) for r in cent_rows if r.l1 == l1)
        )
        if not cell:
            # a cell the (sampled) fit never saw still gets one leaf —
            # its own L1 centroid — so corpus rows assigned there are
            # routable (full-width exactness must not depend on the
            # sample covering every cell)
            centroids_l2.append(l1_centers[l1][None, :])
            continue
        centroids_l2.append(
            np.asarray([c for _, c in cell], dtype=np.float64)
        )

    # pass 3: leaf assignment (nearest L2 centroid within the row's
    # cell — membership and routing use the SAME centroids) + rewrite
    cents_bc = spark.sparkContext.broadcast(
        [c.tolist() for c in centroids_l2]
    )

    # positional returnType (module has `from __future__ import
    # annotations`; see dedup._band_vals_fn)
    def _leaf_fn(l1s, vecs):
        cents = [np.asarray(c, dtype=np.float64) for c in cents_bc.value]
        return pd.Series(
            [
                nearest(cents[int(l1)], np.asarray([v], dtype=np.float64))[0][0]
                for l1, v in zip(l1s, vecs)
            ],
            dtype="int32",
        )

    _leaf = F.pandas_udf(_leaf_fn, T.IntegerType())

    leaves = assigned.withColumn("l2", _leaf(F.col("l1"), F.col("embedding"))).select(
        "id", "embedding", "l1", "l2"
    )
    leaves.write.mode("overwrite").partitionBy("l1", "l2").parquet(out_dir)

    write_meta(
        KmeansTreeIndex(
            path=out_dir,
            n_l1=n_l1,
            fanout=fanout,
            centroids_l1=np.array(l1_centers),
            centroids_l2=centroids_l2,
            schema=leaves.schema,
        )
    )
    return load_kmeans_tree(out_dir)


def load_kmeans_tree(path: str) -> KmeansTreeIndex:
    with open(os.path.join(path, KmeansTreeIndex.meta_file)) as f:
        meta = json.load(f)
    return KmeansTreeIndex(
        path=path,
        n_l1=meta["n_l1"],
        fanout=meta["fanout"],
        centroids_l1=np.asarray(meta["centroids_l1"], dtype=np.float64),
        centroids_l2=[
            np.asarray(c, dtype=np.float64).reshape(-1, len(meta["centroids_l1"][0]))
            for c in meta["centroids_l2"]
        ],
        schema=_stored_schema(meta, path),
    )


def _rank_rows(mat: np.ndarray, q: np.ndarray, strategy: str) -> np.ndarray:
    """Best-first row order of ``mat`` for query ``q`` under the
    strategy's metric family (same mapping as index._rank_centroids)."""
    if len(mat) == 0:
        return np.empty(0, dtype=int)
    if strategy in ("CosineSimilarity", "CosineDistance"):
        qn = q / (np.linalg.norm(q) or 1.0)
        mn = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        return np.argsort(-(mn @ qn), kind="stable")
    if strategy == "InnerProductSimilarity":
        return np.argsort(-(mat @ q), kind="stable")
    return np.argsort(np.linalg.norm(mat - q, axis=1), kind="stable")


def route(
    index: KmeansTreeIndex,
    query_vec: Sequence[float],
    strategy: str,
    top_l1: int,
    top_l2: int,
) -> list[tuple[int, int]]:
    """Descend the tree: best ``top_l1`` cells, then best ``top_l2``
    leaves among their children. Returns (l1, l2) leaf ids,
    best-first; deterministic (stable sort, ids break ties)."""
    q = np.asarray(query_vec, dtype=np.float64)
    cells = _rank_rows(index.centroids_l1, q, strategy)[:top_l1]
    cand: list[tuple[int, int]] = []
    mats = []
    for l1 in cells:
        kids = index.centroids_l2[int(l1)]
        cand.extend((int(l1), l2) for l2 in range(len(kids)))
        mats.append(kids)
    if not cand:
        return []
    all_kids = np.concatenate(mats, axis=0)
    order = _rank_rows(all_kids, q, strategy)[:top_l2]
    return [cand[int(i)] for i in order]


def _widths(
    index: KmeansTreeIndex,
    search_top_size: int | None,
    top_l1: int | None,
    top_l2: int | None,
) -> tuple[int, int]:
    """Per-level widths: ``top_l1``/``top_l2`` override
    ``search_top_size``; ``None`` everywhere is full width."""
    for w in (search_top_size, top_l1, top_l2):
        if w is not None and w < 1:
            raise ValueError("search widths must be positive integers")
    w1 = top_l1 if top_l1 is not None else (
        search_top_size if search_top_size is not None else index.n_l1
    )
    w2 = top_l2 if top_l2 is not None else (
        search_top_size if search_top_size is not None else index.n_leaves
    )
    return w1, w2


def tree_search(
    spark: SparkSession,
    index: KmeansTreeIndex,
    query_vec: Sequence[float],
    k: int = DEFAULT_K,
    strategy: str = "CosineSimilarity",
    search_top_size: int | None = None,
    top_l1: int | None = None,
    top_l2: int | None = None,
    round_digits: int | None = None,
    filter_ids: DataFrame | None = None,
) -> DataFrame:
    """ANN search through the tree. ``search_top_size`` mirrors YDB's
    per-level ``KMeansTreeSearchTopSize`` (used for both levels unless
    ``top_l1``/``top_l2`` override it); ``None`` = full width (exact).
    Returns (id, score).

    ``filter_ids`` (1-column ``id`` DataFrame) restricts candidates
    after leaf pruning, before scoring — same non-strict filtered-ANN
    contract as ``index.ivf_search``."""
    validate_strategy(strategy)
    w1, w2 = _widths(index, search_top_size, top_l1, top_l2)
    leaves = route(index, query_vec, strategy, top_l1=w1, top_l2=w2)
    pruned = tombstones.apply_tombstones(
        spark, index.path, _read_clusters(spark, index, leaves)
    )
    if filter_ids is not None:
        pruned = pruned.join(filter_ids, "id", "left_semi")

    return rank_topk(pruned, query_vec, k, strategy, round_digits)


def tree_upsert(spark: SparkSession, index: KmeansTreeIndex, new_df: DataFrame) -> dict:
    """Incremental tree maintenance, the tree twin of
    ``index.ivf_upsert``: route each ``(id, embedding)`` row down the
    FROZEN tree (``layout.nearest`` at both levels: the nearest L1
    centroid, then the nearest L2 centroid within that cell, the
    membership rule of the build's assignment pass) and APPEND it into
    its (l1, l2) leaf directory through ``layout.append_batch``.
    Searches see new rows at once (leaf pruning is directory-based); a
    batch holding a vector of another length than the index dim raises
    and writes nothing.

    Centroids stay frozen; the returned stats (per-leaf counts,
    ``max_assign_l2``) feed the rebuild trigger, as for the flat index.
    Returns {"n_appended", "per_partition" ((l1, l2) -> rows),
    "max_assign_l2"}."""
    c1, c2 = index.centroids_l1, index.centroids_l2

    def route(E):
        l1, d = nearest(c1, E)
        l2 = np.zeros(len(E), dtype=np.int32)
        for cell in np.unique(l1):
            rows = l1 == cell
            l2[rows], d[rows] = nearest(c2[cell], E[rows])
        return {"l1": l1, "l2": l2, "d": d}

    fields = [T.StructField(c, T.IntegerType()) for c in index.partition_cols]
    return append_batch(spark, index, new_df, route, fields)


def tree_knn_join_distributed(
    spark: SparkSession,
    index: KmeansTreeIndex,
    queries_df: DataFrame,
    k: int = DEFAULT_K,
    strategy: str = "CosineSimilarity",
    search_top_size: int | None = None,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    round_digits: int | None = None,
    top_l1: int | None = None,
    top_l2: int | None = None,
    filter_ids: DataFrame | None = None,
) -> DataFrame:
    """Batch ANN join through the tree with NO driver-side query
    collect — the tree twin of ``index.ivf_knn_join_distributed``.
    ``top_l1``/``top_l2`` override ``search_top_size`` per level, the
    same knob resolution as :func:`tree_search`. ``filter_ids``
    restricts the corpus side before the leaf join (the filtered
    batch ANN contract shared with the IVF joins).

    Routing replays :func:`route` itself inside an Arrow-batched
    pandas UDF (the tree's centroid tensors are a few KB and ship in
    the closure), so the executor-side leaf choice is bit-identical to
    the driver path, then each query explodes into its routed
    (l1, l2) leaves and the corpus joins on the two leaf columns.
    Exact (== knn_join) at full width. Queries with a mismatched
    vector length route nowhere and emit no rows.

    Output: (query_id, id, score, rank).
    """
    import pandas as pd

    validate_strategy(strategy)
    w1, w2 = _widths(index, search_top_size, top_l1, top_l2)
    dim = index.dim

    def _route_fn(vecs):
        out = []
        for v in vecs:
            if v is None or len(v) != dim:
                out.append([])
                continue
            out.append(
                [[l1, l2] for l1, l2 in route(index, v, strategy, w1, w2)]
            )
        return pd.Series(out)

    _route_udf = F.pandas_udf(
        _route_fn, T.ArrayType(T.ArrayType(T.IntegerType()))
    )

    assignment = (
        queries_df.select(
            F.col(query_id).alias("query_id"), F.col(query_vec).alias("query_vec")
        )
        .select(
            "query_id",
            "query_vec",
            F.explode(_route_udf(F.col("query_vec"))).alias("leaf"),
        )
        .select(
            "query_id",
            "query_vec",
            F.col("leaf")[0].alias("l1"),
            F.col("leaf")[1].alias("l2"),
        )
    )

    corpus = tombstones.apply_tombstones(spark, index.path, _read_clusters(spark, index))
    if filter_ids is not None:
        corpus = corpus.join(filter_ids, "id", "left_semi")
    scored = corpus.join(assignment, ["l1", "l2"], "inner").withColumn(
        "score", score_expr(strategy, "embedding", "query_vec")
    )
    return _rank_per_query(scored, strategy, k, round_digits)


def tree_knn_join_routed_blocked_arrays(
    spark: SparkSession,
    index: KmeansTreeIndex,
    query_ids: Sequence,
    Q: np.ndarray,
    k: int = DEFAULT_K,
    strategy: str = "CosineSimilarity",
    search_top_size: int | None = None,
    top_l1: int | None = None,
    top_l2: int | None = None,
    *,
    query_id_type: T.DataType,
) -> DataFrame:
    """:func:`tree_knn_join_routed_blocked` over a query batch the
    driver already holds — the tree twin of
    ``index.ivf_knn_join_routed_blocked_arrays`` (``query_ids``, the
    ``(n, dim)`` float64 matrix ``Q``, the Spark type of the ids). A
    matrix of another dimension than the tree's routes nowhere."""
    validate_strategy(strategy)
    w1, w2 = _widths(index, search_top_size, top_l1, top_l2)
    routes: dict[tuple[int, int], list[int]] = {}
    if Q.shape[1:] == (index.dim,):
        for qi, q in enumerate(Q):
            for leaf in route(index, q, strategy, top_l1=w1, top_l2=w2):
                routes.setdefault(leaf, []).append(qi)
    return _routed_blocked_join(
        spark, index, query_ids, Q, routes, k, strategy, query_id_type
    )


def tree_knn_join_routed_blocked(
    spark: SparkSession,
    index: KmeansTreeIndex,
    queries_df: DataFrame,
    k: int = DEFAULT_K,
    strategy: str = "CosineSimilarity",
    search_top_size: int | None = None,
    top_l1: int | None = None,
    top_l2: int | None = None,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Batch ANN join through the tree for the SERVING regime:
    driver routing (the per-level width contract of :func:`route`) x
    BLAS block scoring — the tree twin of
    ``index.ivf_knn_join_routed_blocked``, over the same scoring core
    (``index._routed_blocked_join``): the scan prunes to the union of
    routed (l1, l2) leaves, and each block of a leaf's rows scores
    against only the queries routed there as one matrix product.

    The query batch is collected driver-side (serving contract) and
    handed to :func:`tree_knn_join_routed_blocked_arrays`. Exact
    candidate set (== knn_join) at full width; BLAS ulp note as in
    ``knn_join_blocked`` (id-set equivalence pinned in tests)."""
    ids, Q, id_type = _collect_queries(queries_df, query_id, query_vec, index.dim)
    return tree_knn_join_routed_blocked_arrays(
        spark, index, ids, Q, k, strategy, search_top_size, top_l1, top_l2,
        query_id_type=id_type,
    )
