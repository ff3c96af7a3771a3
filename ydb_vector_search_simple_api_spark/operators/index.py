"""IVF (inverted-file) ANN index: the Spark-native replacement for the
reference's YDB ``vector_kmeans_tree`` secondary index.

Reference semantics being reproduced (SURVEY.md §2 O2/O3):

* ``FROM {table} VIEW {INDEX_NAME}`` — approximate search through a
  k-means clustering instead of a full scan
  (``/root/reference/app.py:193-196``).
* ``PRAGMA ydb.KMeansTreeSearchTopSize = N`` — how many nearest
  clusters the search reads; the recall/latency knob
  (``app.py:186-191``, default 10 at ``app.py:60``).

Spark-native design (no custom Catalyst rule needed):

* **Build** (offline job): ``pyspark.ml.clustering.KMeans`` fits
  centroids over the embedding column; every row gets a ``cluster_id``
  and the table is rewritten ``partitionBy("cluster_id")`` — the
  cluster becomes a *physical partition directory*.
* **Search**: the driver ranks the (tiny) centroid table against the
  query vector in NumPy, keeps the ``search_top_size`` nearest
  cluster ids, and prunes the layout to those ``cluster_id=<c>``
  directories with a ``cluster_id IN (...)`` filter, which the plan
  shows as PartitionFilters (:func:`_read_clusters`). Scanned bytes
  shrink by ~``search_top_size / n_clusters``. The whole layout is
  listed once per index generation: its reader is a session memo
  keyed by the layout's file listing, so the files an ``ivf_upsert``
  adds give a new reader, and a search plan over a known generation
  launches no Spark job (no partition-discovery job past Spark's
  32-path threshold, no footer-inference job: the layout schema is
  stored beside the centroids). Candidates are re-ranked exactly
  (same TakeOrderedAndProject shape as exact_search).
* Recall contract (SURVEY.md §4.3): recall is monotone in
  ``search_top_size`` and the search is EXACT when
  ``search_top_size >= n_clusters`` (all partitions read).

At 100 TB the build is one shuffle (the partitioned rewrite); the
per-query cost is proportional to the pruned fraction only.
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
from ..artifacts import session_memo
from ..config import DEFAULT_K, DEFAULT_SEARCH_TOP_SIZE, sort_descending, validate_strategy
from ..functions.distance import score_expr
from .layout import append_batch, compact, nearest, write_meta
from .search import _order_cols, _rank_per_query, rank_topk


@dataclass(frozen=True)
class IvfIndex:
    path: str
    n_clusters: int
    centroids: np.ndarray  # (n_clusters, dim) float64
    id_col: str = "id"
    vec_col: str = "embedding"
    #: schema of the partitioned layout; None = infer from the files
    schema: T.StructType | None = None

    partition_cols: ClassVar[tuple[str, ...]] = ("cluster_id",)
    meta_file: ClassVar[str] = "_ivf_centroids.json"

    @property
    def dim(self) -> int:
        return self.centroids.shape[1]

    @property
    def layout_dir(self) -> str:
        return self.path

    @property
    def n_partitions(self) -> int:
        return self.n_clusters

    def rows(self, spark: SparkSession) -> DataFrame:
        return _read_clusters(spark, self)


def _infer_schema(spark: SparkSession, path: str) -> T.StructType:
    """Spark's own schema inference for a layout: a job that lists the
    directories (past 32 of them) and a job that reads a footer."""
    return spark.read.parquet(path).schema


def _layout(spark: SparkSession, index) -> DataFrame:
    """The whole partitioned layout of ``index``, one reader per index
    generation. Creating a reader lists every partition directory (a
    Spark job past 32 of them); the reader keeps that listing, so it is
    memoized under the layout's file listing, and any file an upsert,
    delete or rewrite adds or changes gives a new reader."""
    schema = index.schema

    def read() -> DataFrame:
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.option("basePath", index.path).parquet(index.path)

    params = {"schema": None if schema is None else schema.json()}
    return session_memo(spark, "layout_reader", index.path, params, read)


def _read_clusters(spark: SparkSession, index, keep=None) -> DataFrame:
    """The one reader of a partitioned index layout (the flat IVF's
    ``cluster_id=<c>`` or the tree's ``l1=<a>/l2=<b>`` directories).

    ``keep=None`` reads the whole table; otherwise only the kept
    clusters (ints, or tuples over ``partition_cols``), so an empty
    ``keep`` or a never-written cluster reads no rows. The kept keys
    filter the generation's :func:`_layout`; the plan shows them as
    PartitionFilters, pruned at planning time against the reader's
    listing, so planning launches no Spark job."""
    whole = _layout(spark, index)
    if keep is None:
        return whole
    cols = index.partition_cols
    keys = [k if isinstance(k, tuple) else (k,) for k in dict.fromkeys(keep)]
    # one SQL string (one JVM call): an IN list, or a left-deep OR of
    # conjunctions (explicit parentheses: the parser would balance a
    # bare OR chain, and the optimizer then factors it differently)
    cond = "false"
    if len(cols) == 1 and keys:
        cond = f"`{cols[0]}` IN ({', '.join(str(int(key[0])) for key in keys)})"
    elif len(cols) > 1:
        for key in keys:
            conj = " AND ".join(f"`{c}` = {int(v)}" for c, v in zip(cols, key))
            cond = f"({cond} OR ({conj}))"
    return whole.filter(cond)


def ivf_rows(spark: SparkSession, index) -> DataFrame:
    """Every (id, embedding, cluster_id) row of an IVF layout: the
    source an IVF x codec build encodes, keeping ``cluster_id`` as the
    partition column of its codes."""
    return _read_clusters(spark, index).selectExpr(
        f"`{index.id_col}` AS id", f"`{index.vec_col}` AS embedding", "cluster_id"
    )


def _stored_schema(meta: dict, path: str) -> T.StructType | None:
    """The layout schema from an index's metadata file. An index
    written without one is inferred once through the active (or
    default) session; with no session, None (the layout reader then
    infers it once per generation)."""
    from pyspark.errors import PySparkRuntimeError

    if "schema" in meta:
        return T.StructType.fromJson(meta["schema"])
    try:
        spark = SparkSession.active()
    except PySparkRuntimeError:
        return None
    return _infer_schema(spark, path)


def build_ivf_index(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    n_clusters: int = 16,
    id_col: str = "id",
    vec_col: str = "embedding",
    seed: int = 42,
    fit_sample_rows: int | None = None,
) -> IvfIndex:
    """Offline index build: KMeans fit -> assign cluster_id -> rewrite
    partitioned by cluster_id -> persist centroids for driver pruning.

    ``fit_sample_rows`` bounds the ITERATIVE part of the build: KMeans
    fits on a deterministic hash-sample of that many rows (the
    TakeOrdered-by-xxhash64 pattern shared with build_pq_index) instead
    of iterating full corpus scans; the single-pass ``transform``
    assignment and the partitioned rewrite still cover every row. At
    100 TB this is the only sane shape — Lloyd iterations over the full
    corpus re-scan everything per iteration for centroids a large
    uniform sample pins down just as well (standard IVF practice, same
    argument as PQ codebook training). None (default) fits on the full
    input. Full-width search is exact regardless of where the
    centroids came from — sampling moves the recall-vs-width CURVE,
    never correctness at full width."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("embedding"),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"),
    )
    fit_input = feats
    if fit_sample_rows is not None:
        if fit_sample_rows < n_clusters:
            raise ValueError("fit_sample_rows must be >= n_clusters")
        fit_input = (
            feats.orderBy(F.abs(F.xxhash64(F.col("id"))).asc(), F.col("id").asc())
            .limit(fit_sample_rows)
        )
    model = KMeans(k=n_clusters, seed=seed, featuresCol="features").fit(fit_input)
    assigned = (
        model.transform(feats)
        .select("id", "embedding", F.col("prediction").alias("cluster_id"))
    )
    assigned.write.mode("overwrite").partitionBy("cluster_id").parquet(out_dir)

    centroids = np.array(
        [np.asarray(c, dtype=np.float64) for c in model.clusterCenters()]
    )
    index = IvfIndex(
        path=out_dir, n_clusters=n_clusters, centroids=centroids,
        schema=assigned.schema,
    )
    write_meta(index)
    return index


def load_ivf_index(path: str) -> IvfIndex:
    with open(os.path.join(path, IvfIndex.meta_file)) as f:
        meta = json.load(f)
    return IvfIndex(
        path=path,
        n_clusters=meta["n_clusters"],
        centroids=np.asarray(meta["centroids"], dtype=np.float64),
        schema=_stored_schema(meta, path),
    )


def _rank_centroids(index: IvfIndex, query_vec: Sequence[float], strategy: str) -> list[int]:
    """Driver-side: order cluster ids best-first for the query under the
    given strategy's metric family."""
    q = np.asarray(query_vec, dtype=np.float64)
    c = index.centroids
    if strategy in ("CosineSimilarity", "CosineDistance"):
        qn = q / (np.linalg.norm(q) or 1.0)
        cn = c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
        sims = cn @ qn
        order = np.argsort(-sims, kind="stable")
    elif strategy == "InnerProductSimilarity":
        order = np.argsort(-(c @ q), kind="stable")
    else:  # Euclidean / Manhattan: nearest centroids by L2
        order = np.argsort(np.linalg.norm(c - q, axis=1), kind="stable")
    return [int(i) for i in order]


def ivf_search(
    spark: SparkSession,
    index: IvfIndex,
    query_vec: Sequence[float],
    k: int = DEFAULT_K,
    strategy: str = "CosineSimilarity",
    search_top_size: int = DEFAULT_SEARCH_TOP_SIZE,
    round_digits: int | None = None,
    filter_ids: DataFrame | None = None,
) -> DataFrame:
    """ANN search: prune to the search_top_size nearest clusters, then
    exact re-rank within the candidates. Returns (id, score).

    ``filter_ids`` (a 1-column ``id`` DataFrame) restricts candidates
    AFTER cluster pruning, BEFORE scoring — the non-strict filtered-ANN
    contract (config.py strict_filter_index_exclusion=False): pruning
    still shrinks the scan, the semi-join keeps only rows passing the
    filter, and recall for filtered rows is bounded by the clusters the
    width admits (exact at full width)."""
    validate_strategy(strategy)
    if search_top_size < 1:
        raise ValueError("search_top_size must be a positive integer")
    keep = _rank_centroids(index, query_vec, strategy)[:search_top_size]

    pruned = tombstones.apply_tombstones(
        spark, index.path, _read_clusters(spark, index, keep)
    )
    if filter_ids is not None:
        # Catalyst/AQE broadcasts the (small) filtered id set
        pruned = pruned.join(filter_ids, "id", "left_semi")

    return rank_topk(pruned, query_vec, k, strategy, round_digits)


def _cell_max_angles(spark: SparkSession, index: IvfIndex) -> np.ndarray:
    """Per-cell angular radius ``max_x theta(x, centroid)`` from the
    stored layout: one scan, Arrow-batched numpy cosine per row,
    cluster-keyed MIN-cosine aggregate, cluster-count-sized collect.
    A pure function of the index files, memoized per session under the
    layout's file listing, so an upsert or rewrite into the directory
    recomputes it. Zero-norm rows count as angle pi (never prunable
    past them)."""
    cents = index.centroids
    cn = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)

    def part(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.asarray(list(pdf["embedding"]), dtype=np.float64)
            norms = np.linalg.norm(V, axis=1)
            cids = pdf["cluster_id"].to_numpy()
            cos = np.einsum("ij,ij->i", V, cn[cids]) / np.where(
                norms > 0, norms, 1.0
            )
            cos = np.where(norms > 0, np.clip(cos, -1.0, 1.0), -1.0)
            yield pd.DataFrame({"cluster_id": cids, "min_cos": cos})

    def angles() -> np.ndarray:
        rows = (
            _read_clusters(spark, index)
            .select("cluster_id", "embedding")
            .mapInPandas(part, "cluster_id int, min_cos double")
            .groupBy("cluster_id")
            .agg(F.min("min_cos").alias("min_cos"))
            .collect()
        )
        out = np.full(index.n_clusters, np.pi)
        for r in rows:
            out[r.cluster_id] = float(np.arccos(np.clip(r.min_cos, -1.0, 1.0)))
        return out

    return session_memo(spark, "cell_angles", index.path, {}, angles)


def ivf_range_search(
    spark: SparkSession,
    index: IvfIndex,
    query_vec: Sequence[float],
    threshold: float,
    round_digits: int | None = None,
) -> DataFrame:
    """Cosine RANGE search with LOSSLESS cell pruning — the IVF twin
    of :func:`search.range_search` for the "all near-duplicates of
    this item" lookup where k is unknown.

    Pruning bound (angular triangle inequality): for any x in cell i,
    ``theta(q, x) >= theta(q, c_i) - theta_max_i``, so
    ``cos(q, x) <= cos(max(0, theta(q, c_i) - theta_max_i))``. A cell
    whose upper bound cannot clear the threshold cannot hold a
    qualifying row — skipping it never changes the answer, so this
    shares the exact range search's oracle. The comparison carries a
    ``5e-7 + 1e-9`` slack: the gate's scores are ROUND(6), so a raw
    score up to half an ulp-of-round below the threshold still rounds
    into the result set, and the arccos/cos round trip is float. Both
    slacks only ever ADMIT extra cells (pruning stays lossless).

    Scale shape: per-cell radii are one cached corpus scan
    (cluster-keyed min-cosine, cluster-count-sized collect); the
    query-time decision is pure driver arithmetic on the
    (n_clusters,) radius vector; surviving cells resolve to partition
    directories at planning time (the ivf_search pruning path); the
    threshold is a codegen predicate on the pruned scan — no shuffle.
    """
    if not np.isfinite(threshold):
        raise ValueError("threshold must be finite")
    angles = _cell_max_angles(spark, index)
    q = np.asarray(query_vec, dtype=np.float64)
    qn = q / (np.linalg.norm(q) or 1.0)
    cents = index.centroids
    cn = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
    theta_qc = np.arccos(np.clip(cn @ qn, -1.0, 1.0))
    ubound = np.cos(np.maximum(0.0, theta_qc - angles))
    keep = [int(i) for i in np.nonzero(ubound >= threshold - 5e-7 - 1e-9)[0]]

    pruned = tombstones.apply_tombstones(
        spark, index.path, _read_clusters(spark, index, keep)
    )
    score = score_expr("CosineSimilarity", "embedding", list(query_vec))
    if round_digits is not None:
        score = F.round(score, round_digits) + F.lit(0.0)
    return (
        pruned.withColumn("score", score)
        .select("id", "score")
        .filter(F.col("score") >= F.lit(float(threshold)))
        .orderBy(*_order_cols("CosineSimilarity"))
    )


def ivf_knn_join_distributed(
    spark: SparkSession,
    index: IvfIndex,
    queries_df: DataFrame,
    k: int = DEFAULT_K,
    strategy: str = "CosineSimilarity",
    search_top_size: int = DEFAULT_SEARCH_TOP_SIZE,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    round_digits: int | None = None,
    filter_ids: DataFrame | None = None,
) -> DataFrame:
    """Batch ANN join with NO driver-side query collect: the scale
    path for the large-query-batch regime (embed 10^6+ rows, find
    neighbors for all of them), where :func:`ivf_knn_join`'s
    driver-side centroid ranking loop would bottleneck.

    ``filter_ids`` (1-column ``id`` DataFrame) restricts the CORPUS
    side before the assignment join — "neighbors among documents
    passing the filter", the batch twin of the non-strict filtered
    serving path. Exact (== filtered knn_join) at full width.

    The centroid matrix (n_clusters x dim, a few KB) ships inside an
    Arrow-batched pandas UDF that replays ``_rank_centroids``'
    arithmetic per query row — the SAME NumPy expressions, so the
    best-first cluster order (stable argsort, ties by cluster id)
    agrees with the driver-side loop bit-for-bit, not just in exact
    math. (A previous revision ranked clusters with per-centroid
    Column folds; n_clusters x dim literals made plan analysis and
    codegen the dominant cost — same lesson as srp_cosine_pairs.)
    Each query explodes into ``search_top_size`` (query_id,
    cluster_id) assignments; the corpus joins on ``cluster_id``, and
    AQE picks broadcast when the assignment side is small and a
    shuffled join when it isn't.

    Unlike :func:`ivf_knn_join`, the scan is not statically pruned to
    the union of needed partitions (the driver never sees the
    assignments) — at large batch sizes every cluster is probed anyway,
    and the join itself discards non-probed clusters. Exact
    (== knn_join) when ``search_top_size >= n_clusters``. Queries
    whose vector length differs from the index dimensionality get no
    cluster assignments and therefore no output rows.

    Output: (query_id, id, score, rank) — identical to
    :func:`ivf_knn_join`.
    """
    import pandas as pd

    validate_strategy(strategy)
    if search_top_size < 1:
        raise ValueError("search_top_size must be a positive integer")

    c = index.centroids
    dim = c.shape[1]
    if strategy in ("CosineSimilarity", "CosineDistance"):
        mat = c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
    else:
        mat = c
    w_eff = min(search_top_size, index.n_clusters)

    # no type hints: this module uses `from __future__ import
    # annotations` (see dedup._band_vals_fn for the full story)
    def _top_clusters_fn(vecs):
        out = []
        for v in vecs:
            if v is None or len(v) != dim:
                out.append([])
                continue
            q = np.asarray(v, dtype=np.float64)
            if strategy in ("CosineSimilarity", "CosineDistance"):
                qn = q / (np.linalg.norm(q) or 1.0)
                order = np.argsort(-(mat @ qn), kind="stable")
            elif strategy == "InnerProductSimilarity":
                order = np.argsort(-(mat @ q), kind="stable")
            else:  # Euclidean / Manhattan: nearest centroids by L2
                order = np.argsort(np.linalg.norm(mat - q, axis=1), kind="stable")
            out.append(order[:w_eff].tolist())
        return pd.Series(out)

    _top_clusters = F.pandas_udf(_top_clusters_fn, T.ArrayType(T.IntegerType()))

    assignment = (
        queries_df.select(
            F.col(query_id).alias("query_id"), F.col(query_vec).alias("query_vec")
        )
        .select(
            "query_id",
            "query_vec",
            F.explode(_top_clusters(F.col("query_vec"))).alias("cluster_id"),
        )
    )

    corpus = tombstones.apply_tombstones(
        spark, index.path, _read_clusters(spark, index)
    )
    if filter_ids is not None:
        corpus = corpus.join(filter_ids, "id", "left_semi")
    scored = corpus.join(assignment, "cluster_id", "inner").withColumn(
        "score", score_expr(strategy, "embedding", "query_vec")
    )
    return _rank_per_query(scored, strategy, k, round_digits)


def ivf_knn_join(
    spark: SparkSession,
    index: IvfIndex,
    queries_df: DataFrame,
    k: int = DEFAULT_K,
    strategy: str = "CosineSimilarity",
    search_top_size: int = DEFAULT_SEARCH_TOP_SIZE,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    round_digits: int | None = None,
    filter_ids: DataFrame | None = None,
) -> DataFrame:
    """Batch ANN join through the IVF index: every query is matched
    only against its ``search_top_size`` nearest clusters.
    ``filter_ids`` restricts the corpus side after partition pruning
    (same contract as :func:`ivf_knn_join_distributed`).

    The 100 TB shape for "embed a query batch, find neighbors for all
    of them": per-query candidate clusters are ranked driver-side
    against the tiny centroid table, the corpus scan is statically
    pruned to the UNION of needed cluster partitions, and the
    (query, cluster) assignment is broadcast so each corpus row is
    scored only against the queries that probe its cluster — work is
    ~``search_top_size / n_clusters`` of the exact knn_join. Exact
    (== knn_join) when ``search_top_size >= n_clusters``.

    Output: (query_id, id, score, rank); rank in the strategy's
    direction, deterministic id tie-break.
    """
    validate_strategy(strategy)
    if search_top_size < 1:
        raise ValueError("search_top_size must be a positive integer")

    q_rows = queries_df.select(
        F.col(query_id).alias("query_id"), F.col(query_vec).alias("query_vec")
    ).collect()

    assign_rows = []
    for r in q_rows:
        clusters = _rank_centroids(index, r.query_vec, strategy)[:search_top_size]
        vec = [float(x) for x in r.query_vec]
        assign_rows.extend(
            {"query_id": r.query_id, "cluster_id": c, "query_vec": vec}
            for c in clusters
        )
    # query_id keeps its native type (int, string, ...) — the schema is
    # derived from the input, same as knn_join_blocked (search.py); the
    # vector is double (values are upcast driver-side above, matching
    # the double-math scoring in score_expr)
    assign_schema = T.StructType(
        [
            T.StructField("query_id", queries_df.schema[query_id].dataType),
            T.StructField("cluster_id", T.IntegerType()),
            T.StructField("query_vec", T.ArrayType(T.DoubleType())),
        ]
    )
    assignment = spark.createDataFrame(assign_rows, schema=assign_schema)
    needed = sorted({a["cluster_id"] for a in assign_rows})

    corpus = tombstones.apply_tombstones(
        spark,
        index.path,
        _read_clusters(spark, index, needed),  # static partition pruning
    )
    if filter_ids is not None:
        corpus = corpus.join(filter_ids, "id", "left_semi")
    scored = corpus.join(
        F.broadcast(assignment), "cluster_id", "inner"
    ).withColumn(
        "score", score_expr(strategy, "embedding", "query_vec")
    )
    return _rank_per_query(scored, strategy, k, round_digits)


def ivf_upsert(spark: SparkSession, index: IvfIndex, new_df: DataFrame) -> dict:
    """Incremental index maintenance: route each ``(id, embedding)`` row
    of ``new_df`` to its nearest existing centroid by L2
    (``layout.nearest``, the KMeans build objective, for every serving
    strategy) and APPEND it to that cluster's partition directory
    through ``layout.append_batch``. No rebuild, no touch of existing
    files; searches see the new rows at once because pruning is
    directory-based. A batch holding a vector of another length than
    the index dim raises and writes nothing.

    Centroids are deliberately NOT moved: recall for pre-existing rows
    is untouched, and the approximation only degrades as drift between
    the frozen centroids and the true cluster means grows. The returned
    ``max_assign_l2`` and per-cluster counts measure that drift and feed
    the rebuild trigger: cheap appends plus periodic offline rebuilds,
    not online centroid updates.

    Returns {"n_appended", "per_partition" ((cluster_id,) -> rows),
    "max_assign_l2"}."""
    c = index.centroids

    def route(E):
        cid, d = nearest(c, E)
        return {"cluster_id": cid, "d": d}

    return append_batch(
        spark, index, new_df, route, [T.StructField("cluster_id", T.IntegerType())]
    )


#: the IVF name of the one generation rewrite (``layout.compact``):
#: ``ivf_compact(spark, index, out_dir, dedup_ids=False)`` rewrites the
#: append-churned cluster layout into a new generation with one file
#: per cluster directory, centroids carried over
ivf_compact = compact


def query_matrix(vecs: Sequence, dim: int) -> tuple[list[int], np.ndarray]:
    """(positions, matrix): the positions in ``vecs`` of the vectors
    with ``dim`` entries, and those vectors as one ``(n, dim)`` float64
    matrix. A None or wrong-dimension vector routes nowhere, so its
    query gets no rows."""
    pos = [i for i, v in enumerate(vecs) if v is not None and len(v) == dim]
    return pos, np.array([vecs[i] for i in pos], dtype=np.float64).reshape(len(pos), dim)


def _collect_queries(
    queries_df: DataFrame, query_id: str, query_vec: str, dim: int
) -> tuple[list, np.ndarray, T.DataType]:
    """The query side of a routed-blocked DataFrame entry, collected:
    (ids, ``(n, dim)`` matrix, the id column's type)."""
    rows = queries_df.select(query_id, query_vec).collect()
    pos, Q = query_matrix([r[1] for r in rows], dim)
    return [rows[i][0] for i in pos], Q, queries_df.schema[query_id].dataType


def _routed_blocked_join(
    spark: SparkSession,
    index,
    query_ids: Sequence,
    Q: np.ndarray,
    routes: dict[tuple[int, ...], list[int]],
    k: int,
    strategy: str,
    query_id_type: T.DataType,
) -> DataFrame:
    """The scoring core of the routed-blocked batch joins of the flat
    IVF (:func:`ivf_knn_join_routed_blocked`) and the k-means tree
    (``tree.tree_knn_join_routed_blocked``). ``routes`` maps a
    partition key (a tuple over ``index.partition_cols``) to the rows
    of ``Q`` routed to it. Output (query_id, id, score, rank); rank in
    the strategy's direction with an id tie-break, NULL scores (an
    undefined cosine) last.

    The scan prunes to the routed partitions. Inside each Arrow batch
    the rows of one partition score against only the queries routed to
    it as ONE matrix product (``search._blas_block_scores``, the
    ``knn_join_blocked`` kernel); each query keeps the block's top-k,
    and the batch's survivors leave as one Arrow batch of three
    concatenated columns."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    from .search import _blas_block_scores

    cols = list(index.partition_cols)
    corpus = tombstones.apply_tombstones(
        spark, index.path, _read_clusters(spark, index, sorted(routes))
    ).select(*cols, "id", "embedding")
    out_schema = T.StructType(
        [
            T.StructField("query_id", query_id_type),
            T.StructField("id", corpus.schema["id"].dataType),
            T.StructField("score", T.DoubleType()),
        ]
    )
    if not routes:
        # the scan reads no partition, so the optimizer plans this to
        # an empty relation: no Spark job (a local DataFrame would be
        # an RDD and launch one)
        return corpus.selectExpr(
            f"CAST(NULL AS {query_id_type.simpleString()}) AS query_id",
            "id",
            "CAST(NULL AS DOUBLE) AS score",
            "CAST(NULL AS BIGINT) AS rank",
        )
    arrow_types = [to_arrow_type(f.dataType) for f in out_schema]
    desc = sort_descending(strategy)
    bc = spark.sparkContext.broadcast(
        (
            np.asarray(query_ids),
            Q,
            {key: np.asarray(q, dtype=np.int64) for key, q in routes.items()},
            strategy,
            desc,
            k,
        )
    )

    def score_block(batches):
        qids_, Q_, routes_, strat, desc_, k_ = bc.value
        dim = Q_.shape[1]
        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            emb = batch.column("embedding")
            if (np.diff(emb.offsets.to_numpy()) != dim).any() or emb.null_count:
                raise ValueError(f"index rows must hold {dim}-d vectors")
            E = emb.flatten().to_numpy(zero_copy_only=False)
            E = E.astype(np.float64, copy=False).reshape(n, dim)
            ids = batch.column("id").to_numpy(zero_copy_only=False)
            keys = np.stack([batch.column(c).to_numpy(zero_copy_only=False) for c in cols], axis=1)
            uniq, inv = np.unique(keys, axis=0, return_inverse=True)
            # each partition's rows, in batch order
            groups = np.split(np.argsort(inv, kind="stable"), np.cumsum(np.bincount(inv))[:-1])
            out_q, out_id, out_s = [], [], []
            for key, rows in zip(uniq.tolist(), groups):
                q_idx = routes_.get(tuple(key))
                if q_idx is None:
                    continue
                S = _blas_block_scores(E[rows], Q_[q_idx], strat)  # (m, nq)
                kk = min(k_, len(rows))
                order = np.argsort(-S if desc_ else S, axis=0, kind="stable")[:kk]
                out_q.append(np.repeat(qids_[q_idx], kk))
                out_id.append(ids[rows][order.T.ravel()])
                out_s.append(np.take_along_axis(S, order, axis=0).T.ravel())
            if out_q:
                score = np.concatenate(out_s)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.concatenate(out_q), type=arrow_types[0]),
                        pa.array(np.concatenate(out_id), type=arrow_types[1]),
                        pa.array(score, type=arrow_types[2], mask=np.isnan(score)),
                    ],
                    names=out_schema.fieldNames(),
                )

    return _rank_per_query(corpus.mapInArrow(score_block, out_schema), strategy, k)


def ivf_knn_join_routed_blocked_arrays(
    spark: SparkSession,
    index: IvfIndex,
    query_ids: Sequence,
    Q: np.ndarray,
    k: int = DEFAULT_K,
    strategy: str = "CosineSimilarity",
    search_top_size: int = DEFAULT_SEARCH_TOP_SIZE,
    *,
    query_id_type: T.DataType,
) -> DataFrame:
    """:func:`ivf_knn_join_routed_blocked` over a query batch the
    driver already holds: ``query_ids`` and the ``(n, dim)`` float64
    matrix ``Q`` of their vectors, so the batch never enters Spark.
    ``query_id_type`` is the Spark type of the output ``query_id``. A
    matrix of another dimension than the index's routes nowhere: no
    rows, and no Spark job."""
    validate_strategy(strategy)
    if search_top_size < 1:
        raise ValueError("search_top_size must be a positive integer")
    w_eff = min(search_top_size, index.n_clusters)
    routes: dict[tuple[int, ...], list[int]] = {}
    if Q.shape[1:] == (index.dim,):
        for qi, q in enumerate(Q):
            for cid in _rank_centroids(index, q, strategy)[:w_eff]:
                routes.setdefault((cid,), []).append(qi)
    return _routed_blocked_join(
        spark, index, query_ids, Q, routes, k, strategy, query_id_type
    )


def ivf_knn_join_routed_blocked(
    spark: SparkSession,
    index: IvfIndex,
    queries_df: DataFrame,
    k: int = DEFAULT_K,
    strategy: str = "CosineSimilarity",
    search_top_size: int = DEFAULT_SEARCH_TOP_SIZE,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Batch ANN join for the SERVING regime: driver-routed cluster
    pruning x BLAS block scoring (:func:`_routed_blocked_join`). Output
    (query_id, id, score, rank), same contract as :func:`ivf_knn_join`.

    Why this exists (measured, tools/scale_probe.py @ 4M rows x 256
    queries): the join-based formulations materialize a (corpus row x
    assigned query) pair per score and evaluate a per-element Column
    fold on each — `ivf_knn_join_distributed` took 84 s where the
    un-routed BLAS join took 7 s. This variant composes the two wins:
    queries route on the driver (the `_rank_centroids` arithmetic) and
    the scan prunes to the union of routed clusters, so bytes read
    track `search_top_size / n_clusters` like `ivf_search`; each block
    of a cluster's rows scores against only its routed queries as one
    matrix product.

    The query batch is collected driver-side and handed to
    :func:`ivf_knn_join_routed_blocked_arrays` — the serving-path
    contract shared with `knn_join_blocked`/`pq_knn_join` (batches of
    10^2..10^5; the no-collect `ivf_knn_join_distributed` remains the
    10^6+ regime and the oracle path). BLAS summation differs from the
    fold expressions in the last ulp, so this variant pins id-set
    equivalence in tests instead of carrying a SQL oracle. Exact
    candidate set (== knn_join) at full width. Queries whose vector
    length differs from the index's get no rows."""
    ids, Q, id_type = _collect_queries(queries_df, query_id, query_vec, index.dim)
    return ivf_knn_join_routed_blocked_arrays(
        spark, index, ids, Q, k, strategy, search_top_size, query_id_type=id_type
    )
