"""Exact vector top-k search — the reference's main query path.

Reproduces ``prepare_search_query`` + ``execute_search``
(``/root/reference/app.py:165-264``): scan -> [equality filter] ->
score with Knn strategy -> ORDER BY score -> LIMIT k, projected to
``id/title/vendor/description/score`` (``app.py:217-227``).

Physical shape (scale-critical, SURVEY.md §4):

* ``ORDER BY score LIMIT k`` compiles to ``TakeOrderedAndProject`` —
  per-partition heap top-k, driver merges k rows per partition. No
  global sort, no shuffle of the scored table. This holds at any
  corpus size.
* The score is computed over the NARROW ``embeddings`` table only
  (vec_id + embedding); the wide text columns join in AFTER the top-k,
  when only k rows remain (broadcast hash join). At 100 TB the
  alternative — scoring the joined wide table — would drag every
  document body through the scan for nothing.
* Equality filters (``app.py:168-184``) live on document columns, so
  the filtered path semi-joins the id set into the vector table before
  scoring; Catalyst/AQE broadcasts the id set when small. The filter
  itself is pushed to the Parquet scan of ``documents``.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import tombstones
from ..config import (
    ColumnMap,
    DEFAULT_K,
    FILTERABLE_FIELDS,
    sort_descending,
    validate_strategy,
)
from ..functions.distance import score_expr
from ..sources.store import load_documents, load_embeddings, load_store_df

# re-export for package __init__
load_store = load_store_df


def _order_cols(strategy: str, id_col: str = "id") -> list[Column]:
    """Sort by score in the strategy's direction (reference app.py:55,
    225) with a deterministic id tiebreak so the k-boundary is stable.

    Documented parity divergence: NULL scores (dimension mismatch)
    sort LAST in both directions here. YDB treats NULL as smallest, so
    the reference's ``ORDER BY score ASC`` (distance strategies) would
    surface mismatched-dimension rows FIRST. Returning garbage rows
    ahead of real neighbors is an artifact, not a contract, so this
    engine keeps nulls-last everywhere (see README parity notes)."""
    direction = F.desc_nulls_last if sort_descending(strategy) else F.asc_nulls_last
    return [direction("score"), F.asc(id_col)]


def _validate_filter(filter: Mapping[str, str] | None) -> dict[str, str]:
    """Conjunctive equality filter over exactly title/vendor/description
    (reference app.py:168-184). Values are bound Column comparisons, not
    interpolated strings — the reference's injection bug is deliberately
    not reproduced (SURVEY.md §7.4)."""
    if not filter:
        return {}
    bad = set(filter) - set(FILTERABLE_FIELDS)
    if bad:
        raise ValueError(
            f"Unfilterable field(s) {sorted(bad)}; allowed: {FILTERABLE_FIELDS}"
        )
    return dict(filter)


def _filter_cond(flt: Mapping[str, str]) -> Column:
    """Conjunctive equality Column over already-validated filter keys."""
    cond = None
    for field, value in flt.items():
        c = F.col(field) == F.lit(value)
        cond = c if cond is None else (cond & c)
    return cond


def rank_topk(
    vecs: DataFrame,
    query_vec: Sequence[float],
    k: int,
    strategy: str,
    round_digits: int | None = None,
) -> DataFrame:
    """The exact tail of every single-query search: the (id, score)
    top-``k`` of an ``(id, embedding)`` relation, scored against the
    query, ordered by :func:`_order_cols` (TakeOrderedAndProject).

    ``query_vec`` is a PLAIN vector, so cosine folds the query norm to
    a literal driver-side (Catalyst won't constant-fold a HOF over a
    literal array, so a query column would re-fold the norm per row).
    ``round_digits`` rounds the score; ``+ 0.0`` canonicalizes IEEE
    -0.0 to 0.0 (oracle bit-parity)."""
    score = score_expr(strategy, "embedding", query_vec)
    if round_digits is not None:
        score = F.round(score, round_digits) + F.lit(0.0)
    return (
        vecs.withColumn("score", score)
        .select("id", "score")
        .orderBy(*_order_cols(strategy))
        .limit(k)
    )


def filtered_doc_ids(
    spark: SparkSession,
    sf_dir: str,
    filter: Mapping[str, str],
    columns: ColumnMap | None = None,
) -> DataFrame:
    """The document-id set matching a conjunctive equality filter
    (reference app.py:168-184), as a 1-column ``id`` DataFrame.

    The equality predicates are pushed to the ``documents`` Parquet
    scan; callers semi-join the result into a vector-side scan
    (exact or index-pruned) BEFORE scoring — the shared filtered-search
    building block for both the exact path and the non-strict
    filtered-ANN path (config.py strict_filter_index_exclusion=False).
    """
    m = columns or ColumnMap()
    flt = _validate_filter(filter)
    docs = load_documents(spark, sf_dir).selectExpr(
        f"`{m.id}` AS id",
        f"`{m.title}` AS title",
        f"`{m.vendor}` AS vendor",
        f"`{m.description}` AS description",
    )
    return docs.filter(_filter_cond(flt)).select("id")


def exact_topk(
    spark: SparkSession,
    sf_dir: str,
    query_vec: Sequence[float],
    k: int = DEFAULT_K,
    strategy: str = "CosineSimilarity",
    filter: Mapping[str, str] | None = None,
    columns: ColumnMap | None = None,
    round_digits: int | None = None,
) -> DataFrame:
    """The ranked (id, score) top-k of :func:`exact_search`, before any
    metadata: the relation the serving engine collects. With a filter,
    ``documents`` is read for the filter's id set only."""
    validate_strategy(strategy)
    if not isinstance(k, int) or k < 1:
        raise ValueError("k must be a positive integer")  # app.py:368-370
    m = columns or ColumnMap()
    flt = _validate_filter(filter)

    embs = load_embeddings(spark, sf_dir).selectExpr(
        "vec_id AS id", f"`{m.embedding}` AS embedding"
    )
    if flt:
        # semi-join the (pushed-down) filtered id set into the narrow
        # vector table; Catalyst broadcasts it when small.
        embs = embs.join(filtered_doc_ids(spark, sf_dir, flt, m), "id", "left_semi")

    return rank_topk(embs, query_vec, k, strategy, round_digits)


def exact_search(
    spark: SparkSession,
    sf_dir: str,
    query_vec: Sequence[float],
    k: int = DEFAULT_K,
    strategy: str = "CosineSimilarity",
    filter: Mapping[str, str] | None = None,
    columns: ColumnMap | None = None,
    round_digits: int | None = None,
) -> DataFrame:
    """Top-k exact (brute-force) vector search over the store.

    Returns columns ``id, title, vendor, description, score`` —
    the reference's SELECT list (``app.py:217-222``).
    """
    m = columns or ColumnMap()
    topk = exact_topk(
        spark, sf_dir, query_vec, k, strategy, filter, m, round_digits
    )
    docs = load_documents(spark, sf_dir).selectExpr(
        f"`{m.id}` AS id",
        f"`{m.title}` AS title",
        f"`{m.vendor}` AS vendor",
        f"`{m.description}` AS description",
    )
    # metadata joins in AFTER top-k: the BROADCAST side is the k-row
    # top-k result, never the documents table — at 100 TB the corpus
    # metadata is the big side and must stay the streamed probe side
    # (the build side of the metadata join is plan-asserted in
    # tests/test_search.py via plans.checks.broadcast_subtree_details)
    out = F.broadcast(topk).join(docs, "id", "inner").select(
        "id", "title", "vendor", "description", "score"
    )
    return out.orderBy(*_order_cols(strategy))


def _rank_per_query(
    scored: DataFrame, strategy: str, k: int, round_digits: int | None = None
) -> DataFrame:
    """(query_id, id, score, rank): each query's top-``k`` rows of a
    scored (query_id, id, score) join, ranked in the strategy's
    direction with NULL scores last and an id tie-break — the one
    window of every batch join. ``round_digits`` rounds the scores
    first (``+ 0.0`` turns IEEE ``-0.0`` into ``0.0``)."""
    if round_digits is not None:
        scored = scored.withColumn(
            "score", F.round(F.col("score"), round_digits) + F.lit(0.0)
        )
    direction = (
        F.col("score").desc_nulls_last()
        if sort_descending(strategy)
        else F.col("score").asc_nulls_last()
    )
    w = Window.partitionBy("query_id").orderBy(direction, F.col("id").asc())
    return (
        scored.select("query_id", "id", "score")
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "id", "score", "rank")
    )


def knn_join(
    spark: SparkSession,
    queries_df: DataFrame,
    corpus_df: DataFrame,
    k: int = DEFAULT_K,
    strategy: str = "CosineSimilarity",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "id",
    corpus_vec: str = "embedding",
    round_digits: int | None = None,
) -> DataFrame:
    """Batch k-nearest-neighbors join: for every query vector, the top-k
    corpus rows by the given strategy. Output: (query_id, id, score, rank).

    Scale shape: the query side is broadcast (a query batch is small by
    construction); scores are computed map-side inside codegen over the
    corpus scan; only (query_id, id, score) triples — never the wide
    corpus rows — enter the per-query top-k. The ranked window shuffles
    |corpus| x |queries| narrow triples; for very large corpora use the
    IVF index (operators/index.py) to prune the corpus side first.
    """
    validate_strategy(strategy)
    q = queries_df.select(
        F.col(query_id).alias("query_id"), F.col(query_vec).alias("query_vec")
    )
    c = corpus_df.select(
        F.col(corpus_id).alias("id"), F.col(corpus_vec).alias("embedding")
    )
    scored = c.crossJoin(F.broadcast(q)).withColumn(
        "score", score_expr(strategy, "embedding", "query_vec")
    )
    return _rank_per_query(scored, strategy, k, round_digits)


def _blas_block_scores(E, Q, strategy):  # noqa: ANN001 — numpy arrays
    """Score one corpus block against the query matrix with BLAS —
    the shared kernel of the blocked batch joins. Returns (m, nq)
    float64; NaN marks undefined cosine (zero-norm row or query),
    surfaced as NULL by callers. Summation order differs from the
    sequential-fold Column expressions in the last ulp — blocked
    variants therefore pin equivalence in tests instead of carrying a
    SQL oracle."""
    import numpy as np

    if strategy == "InnerProductSimilarity":
        return E @ Q.T
    if strategy in ("CosineSimilarity", "CosineDistance"):
        q_norms = np.linalg.norm(Q, axis=1)
        Qn = Q / np.maximum(q_norms[:, None], 1e-300)
        e_norms = np.linalg.norm(E, axis=1)
        En = E / np.maximum(e_norms[:, None], 1e-300)
        S = En @ Qn.T
        if strategy == "CosineDistance":
            S = 1.0 - S
        S[e_norms == 0.0, :] = np.nan
        S[:, q_norms == 0.0] = np.nan
        return S
    if strategy == "EuclideanDistance":
        d2 = (
            (E * E).sum(axis=1)[:, None]
            - 2.0 * (E @ Q.T)
            + (Q * Q).sum(axis=1)[None, :]
        )
        return np.sqrt(np.maximum(d2, 0.0))
    return np.abs(E[:, None, :] - Q[None, :, :]).sum(axis=2)


def knn_join_blocked(
    spark: SparkSession,
    queries_df: DataFrame,
    corpus_df: DataFrame,
    k: int = DEFAULT_K,
    strategy: str = "CosineSimilarity",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Scale-path batch kNN join: NumPy-blocked scoring + two-level
    top-k. Same results as :func:`knn_join` (modulo last-ulp float
    ties), radically less shuffle. The query side is collected to the
    driver and handed to :func:`knn_join_blocked_arrays`."""
    rows = queries_df.select(query_id, query_vec).collect()
    return knn_join_blocked_arrays(
        spark,
        [r[0] for r in rows],
        [r[1] for r in rows],
        corpus_df.select(
            F.col(corpus_id).alias("id"), F.col(corpus_vec).alias("embedding")
        ),
        k=k,
        strategy=strategy,
        query_id_type=queries_df.schema[query_id].dataType,
    )


def knn_join_blocked_arrays(
    spark: SparkSession,
    query_ids: Sequence,
    query_vecs: Sequence[Sequence[float] | None],
    corpus: DataFrame,
    k: int = DEFAULT_K,
    strategy: str = "CosineSimilarity",
    *,
    query_id_type,
) -> DataFrame:
    """:func:`knn_join_blocked` over a query batch the driver already
    holds: ``query_ids`` and their vectors, so the batch never enters
    Spark. ``corpus`` has columns (id, embedding); ``query_id_type`` is
    the Spark type of the output ``query_id``.

    Stage 1 (map-side, zero shuffle): the queries are broadcast as one
    float64 matrix per vector length; each Arrow batch of the corpus is
    scored as ONE matrix product per length (BLAS) and reduced to the
    local top-k per query — so only ``n_queries x k`` candidate triples
    leave each batch instead of ``n_queries x batch_rows``. Stage 2:
    the ranked window of :func:`_rank_per_query` over the survivors.

    Output: (query_id, id, score, rank), score as float64 from BLAS
    (summation order differs from the sequential-fold SQL of
    :func:`knn_join` in the last ulp — hence no SQL oracle; equivalence
    is asserted in tests). As in :func:`knn_join`, a score is NULL
    where it is undefined: a vector pair of different lengths, a NULL
    corpus vector or element, and a zero norm under the cosine
    strategies; NULLs rank last and ties rank by id. A NULL or empty
    query vector gets no rows."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_type

    validate_strategy(strategy)
    by_len: dict[int, list[int]] = {}
    for qi, v in enumerate(query_vecs):
        if v is not None and len(v):
            by_len.setdefault(len(v), []).append(qi)
    groups = [
        (d, np.asarray(q), np.array([query_vecs[i] for i in q], dtype=np.float64))
        for d, q in by_len.items()
    ]
    out_schema = T.StructType(
        [
            T.StructField("query_id", query_id_type),
            T.StructField("id", corpus.schema["id"].dataType),
            T.StructField("score", T.DoubleType()),
        ]
    )
    arrow_types = [to_arrow_type(f.dataType) for f in out_schema]
    desc = sort_descending(strategy)
    bc = spark.sparkContext.broadcast(
        (np.asarray(query_ids), groups, strategy, desc, k)
    )

    def score_block(batches):
        qids_, groups_, strat, desc_, k_ = bc.value
        for batch in batches:
            n = batch.num_rows
            if not n or not groups_:
                continue
            # rows in id order, so a stable sort breaks score ties by id
            ids = batch.column("id").to_numpy(zero_copy_only=False)
            perm = np.argsort(ids, kind="stable")
            ids = ids[perm]
            emb = batch.column("embedding")
            offs = emb.offsets.to_numpy()
            starts = offs[:-1][perm]
            null = emb.is_null().to_numpy(zero_copy_only=False)
            lens = np.where(null, -1, np.diff(offs))[perm]
            vals = emb.values.to_numpy(zero_copy_only=False)
            vals = vals.astype(np.float64, copy=False)
            kk = min(k_, n)
            out_q, out_id, out_s = [], [], []
            for d, q_idx, Q in groups_:
                rows = np.flatnonzero(lens == d)
                S = np.full((n, len(q_idx)), np.nan)
                if len(rows):
                    E = vals[starts[rows, None] + np.arange(d)]
                    S[rows] = _blas_block_scores(E, Q, strat)
                order = np.argsort(-S if desc_ else S, axis=0, kind="stable")[:kk]
                out_q.append(np.repeat(qids_[q_idx], kk))
                out_id.append(ids[order.T.ravel()])
                out_s.append(np.take_along_axis(S, order, axis=0).T.ravel())
            score = np.concatenate(out_s)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_q), type=arrow_types[0]),
                    pa.array(np.concatenate(out_id), type=arrow_types[1]),
                    pa.array(score, type=arrow_types[2], mask=np.isnan(score)),
                ],
                names=out_schema.fieldNames(),
            )

    return _rank_per_query(
        corpus.select("id", "embedding").mapInArrow(score_block, out_schema),
        strategy,
        k,
    )


def range_search(
    spark: SparkSession,
    sf_dir: str,
    query_vec: Sequence[float],
    threshold: float,
    strategy: str = "CosineSimilarity",
    max_rows: int | None = None,
    columns: ColumnMap | None = None,
    round_digits: int | None = 6,
) -> DataFrame:
    """RANGE search: every stored vector whose score clears
    ``threshold`` (>= for similarity strategies, <= for distance) —
    the radius-query twin of the top-k path, used for "all
    near-duplicates of this item" style lookups where k is unknown.
    Output (id, score), best-first.

    Scale shape: the threshold is a codegen predicate on the scored
    narrow scan — no shuffle at all when unbounded; result size is
    DATA-dependent, so ``max_rows`` (when set) bounds it with the same
    TakeOrderedAndProject heap as top-k. NULL scores (dimension
    mismatch / zero norm) never pass the threshold."""
    validate_strategy(strategy)
    m = columns or ColumnMap()
    embs = load_embeddings(spark, sf_dir).select(
        F.col("vec_id").alias("id"), F.col(m.embedding).alias("embedding")
    )
    score = score_expr(strategy, "embedding", list(query_vec))
    if round_digits is not None:
        score = F.round(score, round_digits) + F.lit(0.0)
    scored = embs.withColumn("score", score).select("id", "score")
    cond = (
        F.col("score") >= F.lit(float(threshold))
        if sort_descending(strategy)
        else F.col("score") <= F.lit(float(threshold))
    )
    out = scored.filter(cond)
    if max_rows is not None:
        return out.orderBy(*_order_cols(strategy)).limit(max_rows)
    return out.orderBy(*_order_cols(strategy))


def prefix_dim_search_rerank(
    spark: SparkSession,
    src: DataFrame,
    query_vec: Sequence[float],
    k: int = DEFAULT_K,
    strategy: str = "CosineSimilarity",
    prefix_dims: int = 16,
    shortlist: int | None = 100,
    id_col: str = "id",
    vec_col: str = "embedding",
    round_digits: int | None = None,
) -> DataFrame:
    """Matryoshka-style adaptive retrieval (Kusupati et al. 2022): a
    cheap shortlist scored on only the FIRST ``prefix_dims``
    coordinates, then an exact re-rank on the full vectors. With
    MRL-trained embeddings the leading dims carry most of the signal,
    so the shortlist pass reads/multiplies ``prefix_dims / dim`` of
    the work (e.g. 16/64 = 4× fewer flops — and with a layout that
    stores the prefix as its own column/file, 4× fewer bytes); on
    non-MRL embeddings the prefix is just a random projection and the
    recall/shortlist curve says how much that costs (pytest-pinned).

    ``shortlist=None`` (or >= corpus) keeps every row — the shortlist
    pass becomes a no-op filter and the result is EXACT top-k (the
    oracle-gated configuration shared with pq/bq/sq/opq_rerank_full).

    100 TB shape: both passes are shuffle-free codegen scans ending in
    TakeOrderedAndProject; the rerank join broadcasts the
    shortlist-sized id set. No trained state, no index build — the
    zero-maintenance member of the shortlist family.
    """
    validate_strategy(strategy)
    if not isinstance(k, int) or k < 1:
        raise ValueError("k must be a positive integer")
    if prefix_dims < 1 or prefix_dims > len(query_vec):
        raise ValueError(
            f"prefix_dims must be in [1, {len(query_vec)}], got {prefix_dims}"
        )
    vecs = src.select(F.col(id_col).alias("id"), F.col(vec_col).alias("embedding"))
    q_full = [float(x) for x in query_vec]
    n_short = None if shortlist is None else int(shortlist)
    if n_short is not None:
        q_pre = q_full[:prefix_dims]
        cand = (
            vecs.select("id", F.slice("embedding", 1, prefix_dims).alias("prefix"))
            .select("id", score_expr(strategy, "prefix", q_pre).alias("score"))
            .orderBy(*_order_cols(strategy))
            .limit(n_short)
            .select("id")
        )
        vecs = vecs.join(F.broadcast(cand), "id", "left_semi")
    return rank_topk(vecs, q_full, k, strategy, round_digits)


def read_codes(
    spark: SparkSession,
    index_path: str,
    codes_dir: str,
    keep: Sequence[int] | None = None,
    filter_ids: DataFrame | None = None,
) -> DataFrame:
    """The rows of a code layout (PQ, SQ8 or BQ) one search may
    shortlist: the ``codes_dir`` table without the ids tombstoned at
    ``index_path``, pruned to the IVF clusters in ``keep`` (a
    ``cluster_id`` PartitionFilter of the IVF-composed layouts; None
    keeps all) and to the ids of ``filter_ids`` (a 1-column DataFrame,
    applied BEFORE the shortlist: the non-strict filtered-ANN contract,
    so a full shortlist gives the exact filtered top-k)."""
    codes = tombstones.apply_tombstones(spark, index_path, spark.read.parquet(codes_dir))
    if keep is not None:
        codes = codes.filter(F.col("cluster_id").isin(keep))
    if filter_ids is not None:
        codes = codes.join(
            filter_ids.selectExpr(f"`{filter_ids.columns[0]}` AS id"), "id", "left_semi"
        )
    return codes


def shortlist_search(
    spark: SparkSession,
    index,
    vecs: DataFrame | None,
    query_vec: Sequence[float],
    k: int = DEFAULT_K,
    strategy: str = "CosineSimilarity",
    shortlist: int | None = None,
    filter_ids: DataFrame | None = None,
    round_digits: int | None = None,
    ivf_index=None,
    search_top_size: int | None = None,
) -> DataFrame:
    """The one search of the code layouts (``PqIndex``, ``OpqIndex``,
    ``SqIndex``, ``BqIndex``): the layout's code-domain shortlist of
    ``shortlist`` ids (None keeps every row), then the exact rerank of
    :func:`rank_topk` over the full-precision vectors of those ids.
    Returns (id, score).

    Flat layouts rerank ``vecs``, an ``(id, embedding)`` relation. With
    ``ivf_index`` (a layout built by ``build_ivf{pq,opq,sq,bq}_index``)
    the centroids are ranked on the driver, the codes and the IVF
    layout are both pruned to the ``search_top_size`` nearest clusters
    (None: all), and the rerank reads the IVF layout's kept clusters
    without its tombstoned ids; ``vecs`` is then unused.

    The shortlist ids semi-join into the vectors (broadcast: a
    shortlist is small by construction), so an id the codes hold twice
    is ranked once. Exact when the shortlist keeps every row and, with
    ``ivf_index``, the width covers every cluster."""
    validate_strategy(strategy)
    if not isinstance(k, int) or k < 1:
        raise ValueError("k must be a positive integer")
    if len(query_vec) != index.dim:
        raise ValueError(f"query dim {len(query_vec)} != index dim {index.dim}")
    keep = None
    if ivf_index is not None:
        from .index import _rank_centroids, _read_clusters

        keep = _rank_centroids(ivf_index, query_vec, strategy)[:search_top_size]
        vecs = tombstones.apply_tombstones(
            spark,
            ivf_index.path,
            _read_clusters(spark, ivf_index, keep),
            id_col=ivf_index.id_col,
        ).selectExpr(
            f"`{ivf_index.id_col}` AS id", f"`{ivf_index.vec_col}` AS embedding"
        )
    cand = index.shortlist(spark, query_vec, shortlist, strategy, keep, filter_ids)
    hit = vecs.join(F.broadcast(cand.select("id")), "id", "left_semi")
    return rank_topk(hit, query_vec, k, strategy, round_digits)
