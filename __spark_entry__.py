"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()`` — one callable per implemented operator (SURVEY.md §2 +
north-star extensions); each takes (spark, sf_dir) -> DataFrame.
``oracle_sql()`` — matching DuckDB SQL per query key (same parquet
tables registered as views). Column names/aliases match exactly; float
scores are double-math + ROUND(6) on both sides (see
``ydb_vector_search_simple_api_spark/oracles.py``).
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ydb_vector_search_simple_api_spark import (
    oracles,
    oracles_rel,
    oracles_temporal,
    oracles_text,
    sql_surface,
)
from ydb_vector_search_simple_api_spark import oracles_curation
from ydb_vector_search_simple_api_spark.artifacts import persisted, session_memo
from ydb_vector_search_simple_api_spark.branches import run_branches
from ydb_vector_search_simple_api_spark.operators import (
    curation,
    dedup,
    multimodal,
    relational,
    sampling,
    textual,
)
from ydb_vector_search_simple_api_spark.operators import bpe as bpe_mod
from ydb_vector_search_simple_api_spark.operators import bq as bq_mod
from ydb_vector_search_simple_api_spark.operators import opq as opq_mod
from ydb_vector_search_simple_api_spark.operators import pq as pq_mod
from ydb_vector_search_simple_api_spark.operators import sq as sq_mod
from ydb_vector_search_simple_api_spark.operators import sp_unigram as sp_unigram_mod
from ydb_vector_search_simple_api_spark.operators import classify as classify_mod
from ydb_vector_search_simple_api_spark.operators import dsir as dsir_mod
from ydb_vector_search_simple_api_spark.operators import embstats as embstats_mod
from ydb_vector_search_simple_api_spark.operators import clustering as clustering_mod
from ydb_vector_search_simple_api_spark.operators import enrich as enrich_mod
from ydb_vector_search_simple_api_spark.operators import expectations as expectations_mod
from ydb_vector_search_simple_api_spark.operators import graph as graph_mod
from ydb_vector_search_simple_api_spark.operators import graphann as gann_mod
from ydb_vector_search_simple_api_spark.operators import autoconfig as autoconfig_mod
from ydb_vector_search_simple_api_spark.operators import lm_store as lm_store_mod
from ydb_vector_search_simple_api_spark.operators import pipeline as pipeline_mod
from ydb_vector_search_simple_api_spark.operators import ranking as ranking_mod
from ydb_vector_search_simple_api_spark.operators import skew as skew_mod
from ydb_vector_search_simple_api_spark.operators import sketch_store as sketchstore_mod
from ydb_vector_search_simple_api_spark.operators import sparse_sim as sparse_sim_mod
from ydb_vector_search_simple_api_spark.operators import blocking as blocking_mod
from ydb_vector_search_simple_api_spark.operators import web as web_mod
from ydb_vector_search_simple_api_spark.operators import imagededup as imagededup_mod
from ydb_vector_search_simple_api_spark.operators import audiofp as audiofp_mod
from ydb_vector_search_simple_api_spark.operators import videodedup as videodedup_mod
from ydb_vector_search_simple_api_spark.operators import mmcuration as mmcuration_mod
from ydb_vector_search_simple_api_spark.operators import wordpiece as wordpiece_mod
from ydb_vector_search_simple_api_spark.operators import (
    retrieval_metrics as retmetrics_mod,
)
from ydb_vector_search_simple_api_spark.operators import logreg as logreg_mod
from ydb_vector_search_simple_api_spark.operators import kmv as kmv_mod
from ydb_vector_search_simple_api_spark.sources import warc as warc_mod
from ydb_vector_search_simple_api_spark.operators import tdigest as tdigest_mod
from ydb_vector_search_simple_api_spark.operators import tokenizers as tokenizers_mod
from ydb_vector_search_simple_api_spark.operators import hist_store as histstore_mod
from ydb_vector_search_simple_api_spark.operators import index as ivf
from ydb_vector_search_simple_api_spark.operators import tree as kmt
from ydb_vector_search_simple_api_spark.operators import search as search_mod
from ydb_vector_search_simple_api_spark.operators.search import (
    exact_search,
    knn_join,
    shortlist_search,
)
from ydb_vector_search_simple_api_spark.sources.store import load_documents, load_embeddings
from ydb_vector_search_simple_api_spark.streaming import events as streaming_events
from ydb_vector_search_simple_api_spark.streaming import curation_ingest as streaming_curing
from ydb_vector_search_simple_api_spark.streaming import index_ingest as streaming_ingest
from ydb_vector_search_simple_api_spark.streaming import serve as streaming_serve
from ydb_vector_search_simple_api_spark.streaming import sketch_ingest as streaming_sketch
from ydb_vector_search_simple_api_spark.streaming import sessions as streaming_sessions
from ydb_vector_search_simple_api_spark.streaming import image_ingest as streaming_image_ingest

ROUND = oracles.ROUND_DIGITS


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table as the (id, embedding) source every index
    and rerank reads."""
    return load_embeddings(spark, sf_dir).select(
        F.col("vec_id").alias("id"), "embedding"
    )


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    """The deterministic query vector: stored embedding of vec_id=0
    (query-by-example; same row the oracle SQL selects)."""
    return session_memo(spark, "qvec", sf_dir, {}, lambda: [
        float(x) for x in load_embeddings(spark, sf_dir)
        .filter(F.col("vec_id") == oracles.QUERY_VEC_ID)
        .select("embedding").head().embedding
    ])


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: top-k cosine search over the sf0.001 store
    (SURVEY.md §7.1 — the reference's default config path)."""
    sf_dir = "/root/testdata/sf0.001"
    return exact_search(
        spark, sf_dir, _query_vec(spark, sf_dir), k=10,
        strategy="CosineSimilarity", round_digits=ROUND,
    )


# ---------------------------------------------------------------- helpers
# Indexes persist through artifacts.persisted (keyed by corpus files,
# params and builder module); session results through session_memo.


def _stream_kn5_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drained KN5 stream (the suite's heaviest query; its honest
    cost is in BENCH_DETAIL cold_s / SCALING.md round 11)."""
    return session_memo(spark, "stream_kn5", sf_dir, {}, lambda: (
        streaming_curing.stream_kn5_ingest(spark, sf_dir).localCheckpoint(eager=True)
    ))


IVF_CLUSTERS = 8


def _ivf_index(spark: SparkSession, sf_dir: str) -> ivf.IvfIndex:
    params = {"n_clusters": IVF_CLUSTERS, "seed": 42}
    return persisted("ivf", sf_dir, params, partial(
        ivf.build_ivf_index, spark, _vectors(spark, sf_dir), **params
    ), ivf.load_ivf_index)


def _sq_index(spark: SparkSession, sf_dir: str):
    return persisted("sq", sf_dir, {}, partial(
        sq_mod.build_sq_index, spark, _vectors(spark, sf_dir)
    ), sq_mod.load_sq_index)


def _bq_index(spark: SparkSession, sf_dir: str):
    return persisted("bq", sf_dir, {}, partial(
        bq_mod.build_bq_index, spark, _vectors(spark, sf_dir)
    ), bq_mod.load_bq_index)


def _lex_index(spark: SparkSession, sf_dir: str):
    """The persisted BM25 postings/stats (the serving-path lexical
    index — operators/ranking.py build_lexical_index)."""
    return persisted("lex", sf_dir, {}, partial(
        ranking_mod.build_lexical_index, spark, load_documents(spark, sf_dir)
    ), ranking_mod.load_lexical_index)


def _unigram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained unigram-LM vocab (the encode entry times the
    ENCODE, not a re-train)."""
    return session_memo(spark, "unigram_vocab", sf_dir, {}, lambda: (
        sp_unigram_mod.unigram_lm_train(spark, sf_dir).localCheckpoint(eager=True)
    ))


def _wordpiece_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained WordPiece vocab (the _unigram_vocab contract)."""
    return session_memo(spark, "wordpiece_vocab", sf_dir, {"n_merges": 10}, lambda: (
        wordpiece_mod.wordpiece_vocab(spark, sf_dir, n_merges=10)
        .localCheckpoint(eager=True)
    ))


def _bpe_merges(spark: SparkSession, sf_dir: str, n_merges: int = 10) -> list:
    return session_memo(spark, "bpe_merges", sf_dir, {"n_merges": n_merges}, lambda: [
        (r.left, r.right)
        for r in bpe_mod.bpe_train(spark, sf_dir, n_merges=n_merges)
        .orderBy("rank").collect()
    ])


def _ivfbq_index(spark: SparkSession, sf_dir: str):
    ivf_idx = _ivf_index(spark, sf_dir)
    return persisted("ivfbq", sf_dir, {"ivf": ivf_idx.path}, partial(
        bq_mod.build_ivfbq_index, spark, ivf_idx
    ), bq_mod.load_bq_index)


def _ivfsq_index(spark: SparkSession, sf_dir: str):
    ivf_idx = _ivf_index(spark, sf_dir)
    return persisted("ivfsq", sf_dir, {"ivf": ivf_idx.path}, partial(
        sq_mod.build_ivfsq_index, spark, ivf_idx
    ), sq_mod.load_sq_index)


def _mk_gann(strategy: str, k: int, beam: int | None):
    def run(s: SparkSession, d: str) -> DataFrame:
        return gann_mod.graphann_search(
            s, _gann_index(s, d), _vectors(s, d), _query_vec(s, d), k=k,
            strategy=strategy, beam=beam, round_digits=ROUND,
        )
    return run


def _mk_bq_knn_join(strategy: str, k: int, n_queries: int, shortlist: int | None):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        queries_df = load_embeddings(spark, sf_dir).filter(
            F.col("vec_id") < n_queries
        ).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        return bq_mod.bq_knn_join(
            spark, _bq_index(spark, sf_dir), _vectors(spark, sf_dir), queries_df,
            k=k, strategy=strategy, shortlist=shortlist, round_digits=ROUND,
        )

    return run


PQ_M = 8
_PQ_PARAMS = {"m": PQ_M, "nbits": 8, "normalize": True}


def _pq_index(spark: SparkSession, sf_dir: str):
    return persisted("pq", sf_dir, _PQ_PARAMS, partial(
        pq_mod.build_pq_index, spark, _vectors(spark, sf_dir), **_PQ_PARAMS
    ), pq_mod.load_pq_index)


def _nb_scored_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_memo(spark, "nb_scored", sf_dir, {}, lambda: (
        classify_mod.nb_classify_docs(spark, sf_dir).localCheckpoint(eager=True)
    ))


def _opq_index(spark: SparkSession, sf_dir: str):
    return persisted("opq", sf_dir, _PQ_PARAMS, partial(
        opq_mod.build_opq_index, spark, _vectors(spark, sf_dir), **_PQ_PARAMS
    ), opq_mod.load_opq_index)


def _mk_pq_adc(strategy: str, k: int):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _pq_index(spark, sf_dir).shortlist(
            spark, _query_vec(spark, sf_dir), k, strategy
        )

    return run


def _mk_pq_knn_join(strategy: str, k: int, n_queries: int):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        queries_df = load_embeddings(spark, sf_dir).filter(
            F.col("vec_id") < n_queries
        ).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        return pq_mod.pq_knn_join(
            spark, _pq_index(spark, sf_dir), queries_df, k=k, strategy=strategy
        )

    return run


def _ivfpq_index(spark: SparkSession, sf_dir: str):
    ivf_idx = _ivf_index(spark, sf_dir)
    return persisted("ivfpq", sf_dir, {**_PQ_PARAMS, "ivf": ivf_idx.path}, partial(
        pq_mod.build_ivfpq_index, spark, ivf_idx, **_PQ_PARAMS
    ), pq_mod.load_pq_index)


def _ivfopq_index(spark: SparkSession, sf_dir: str):
    ivf_idx = _ivf_index(spark, sf_dir)
    return persisted("ivfopq", sf_dir, {**_PQ_PARAMS, "ivf": ivf_idx.path}, partial(
        opq_mod.build_ivfopq_index, spark, ivf_idx, **_PQ_PARAMS
    ), opq_mod.load_opq_index)


def _mk_codes(layout, shortlist: int | None, width: int | None, round_digits):
    """Top-10 cosine through a code layout's shortlist and the exact
    rerank (``search.shortlist_search``). ``layout(spark, sf_dir)`` is
    the index; ``shortlist=None`` keeps every row. ``width`` set routes
    through ``_ivf_index``'s nearest clusters (an IVF-composed layout;
    IVF_CLUSTERS = full width); None reranks the flat store vectors."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        ivf_idx = None if width is None else _ivf_index(spark, sf_dir)
        return shortlist_search(
            spark, layout(spark, sf_dir),
            _vectors(spark, sf_dir) if ivf_idx is None else None,
            _query_vec(spark, sf_dir), k=10, strategy="CosineSimilarity",
            shortlist=shortlist, round_digits=round_digits,
            ivf_index=ivf_idx, search_top_size=width,
        )

    return run


def _prefixdim_rerank_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ydb_vector_search_simple_api_spark.operators.search import (
        prefix_dim_search_rerank,
    )

    embs = _vectors(spark, sf_dir)
    return prefix_dim_search_rerank(
        spark, embs, _query_vec(spark, sf_dir), k=10,
        strategy="CosineSimilarity", prefix_dims=16,
        shortlist=embs.count(), round_digits=ROUND,
    )


GANN_M = 8


def _gann_index(spark: SparkSession, sf_dir: str) -> gann_mod.GraphAnnIndex:
    return persisted("gann", sf_dir, {"m": GANN_M}, partial(
        gann_mod.build_knn_graph, spark, _vectors(spark, sf_dir), m=GANN_M
    ), gann_mod.load_graph_index)


KMT_L1 = 4
KMT_FANOUT = 4


def _kmt_index(spark: SparkSession, sf_dir: str) -> kmt.KmeansTreeIndex:
    params = {"n_l1": KMT_L1, "fanout": KMT_FANOUT, "seed": 42}
    return persisted("kmt", sf_dir, params, partial(
        kmt.build_kmeans_tree, spark, _vectors(spark, sf_dir), **params
    ), kmt.load_kmeans_tree)


def _mk_tree_knn_join(strategy: str, k: int, n_queries: int, width: int | None):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        idx = _kmt_index(spark, sf_dir)
        queries_df = load_embeddings(spark, sf_dir).filter(
            F.col("vec_id") < n_queries
        ).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        return kmt.tree_knn_join_distributed(
            spark, idx, queries_df, k=k, strategy=strategy,
            search_top_size=width, round_digits=ROUND,
        )

    return run


def _mk_tree(strategy: str, k: int, width: int | None):
    """width=None -> full width both levels (exact, strong oracle)."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        idx = _kmt_index(spark, sf_dir)
        return kmt.tree_search(
            spark, idx, _query_vec(spark, sf_dir), k=k, strategy=strategy,
            search_top_size=width, round_digits=ROUND,
        )

    return run


def _mk_ivf_filtered(strategy: str, k: int, filter: dict, width: int | None = None):
    """Non-strict filtered ANN (config.py strict_filter_index_exclusion
    =False): filter semi-joined into the pruned candidates before
    scoring. width=None -> full width, so == exact filtered search
    (strong oracle)."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ydb_vector_search_simple_api_spark.operators.search import (
            filtered_doc_ids,
        )

        idx = _ivf_index(spark, sf_dir)
        flt_ids = filtered_doc_ids(spark, sf_dir, filter)
        return ivf.ivf_search(
            spark, idx, _query_vec(spark, sf_dir), k=k, strategy=strategy,
            search_top_size=width or idx.n_clusters, round_digits=ROUND,
            filter_ids=flt_ids,
        )

    return run


def _mk_ivf_knn_join_filtered(
    strategy: str, k: int, n_queries: int, filter: dict, width: int | None = None
):
    """Filtered batch ANN join (distributed routing): neighbors only
    among corpus rows passing the filter. width=None -> full width, so
    == filtered exact knn_join (strong oracle)."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ydb_vector_search_simple_api_spark.operators.search import (
            filtered_doc_ids,
        )

        idx = _ivf_index(spark, sf_dir)
        flt_ids = filtered_doc_ids(spark, sf_dir, filter)
        queries_df = load_embeddings(spark, sf_dir).filter(
            F.col("vec_id") < n_queries
        ).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        return ivf.ivf_knn_join_distributed(
            spark, idx, queries_df, k=k, strategy=strategy,
            search_top_size=width or idx.n_clusters, round_digits=ROUND,
            filter_ids=flt_ids,
        )

    return run


def _mk_tree_filtered(strategy: str, k: int, filter: dict, width: int | None = None):
    """Filtered ANN through the two-level tree (same non-strict
    contract as _mk_ivf_filtered); width=None -> full width == exact."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ydb_vector_search_simple_api_spark.operators.search import (
            filtered_doc_ids,
        )

        idx = _kmt_index(spark, sf_dir)
        flt_ids = filtered_doc_ids(spark, sf_dir, filter)
        return kmt.tree_search(
            spark, idx, _query_vec(spark, sf_dir), k=k, strategy=strategy,
            search_top_size=width, round_digits=ROUND, filter_ids=flt_ids,
        )

    return run


def _mk_gann_filtered(strategy: str, k: int, filter: dict, beam: int | None = None):
    """Filtered serving through the graph-ANN shape (same non-strict
    contract as _mk_ivf_filtered/_mk_tree_filtered: the filter
    semi-joins the traversal's candidates before the exact re-rank);
    beam=None -> whole-graph traversal == exact filtered search."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ydb_vector_search_simple_api_spark.operators.search import (
            filtered_doc_ids,
        )

        return gann_mod.graphann_search(
            spark, _gann_index(spark, sf_dir), _vectors(spark, sf_dir),
            _query_vec(spark, sf_dir), k=k,
            strategy=strategy, beam=beam, round_digits=ROUND,
            filter_ids=filtered_doc_ids(spark, sf_dir, filter),
        )

    return run


def _mk_topk(strategy: str, k: int, filter: dict | None = None):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return exact_search(
            spark, sf_dir, _query_vec(spark, sf_dir), k=k,
            strategy=strategy, filter=filter, round_digits=ROUND,
        )

    return run


def _sql_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """chunk_documents through the SQL table-function surface."""
    from ydb_vector_search_simple_api_spark import sql_surface

    sql_surface.register_table_functions(spark)
    load_documents(spark, sf_dir).createOrReplaceTempView("documents_sqlsurf")
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_id, c.chunk_text, c.n_chunk_tokens
        FROM documents_sqlsurf d, LATERAL chunk_text(d.text, 64, 48) c
        """
    )


def _mk_sql_topk_narrow(strategy: str, k: int, filter: dict | None = None):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ydb_vector_search_simple_api_spark import sql_surface

        return sql_surface.sql_search_narrow(
            spark, sf_dir, _query_vec(spark, sf_dir), k=k,
            strategy=strategy, filter=filter, round_digits=ROUND,
        )

    return run


def _mk_sql_topk(strategy: str, k: int, filter: dict | None = None):
    """Top-k through the SQL-string surface (sql_surface.py): same
    oracle family as the library-path topk entries."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ydb_vector_search_simple_api_spark import sql_surface

        return sql_surface.sql_search(
            spark, sf_dir, _query_vec(spark, sf_dir), k=k,
            strategy=strategy, filter=filter, round_digits=ROUND,
        )

    return run


def _mk_knn_join(strategy: str, k: int, n_queries: int):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        embs = load_embeddings(spark, sf_dir)
        queries_df = embs.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        corpus = embs.select(F.col("vec_id").alias("id"), "embedding")
        return knn_join(
            spark, queries_df, corpus, k=k, strategy=strategy, round_digits=ROUND
        )

    return run


def _mk_knn_join_blocked(strategy: str, k: int, n_queries: int):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ydb_vector_search_simple_api_spark.operators.search import knn_join_blocked

        embs = load_embeddings(spark, sf_dir)
        queries_df = embs.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        corpus = embs.select(F.col("vec_id").alias("id"), "embedding")
        return knn_join_blocked(spark, queries_df, corpus, k=k, strategy=strategy)

    return run


def _mk_ivf_knn_join(strategy: str, k: int, n_queries: int, width: int | None):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        idx = _ivf_index(spark, sf_dir)
        embs = load_embeddings(spark, sf_dir)
        queries_df = embs.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        return ivf.ivf_knn_join(
            spark, idx, queries_df, k=k, strategy=strategy,
            search_top_size=width or idx.n_clusters, round_digits=ROUND,
        )

    return run


def _mk_ivf(strategy: str, k: int, width: int | None):
    """width=None -> full width (all clusters; exact, strong oracle)."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        idx = _ivf_index(spark, sf_dir)
        return ivf.ivf_search(
            spark, idx, _query_vec(spark, sf_dir), k=k, strategy=strategy,
            search_top_size=width or idx.n_clusters, round_digits=ROUND,
        )

    return run


# ---------------------------------------------------------------- contract

_STRAT_KEY = {
    "CosineSimilarity": "cosine",
    "InnerProductSimilarity": "inner_product",
    "CosineDistance": "cosine_distance",
    "EuclideanDistance": "euclidean",
    "ManhattanDistance": "manhattan",
}


def _embed_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate-friendly scalar shape: the embedding array itself is not
    sortable by the driver's canonicalizer, so emit its dimension, L2
    norm and a content digest (stable scalars) instead of the raw
    array. Rows-only check: the md5-seeded fake embedder has no SQL
    twin; the plumbing is pinned in tests/test_api.py."""
    from ydb_vector_search_simple_api_spark.operators import enrich

    docs = load_documents(spark, sf_dir).select("doc_id", "text")
    out = enrich.embed_column(docs, text_col="text", out_col="embedding", dim=32)
    norm = F.sqrt(
        F.aggregate(
            F.col("embedding"),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    return out.select(
        "doc_id",
        F.size("embedding").alias("dim"),
        (F.round(norm, 6) + F.lit(0.0)).alias("emb_norm"),
        F.md5(F.to_json(F.struct("embedding"))).alias("emb_md5"),
    )


def _mk_tree_knn_join_routed(strategy: str, k: int, n_queries: int):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        idx = _kmt_index(spark, sf_dir)
        embs = load_embeddings(spark, sf_dir)
        queries_df = embs.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        return kmt.tree_knn_join_routed_blocked(
            spark, idx, queries_df, k=k, strategy=strategy
        )

    return run


def _mk_ivf_knn_join_routed(strategy: str, k: int, n_queries: int):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        idx = _ivf_index(spark, sf_dir)
        embs = load_embeddings(spark, sf_dir)
        queries_df = embs.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        return ivf.ivf_knn_join_routed_blocked(
            spark, idx, queries_df, k=k, strategy=strategy,
            search_top_size=idx.n_clusters,
        )

    return run


def _mk_ivf_knn_join_dist(strategy: str, k: int, n_queries: int, width: int | None):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        idx = _ivf_index(spark, sf_dir)
        embs = load_embeddings(spark, sf_dir)
        queries_df = embs.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        return ivf.ivf_knn_join_distributed(
            spark, idx, queries_df, k=k, strategy=strategy,
            search_top_size=width or idx.n_clusters, round_digits=ROUND,
        )

    return run



def _embedding_pca_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate wrapper: pca_project with the k=8 component array
    flattened to scalar columns (driver canonicalization sorts rows
    by every column and cannot order array cells)."""
    k = 8
    out = embstats_mod.pca_project(spark, sf_dir, n_components=k)
    return out.select(
        "vec_id",
        *[F.col("proj")[i].alias(f"proj_{i}") for i in range(k)],
    )


def _ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only gate entry: recall@10 of the pruned IVF widths
    against exact cosine over 8 stored queries — the knob contract
    (README's measured table) as a machine-checked surface. Fully
    batch-shaped: ONE exact kNN join + one pruned ivf_knn_join per
    width; recall is a Spark-side semi-join count (no per-query
    driver loop)."""
    from ydb_vector_search_simple_api_spark.operators.search import knn_join

    idx = _ivf_index(spark, sf_dir)
    k, n_q = 10, 8
    embs = load_embeddings(spark, sf_dir)
    queries_df = embs.filter(F.col("vec_id") < n_q).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    corpus = embs.select(F.col("vec_id").alias("id"), "embedding")
    exact = (
        knn_join(spark, queries_df, corpus, k=k, strategy="CosineSimilarity",
                 round_digits=ROUND)
        .select("query_id", "id")
        .localCheckpoint(eager=True)
    )
    def _one(width: int) -> tuple[int, float]:
        got = ivf.ivf_knn_join(
            spark, idx, queries_df, k=k, strategy="CosineSimilarity",
            search_top_size=width, round_digits=ROUND,
        ).select("query_id", "id")
        hits = got.join(exact, ["query_id", "id"], "left_semi").count()
        return (int(width), round(hits / float(k * n_q), 6))

    # the width probes are independent reads of the exact checkpoint
    # and the session's index
    out = list(run_branches(spark, {
        f"ann-recall/width-{w}": partial(_one, w)
        for w in (1, 2, 4, idx.n_clusters)
    }).values())
    return spark.createDataFrame(out, "width int, recall double")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Ordering contract: the driver checks the FIRST 50 entries.
    Positions 1-50 hold one oracle-backed query per distinct operator;
    positions 51+ hold (a) oracle-backed entries whose operator class
    is already exercised by an in-cap sibling (still validated by the
    full-suite replica ``tools/check_oracle.py``), then (b) rows-only
    entries with no SQL twin, covered by pytest."""
    from ydb_vector_search_simple_api_spark.operators import asof, stats, temporal

    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # ============ oracle-backed entries (hash-match gate) ============
    # O1/O4/O5/O8/O9: exact top-k; the other four strategy twins ride
    # the overflow window (same code path, same oracle family — checked
    # by tools/check_oracle.py)
    q["topk_cosine"] = _mk_topk("CosineSimilarity", k=10)
    # O6: conjunctive equality filter (vendor == lang column)
    q["topk_cosine_filtered"] = _mk_topk(
        "CosineSimilarity", k=10, filter={"vendor": "fr"}
    )
    # O6+O2: non-strict filtered ANN — the filter applied AFTER cluster
    # pruning (config.py strict_filter_index_exclusion=False contract);
    # full width => == exact filtered search
    q["topk_cosine_filtered_ivf"] = _mk_ivf_filtered(
        "CosineSimilarity", k=10, filter={"vendor": "fr"}, width=None
    )
    # batch kNN join (extension: similarity search at scale)
    q["knn_join_cosine"] = _mk_knn_join("CosineSimilarity", k=5, n_queries=8)
    # distributed-assignment ANN join at full width == exact (no driver
    # collect of the query side); same oracle as knn_join
    q["ivf_knn_join_dist"] = _mk_ivf_knn_join_dist("CosineSimilarity", k=5, n_queries=8, width=None)
    # O2/O3: two-level k-means tree (YDB vector_kmeans_tree shape,
    # reference app.py:186-196) at full width == exact
    q["kmeans_tree_full"] = _mk_tree("CosineSimilarity", k=10, width=None)

    # ---- north-star extensions: text analysis over documents
    # unicode-script triage (per-script char counts + dominant-script
    # router)
    q["script_profile"] = textual.script_profile
    q["quality_filter"] = textual.quality_filter
    # served-from-postings BM25 (the persisted lexical index path)
    q["bm25_topk_indexed"] = lambda s, d: ranking_mod.bm25_topk_indexed(
        s, _lex_index(s, d), k=10
    )
    # the FULL-shape snapshot loop: every opt-in stage (embedding-cosine
    # screen, CCNet line evidence, FineWeb production gate) in ONE
    # hash-checked CTE chain. Threshold 0.42 sits between the corpus's
    # p90 and p99 max-cosines (5/54 rejected, 11 admitted at sf0.01),
    # so the semantic screen is never degenerate
    q["snapshot_loop_full"] = lambda s, d: pipeline_mod.incremental_snapshot_loop(
        s, d, semantic_threshold=0.42, line_screen=True,
        quality_gate="production",
    )
    # the quantified leakage audit (cross-fence near-dup pair counts per
    # split policy)
    q["split_leakage_audit"] = curation.split_leakage_audit
    # Misra-Gries heavy-hitter top-k (mergeable per-partition summaries
    # -> broadcast candidate semi-join -> exact count;
    # vocabulary-size-independent shuffle)
    q["heavy_hitters_topk"] = lambda s, d: textual.heavy_hitters_topk(s, d, k=25)
    # MODIFIED KN — the KenLM default (per-level D1/D2/D3+ from
    # count-of-counts, count-class discount selection)
    q["kneser_ney5_modified"] = textual.mkn5_scores_cached

    # ---- dedup family (exact forms)
    # prefix-filtering similarity self-join (SSJoin/PPJoin; LOSSLESS,
    # carries the exact n-gram Jaccard oracle)
    q["dedup_ngram_prefix"] = lambda s, d: dedup.ngram_jaccard_prefix_pairs(
        load_documents(s, d), n=3, threshold=0.8
    )
    # corpus snapshot diff (added/removed/changed via narrow digest
    # projections + one full-outer join)
    q["snapshot_diff"] = curation.snapshot_diff_documents
    # the fence-calibration SWEEP — flagged pair/doc counts per (n-gram
    # order, containment threshold) config, the artifact the fence
    # constant is CHOSEN from
    q["decontamination_sweep"] = curation.decontamination_sweep
    # WEIGHTED TF-IDF cosine near-dup pairs (idf crushes boilerplate
    # shingles — the score set Jaccard can't express)
    q["tfidf_cosine_pairs"] = lambda s, d: sparse_sim_mod.tfidf_cosine_pairs(
        load_documents(s, d), n=3, threshold=0.6
    )
    # DSIR: hashed-n-gram importance weights vs the English target slice
    # + Gumbel top-k weighted sample without replacement (Xie et al.
    # 2023)
    q["dsir_select"] = dsir_mod.dsir_select

    # ---- corpus curation (operators/curation.py)
    # CHARACTER-grain exact-substring dedup (Lee et al. 2022 unit below
    # token grain, raw text, no tokenizer)
    q["duplicate_char_spans"] = lambda s, d: dedup.duplicate_char_spans(
        load_documents(s, d)
    )
    # the production ABLATION FUNNEL — per-stage doc/token retention
    # through the named production gates (c4, KN5 tiles, dedup election,
    # decontam), the per-release artifact a pipeline owner publishes
    q["production_funnel"] = curation.production_funnel
    # the LOSSLESS AllPairs prefix-indexed weighted-cosine twin at the
    # near-dup threshold (shares the exact form's oracle)
    q["tfidf_cosine_prefix"] = lambda s, d: sparse_sim_mod.tfidf_cosine_prefix_pairs(
        load_documents(s, d), n=3, threshold=0.9
    )
    # Gopher-style repetition quality signals
    q["repetition_signals"] = curation.repetition_signals
    # OPQ learned-rotation PQ (Ge et al. 2013) at full shortlist ==
    # exact
    q["opq_rerank_full"] = _mk_codes(_opq_index, None, None, ROUND)
    # stream-stream interval join (purchases x trailing clicks, both
    # sides watermarked => evictable join state)
    q["stream_interval_join"] = lambda s, d: streaming_events.purchase_click_interval_join_stream(
        s, d, lookback_sql="INTERVAL 6 HOUR"
    )
    # SCD-2 dimension history (validity intervals from the event stream;
    # run-compression before the versions window, no single-partition
    # exchange)
    q["scd2_history"] = temporal.scd2_history
    # leakage-safe split: hash of the near-dup COMPONENT, so
    # near-duplicates can never straddle the train/test fence
    q["leakage_safe_splits"] = curation.leakage_safe_splits
    # sorted-neighborhood blocking (the third blocking family; parallel
    # rank decomposition, lossless verify screens)
    q["sorted_neighborhood"] = lambda s, d: blocking_mod.sorted_neighborhood_pairs(
        load_documents(s, d)
    )
    # the training-mix manifest (per-(split, source) doc/token mass +
    # shares over the production-admitted set)
    q["production_mix_report"] = pipeline_mod.production_mix_report
    # Lloyd's k-means with the TRAINING LOOP oracle-backed
    # (sequential-fold assignment, DECIMAL-mean centroid updates; the
    # twin unrolls the iterations)
    q["kmeans_lloyd"] = lambda s, d: clustering_mod.kmeans_lloyd(s, d)

    # ---- multimodal payload metadata (the byte-hist digest twin rides
    # the overflow window — same attach_payload + Arrow-batch family)
    q["multimodal_meta"] = multimodal.multimodal_meta

    # streaming decontamination on arrival (per-batch containment vs
    # the static benchmark; drained == batch bit-for-bit)
    q["stream_decontaminate"] = lambda s, d: streaming_curing.stream_decontaminate_ingest(
        s, d
    )
    # large-star/small-star components (Kiveris et al. — O(log² n)
    # rounds regardless of graph diameter; identical output => shares
    # the dedup_components oracle verbatim)
    q["dedup_components_twostar"] = lambda s, d: graph_mod.connected_components_twostar(
        dedup.ngram_jaccard_pairs(load_documents(s, d), n=3, threshold=0.8)
    )
    # Snorkel-style label model (per-rule accuracy from majority
    # agreement, ROUND(ln,9) log-odds per RULE, a DECIMAL-folded
    # weighted revote)
    q["label_model"] = textual.label_model
    # retrieval-quality metrics (per-query precision/recall/MRR/nDCG@k
    # under shared-label relevance; rank weights inlined as identical
    # 9-digit literals on both engines)
    q["retrieval_quality"] = lambda s, d: retmetrics_mod.retrieval_quality(
        s, d, k=10, n_queries=16
    )

    # ---- relational coverage (joins/agg/window/rollup/anti/semi)
    # KMV pairwise audience overlap (the set algebra HLL cannot do;
    # unsaturated regime provably exact)
    q["kmv_user_overlap"] = lambda s, d: kmv_mod.kmv_user_overlap(s, d)
    # PSI distribution-drift score (Laplace-smoothed exact-integer
    # shares, decimal-summed terms)
    q["psi_drift"] = stats.psi_drift
    # the expectations framework instantiated on the EVENTS table
    # (stream-shaped invariants)
    q["expectations_events"] = expectations_mod.expectations_report_events
    # CCNet-style corpus-wide duplicated-LINE removal (the boilerplate
    # filter — the line-grain op needing the corpus-wide aggregate)
    q["line_dedup"] = textual.line_dedup
    # TPC-H Q20 (the last missing TPC-H shape; observed bridge +
    # deterministic availqty, TESTDATA.md)
    q["excess_supply_suppliers"] = relational.excess_supply_suppliers
    # LSH banding-calibration report (the dedup family's
    # parameter-tuning lens — even the banding's approximation error is
    # oracle-checked through the md5 signature)
    q["lsh_calibration"] = lambda s, d: dedup.lsh_calibration_report(s, d)
    # power-iteration PC1 (normalize(C·v) over the shared DECIMAL
    # covariance cells — the iterative-algorithm flagship, all rounds
    # oracle-unrolled)
    q["power_iteration_pc1"] = lambda s, d: embstats_mod.power_iteration_pc1(s, d)
    # exact-match phrase search (consecutive-token occurrences via one
    # per-doc array lambda inside codegen — the zero-Exchange plan
    # showcase, PLANS.md §phrase_search)
    q["phrase_search"] = lambda s, d: ranking_mod.phrase_search(s, d)
    # the SQL-string query surface: the reference's YQL template twin
    # (app.py:165-227) through Spark 4 SQL scalar UDFs (knn_* namespace)
    # + parameterized spark.sql binding — result-identical to the
    # library path, distinct execution surface (sql_surface.py)
    q["sql_topk_cosine"] = _mk_sql_topk("CosineSimilarity", k=10)
    # the IVF-multi-probe blocked SemDeDup (the scale path now executed
    # by the gate; bit-identical election => shares the exact oracle)
    q["semantic_dedup_blocked"] = lambda s, d: curation.semantic_dedup_blocked(
        s, d, centroids=_ivf_index(s, d).centroids.tolist(), probes=3
    )
    # FILTERED serving through the graph-ANN shape (non-strict filter
    # lift; full beam == exact filtered)
    q["topk_cosine_filtered_gann"] = _mk_gann_filtered(
        "CosineSimilarity", k=10, filter={"vendor": "fr"}, beam=None
    )
    # WET/WARC archive round-trip (codegen writer -> lineSep
    # record-split reader; equality proves writer and distributed parser
    # are exact inverses)
    q["wet_roundtrip"] = lambda s, d: warc_mod.wet_roundtrip(s, d)
    # logreg reliability/calibration bins on the holdout (the read
    # before model scores become admission probabilities; bucketed
    # exact-integer counts, DECIMAL mean scores)
    q["logreg_calibration"] = lambda s, d: logreg_mod.logreg_calibration(s, d)
    # ---- distribution stats + set-op cohorts
    # the trained model-based filter (hashed-BoW logistic regression;
    # the whole GD loop engine-exact and oracle-unrolled)
    q["logreg_report"] = lambda s, d: logreg_mod.logreg_report(s, d)
    # per-domain doc/token caps (deterministic md5 admission over the
    # URL host — the first web-corpus curation step; salted local
    # top-cap pre-filter)
    q["domain_caps"] = lambda s, d: web_mod.domain_caps(s, d)
    # two-sample KS drift (rank-based, binning-free second opinion
    # beside psi_drift; exact-integer cumulative counts decomposed over
    # value buckets — no single-partition sort)
    q["ks_drift"] = lambda s, d: stats.ks_drift(s, d)
    # vector aggregation: per-label centroid (decimal-exact mean)
    q["label_centroids"] = curation.label_centroids
    q["orders_rollup"] = relational.orders_rollup
    q["repeat_customers"] = relational.repeat_customers
    q["user_event_pivot"] = relational.user_event_pivot
    q["props_k_stats"] = stats.props_k_stats
    q["events_distinct_pairs"] = streaming_events.distinct_user_event_pairs_stream
    q["session_rollup"] = streaming_sessions.session_rollup_batch
    q["pricing_summary"] = relational.pricing_summary
    q["revenue_by_nation"] = relational.revenue_by_nation
    q["top_customers_per_nation"] = relational.top_customers_per_nation
    q["histogram_quantiles"] = stats.histogram_quantiles

    # ======== oracle-backed overflow (past the driver's 50-entry cap;
    # each has an in-cap sibling exercising the same operator, and all
    # are validated by tools/check_oracle.py) ========================
    # same O5 code path and oracle family, remaining four strategies
    q["topk_inner_product"] = _mk_topk("InnerProductSimilarity", k=10)
    q["topk_cosine_distance"] = _mk_topk("CosineDistance", k=10)
    q["topk_euclidean"] = _mk_topk("EuclideanDistance", k=10)
    q["topk_manhattan"] = _mk_topk("ManhattanDistance", k=10)
    # standalone token-budget packing
    q["pack_chunks"] = curation.pack_chunks
    # same deterministic md5-threshold sampling family;
    # language-stratified rates
    q["stratified_sample"] = curation.stratified_sample_stats
    # importance sampling: keep-probability = quality^2 via the
    # exact-integer md5 rule
    q["quality_weighted_sample"] = sampling.quality_weighted_sample
    # training-mix control: relative token shares via the exact-integer
    # md5 admission rule — curation.mixture_resample
    q["mixture_resample"] = curation.mixture_resample
    # same attach_payload + Arrow family; hex-nibble oracle reproduces
    # the NumPy bin counts exactly
    q["multimodal_byte_hist"] = lambda s, d: multimodal.byte_histogram_digests(
        multimodal.attach_payload(load_documents(s, d))
    )
    # set-op + conditional-agg family over the events table
    q["retention_cohorts"] = stats.retention_cohorts
    # same non-strict filtered-ANN contract routed through the two-level
    # tree; full width == exact
    q["topk_cosine_filtered_tree"] = _mk_tree_filtered(
        "CosineSimilarity", k=10, filter={"vendor": "fr"}, width=None
    )
    # the filtered BATCH ANN join: corpus restricted to the filter's id
    # set before the assignment join; full width == filtered knn_join
    q["ivf_knn_join_filtered"] = _mk_ivf_knn_join_filtered(
        "CosineSimilarity", k=5, n_queries=8, filter={"vendor": "fr"}, width=None
    )
    # same full-width == exact oracle; the flat single-level IVF variant
    # of the same index operator
    q["ivf_cosine_full_width"] = _mk_ivf("CosineSimilarity", k=10, width=None)
    # same ANN-join oracle; the driver-side routing variant is the
    # serving path, dist is the batch path
    q["ivf_knn_join_full"] = _mk_ivf_knn_join("CosineSimilarity", k=5, n_queries=8, width=None)
    # same no-driver-collect batch join, routed through the two-level
    # tree; full width == exact
    q["tree_knn_join_full"] = _mk_tree_knn_join("CosineSimilarity", k=5, n_queries=8, width=None)
    # same conjunctive-filter path as topk_cosine_filtered
    q["topk_cosine_filtered2"] = _mk_topk(
        "CosineSimilarity", k=10, filter={"vendor": "de", "title": "src3"}
    )
    # the k=4 default contract, also pinned in tests/test_api.py
    q["topk_cosine_default_k"] = _mk_topk("CosineSimilarity", k=4)
    # EXCEPT vs repeat_customers' INTERSECT, same partial-distinct
    # Expand shape
    q["lapsed_customers"] = relational.lapsed_customers
    # same tokenize+count path as tfidf_top_terms
    q["token_frequencies"] = textual.token_frequencies
    # same md5 content fingerprint as dedup_exact_groups
    q["fingerprints"] = textual.fingerprints
    # aggregates text_stats' columns
    q["lang_profile"] = textual.lang_profile
    # same deterministic-augment + ordered regex-pass family:
    # HTML/entity/case/whitespace normalization
    q["normalize_markup"] = textual.normalize_markup
    # regex extraction over the augmented corpus — the link-inventory
    # primitive
    q["extract_urls"] = textual.extract_urls
    # aggregates document_splits
    q["split_sizes"] = sampling.split_sizes
    # same Expand-based grouping-set agg as orders_rollup
    q["orders_cube"] = relational.orders_cube
    # local-context rolling z-score variant of the same bucket series;
    # exact-integer window sums
    q["bucket_anomalies"] = temporal.bucket_anomalies
    # ordered event-sequence analytics: the
    # signup->view->click->purchase conversion funnel
    q["funnel_conversion"] = temporal.funnel_conversion
    # the unpivot/melt round-trip twin of user_event_pivot
    q["user_event_unpivot"] = relational.user_event_unpivot
    # same SQL-string surface, filtered template branch + filter-value
    # parameter binding
    q["sql_topk_filtered"] = _mk_sql_topk(
        "CosineSimilarity", k=10, filter={"vendor": "fr"}
    )
    # the scale-shaped CTE template: narrow score -> top-k -> metadata
    # join, same plan as the library path
    q["sql_topk_narrow"] = _mk_sql_topk_narrow("CosineSimilarity", k=10)
    # same chunk grid through the SQL surface's Python UDTF — LATERAL
    # chunk_text(...); sql_surface.py
    q["sql_chunk_documents"] = _sql_chunk_documents
    # the extension op through the PURE SQL-string surface with bound
    # term parameters — bit-identical, same oracle
    q["sql_bm25_topk"] = lambda s, d: sql_surface.sql_bm25_topk(
        s, d, ranking_mod.QUERY_TERMS
    )
    # same shortlist->exact-rerank family; this one's first pass is the
    # pure-codegen sign-bit Hamming scan, operators/bq.py — full
    # shortlist == exact
    q["bq_rerank_full"] = _mk_codes(_bq_index, None, None, ROUND)
    # batch join through the sign-bit domain; full shortlist == the
    # exact kNN join
    q["bq_knn_join_full"] = _mk_bq_knn_join(
        "CosineSimilarity", k=5, n_queries=8, shortlist=None
    )
    # composes dedup_exact_groups and chunk_documents: md5-groupBy
    # election at chunk grain
    q["chunk_dedup"] = lambda s, d: dedup.chunk_dedup_stats(s, d)
    # the actionable form: strip everything but the corpus-wide first
    # occurrence, digest the cleaned stream
    q["remove_duplicate_spans"] = lambda s, d: dedup.remove_duplicate_spans(
        load_documents(s, d)
    )
    q["neardup_edit_distance"] = lambda s, d: dedup.neardup_edit_distance(
        load_documents(s, d)
    )
    # the actionable char-grain form: complement-segment fold
    # reassembly, cleaned-stream md5 oracle
    q["remove_duplicate_char_spans"] = lambda s, d: dedup.remove_duplicate_char_spans(
        load_documents(s, d)
    )
    # same per-doc quality-signal family; this one is corpus-statistical
    # rather than surface-form
    q["unigram_logprob"] = textual.unigram_logprob
    # per-doc winnowing digest
    q["winnowing_fingerprints"] = textual.winnowing_digest
    # the sequence-aware bigram step-up of unigram_logprob;
    # session-cached score table (pure function of the corpus files,
    # like store.py's scan cache): perplexity_buckets shares it, so the
    # corpus-sized explode+aggregate runs once per corpus
    q["bigram_logprob"] = textual.bigram_scores_cached
    # embedding-quantization family; int8 symmetric digest beside the PQ
    # codebook path
    q["quantize_embeddings"] = curation.quantize_embeddings
    # same per-query ranked-window kNN shape; adds the broadcast label
    # vote
    q["knn_classify"] = curation.knn_classify
    # contrastive-training prep: top-k nearest with a DIFFERENT label —
    # hard negatives
    q["hard_negatives"] = lambda s, d: curation.hard_negatives(s, d, k=5, n_queries=8)
    # same DISTINCT key-set oracle; this is the bounded-state
    # dropDuplicatesWithinWatermark variant
    q["events_distinct_wm"] = streaming_events.distinct_pairs_within_watermark_stream
    # streaming query SERVING: checkpointed query-shard stream ->
    # foreachBatch distributed ANN join -> results table; drained ==
    # exact batch kNN join, so it carries a full SQL oracle —
    # streaming/serve.py
    q["knn_serve_stream"] = lambda s, d: streaming_serve.knn_serve_stream(
        s, d, k=5, n_queries=8
    )

    # TPC-H Q3 shape: date-bounded star join with broadcast dims +
    # TakeOrdered
    q["shipping_priority"] = relational.shipping_priority
    # TPC-H Q10 shape: returns-loss ranking with the customer dimension
    # broadcast
    q["returned_items"] = relational.returned_items
    # TPC-H Q9 shape: five-way join, every dimension broadcast, yearly
    # profit rollup
    q["supplier_profit"] = relational.supplier_profit
    # TPC-H Q12: conditional counts after a date-pruned fact⋈orders join
    q["shipmode_priority"] = relational.shipmode_priority
    # TPC-H Q14: conditional revenue ratio
    q["promo_revenue_share"] = relational.promo_revenue_share
    # TPC-H Q2 shape: correlated min decorrelated into one window over
    # the aggregated table
    q["cheapest_supplier_per_part"] = relational.cheapest_supplier_per_part
    # TPC-H Q4 shape: EXISTS as a left-semi join, both predicates pushed
    q["priority_with_returns"] = relational.priority_with_returns
    # TPC-H Q11 shape: HAVING vs a broadcast scalar subquery
    q["important_parts"] = relational.important_parts
    # TPC-H Q15 shape: revenue view + scalar max equality on
    # decimal-summed doubles
    q["top_supplier_revenue"] = relational.top_supplier_revenue
    # TPC-H Q18 shape: HAVING on the grouped fact first, dimensions
    # joined only for qualifying orders
    q["large_volume_customers"] = relational.large_volume_customers
    # TPC-H Q22 shape: scalar-avg subquery + anti join + rollup; nation
    # keys the group — the testdata has no phone column
    q["idle_high_balance_customers"] = relational.idle_high_balance_customers
    # TPC-H Q6 shape: join-free what-if filter-aggregate, all predicates
    # pushed to the scan
    q["forecast_revenue_change"] = relational.forecast_revenue_change
    # TPC-H Q7 shape: bilateral supplier-nation × customer-nation trade
    # volume by year
    q["volume_shipping"] = relational.volume_shipping
    # TPC-H Q8 shape: conditional-sum / total-sum market-share ratio in
    # one aggregation pass
    q["national_market_share"] = relational.national_market_share
    # TPC-H Q13 shape: left join keeps zero-order customers, double
    # aggregation histogram
    q["customer_order_distribution"] = relational.customer_order_distribution
    # TPC-H Q17 shape: correlated per-part AVG decorrelated into an
    # aggregate joined back to the fact
    q["small_quantity_revenue"] = relational.small_quantity_revenue
    # TPC-H Q19 shape: OR of AND-group branches across the part ⋈
    # lineitem join
    q["disjunctive_branch_revenue"] = relational.disjunctive_branch_revenue
    # TPC-H Q21 shape: the EXISTS / NOT-EXISTS self-join pair collapsed
    # into one groupBy(orderkey) pass — see the docstring's 100 TB
    # argument
    q["waiting_suppliers"] = relational.waiting_suppliers
    # TPC-H Q16 shape: distinct-count over the OBSERVED part-supplier
    # bridge with NOT IN exclusions — no partsupp table in this schema
    q["parts_supplier_relationship"] = relational.parts_supplier_relationship
    # NOT EXISTS anti-join shape
    q["customers_without_orders"] = relational.customers_without_orders
    # gap-filled trailing moving average over the calendar grid
    q["revenue_moving_avg"] = relational.revenue_moving_avg
    # pre-join sanity: per-side keys, coverage and actual join
    # cardinality
    q["join_cardinality_report"] = relational.join_cardinality_report
    # growth reporting: weekly revenue with lag-based percent change
    q["revenue_wow_change"] = relational.revenue_wow_change
    # temporal data-quality drift: null rates first half vs second half
    # per probed column
    q["null_rate_drift"] = stats.null_rate_drift
    # ordered event-sequence analytics: first-order Markov transition
    # probabilities per event type
    q["event_transitions"] = temporal.event_transitions
    # surface-form readability scoring — Flesch proxy, pure codegen
    # projection
    q["readability"] = textual.readability
    # same tokenize+classify family as text_stats
    q["lang_id"] = textual.lang_id_pred
    q["token_budget"] = textual.token_budget
    # the per-epoch reproducible global shuffle: md5(doc:epoch) mod
    # n_shards, balance audit shape
    q["epoch_shards"] = sampling.epoch_shards
    # deterministic per-group inspection sample via md5-draw rank
    q["per_source_examples"] = sampling.per_source_examples
    # BPE tokenizer training step 1: adjacent char-pair frequencies
    # inside tokens
    q["bpe_pair_counts"] = textual.bpe_pair_counts
    # heavy-hitter share report on the shuffle key — the pre-salting
    # skew diagnosis
    q["key_skew_report"] = lambda s, d: skew_mod.key_skew_report(s, d)
    q["tfidf_top_terms"] = textual.tfidf_top_terms
    # the BM25 ⊕ vector reciprocal-rank fusion
    q["hybrid_rrf"] = lambda s, d: ranking_mod.hybrid_rrf_topk(
        s, d, _query_vec(s, d)
    )
    # CONTINUOUS lexical-index ingest: per-batch postings appends +
    # sealed stats; the streamed generation is bit-identical to the
    # offline build, so querying it carries the full bm25 oracle
    q["stream_lexical_ingest"] = lambda s, d: ranking_mod.bm25_topk_indexed(
        s, streaming_ingest.stream_lexical_ingest(s, d)
    )
    # CONTINUOUS curation: per-micro-batch quality gate +
    # dedup-on-arrival vs the accumulated hash table; drained == the
    # batch first-occurrence election, full SQL oracle —
    # streaming/curation_ingest.py
    q["stream_curation_ingest"] = lambda s, d: streaming_curing.stream_curation_ingest(
        s, d
    )
    # the STREAMING fold of the MG summary: per-batch snapshot state,
    # replay-idempotent; drained candidates are a superset by the
    # mergeable-summaries property, and the exact serving pass
    # reproduces the batch top-k bit for bit -> shares the
    # token-frequency oracle
    q["stream_heavy_hitters"] = lambda s, d: streaming_sketch.stream_heavy_hitters(
        s, d, k=25
    )
    # drift ON ARRIVAL: per-micro-batch PSI vs the static first-half
    # reference window; stateless per batch, batch-id-keyed idempotent
    # sink; drained == per-shard batch recompute pytest-pinned.
    # Rows-only: shard cuts come from a percentile sketch, no SQL twin.
    q["stream_drift_monitor"] = lambda s, d: streaming_sketch.stream_drift_monitor(
        s, d, n_shards=3
    )
    # the MAINTAINED-on-arrival form: first shard builds the store,
    # later shards fold via tdigest_store_upsert — the ivf_upsert ingest
    # pattern; weight conservation + rank accuracy after the drain
    # pinned in tests/test_tdigest.py; rows-only like its batch twin
    q["stream_tdigest_ingest"] = lambda s, d: streaming_sketch.stream_tdigest_ingest(
        s, d, n_shards=3
    )
    # the second applyInPandasWithState operator — session NUMBERING
    # whose (last_ts, n_sessions) state genuinely spans micro-batches
    # via one-shard-per-trigger arrival; drained == batch lag/cumsum
    # sessionization at event grain
    q["user_session_numbers"] = lambda s, d: streaming_sessions.user_session_numbers_stream(
        s, d
    )
    # sliding windows — overlapping size>slide state, vs the tumbling
    # rollup; drained == batch
    q["events_sliding_stream"] = streaming_events.sliding_type_counts_stream
    # STREAM-STATIC join: the event stream enriched with the
    # customer->nation dimension per micro-batch; drained == batch
    # join+rollup
    q["stream_static_enrich"] = streaming_events.enriched_nation_counts_stream
    q["dedup_ngram_jaccard"] = lambda s, d: dedup.ngram_jaccard_pairs(
        load_documents(s, d), n=3, threshold=0.8
    )
    q["sorted_neighborhood_2key"] = lambda s, d: blocking_mod.sorted_neighborhood_multi_key(
        load_documents(s, d)
    )
    q["dedup_minhash_md5"] = lambda s, d: dedup.minhash_lsh_pairs(
        load_documents(s, d), n=3, threshold=0.8, hasher="md5"
    )
    q["export_curated"] = lambda s, d: curation.export_curated(s, d)
    q["graph_stats"] = lambda s, d: graph_mod.graph_stats(s, d)
    q["hourly_locf"] = temporal.hourly_locf
    # two-phase salted groupBy == direct groupBy — the
    # skewed-aggregation rewrite, gate-proven safe
    q["salted_user_rollup"] = lambda s, d: skew_mod.salted_user_rollup(s, d)
    # point-in-time trailing RANGE-frame features per event — no future
    # leakage
    q["user_trailing_features"] = temporal.user_trailing_features
    # column-level ingest-QA profile of a whole table in one scan +
    # unpivot
    q["table_profile"] = lambda s, d: stats.table_profile(s, d)
    q["parts_ordered_by_brand"] = relational.parts_ordered_by_brand
    # metric-drift analytics: closed-form least-squares trend per event
    # type from integer-exact sums
    q["type_value_trends"] = stats.type_value_trends
    # sequence mining: top 3-step event-type paths within 30-min-gap
    # sessions
    q["session_paths"] = temporal.session_paths
    # supervised label generation: purchase-within-horizon after each
    # session — the leak-free propensity training-set shape
    q["session_labels"] = temporal.session_labels
    # weak supervision: regex labeling-function panel, majority vote +
    # agreement diagnostics
    q["weak_labels"] = textual.weak_labels
    # deterministic augmentation: md5-drawn token dropout, digest output
    q["augment_dropout"] = lambda s, d: textual.augment_token_dropout(s, d)
    # dictionary-NER: broadcast gazetteer join onto the token stream,
    # keyed count
    q["gazetteer_entities"] = textual.gazetteer_entities
    # association mining: document-level entity pair support + lift
    q["entity_cooccurrence"] = textual.entity_cooccurrence
    # co-movement: hourly-volume Pearson correlation per type pair from
    # integer-exact sums
    q["type_correlations"] = stats.type_correlations
    # the dataset card: the one-row corpus summary a pipeline publishes
    # with a training set
    q["dataset_card"] = curation.dataset_card
    # corpus-mix cross-tab: language x quality bucket with per-language
    # shares
    q["lang_quality_matrix"] = textual.lang_quality_matrix
    # engagement stickiness: exact DAU / trailing-7-day WAU from the
    # user-day grain
    q["dau_wau"] = stats.dau_wau
    # events_hourly_stream's batch family (diurnal profile)
    q["hour_of_day_profile"] = stats.hour_of_day_profile
    # grouped per-language top-k
    q["top_tokens_per_lang"] = textual.top_tokens_per_lang
    q["value_percentiles"] = stats.value_percentiles
    q["distinct_users_by_type"] = stats.distinct_users_by_type
    # CUPED variance reduction: pre-period covariate adjustment,
    # decimal-exact moments
    q["ab_test_cuped"] = stats.ab_test_cuped
    # self-supervised pair construction: adjacent-chunk positives +
    # prime-shift derangement negatives, ids-only join
    q["contrastive_pairs"] = lambda s, d: curation.contrastive_pairs(s, d)
    q["curated_pack"] = curation.curated_pack
    # calibration: does the quality signal anticorrelate with
    # duplication
    q["quality_vs_dup_rate"] = curation.quality_vs_dup_rate
    # seeded nearest-anchor assignment — pure relational math over the
    # store, so the clustering itself is oracle-checkable;
    # operators/clustering.py
    q["cluster_assign"] = lambda s, d: clustering_mod.cluster_assign(s, d)
    # occupancy + cohesion profile per cluster — the mixture-balancing
    # readout
    q["cluster_profile"] = lambda s, d: clustering_mod.cluster_profile(s, d)
    # class-based c-TF-IDF top terms per cluster — the topic-audit
    # readout
    q["cluster_topics"] = lambda s, d: clustering_mod.cluster_topics(s, d)
    # vector-store ingest QA: per-label norm stats, dimension drift,
    # zero vectors — the pre-index sanity sweep
    q["embedding_qa_report"] = lambda s, d: clustering_mod.embedding_qa_report(s, d)
    # the radius-query twin: every row clearing the score threshold —
    # "all near-duplicates of this item" lookups where k is unknown;
    # codegen predicate, no heap unless bounded
    q["range_search_cosine"] = lambda s, d: search_mod.range_search(
        s, d, _query_vec(s, d), threshold=0.2
    )
    # quality-aware canonical election: keep the BEST duplicate, not the
    # first — the production-default election rule
    q["dedup_best_quality"] = lambda s, d: dedup.best_quality_election(s, d)
    # RAG context assembly: top-k retrieval -> greedy token-budget cut
    # in rank order — the serving step that turns retrieval into an LLM
    # prompt
    q["rag_context"] = lambda s, d: ranking_mod.rag_context(
        s, d, _query_vec(s, d)
    )

    # ============ rows-only entries (no SQL twin; pytest-covered) ====
    # batch embedding enrichment (deterministic fake embedder — the
    # mapInPandas plumbing is the operator); scalar digest shape
    q["embed_documents"] = lambda s, d: _embed_documents(s, d)
    # long-doc pattern: chunk -> embed -> decimal-exact mean-pool back
    # to one vector per doc (numpy-replay pinned in tests)
    q["pool_chunk_embeddings"] = lambda s, d: enrich_mod.pool_chunk_embeddings(
        s, d, dim=32
    )
    # blocked BLAS variant: same results as knn_join, map-side top-k
    # (BLAS summation order differs in the last ulp; equivalence is
    # asserted in tests/test_scale_paths.py)
    q["knn_join_blocked"] = _mk_knn_join_blocked("CosineSimilarity", k=5, n_queries=8)
    # iterative centrality over the near-dup graph (Pregel-style
    # DataFrame loop; numpy replay + regular-graph fixpoint pinned in
    # tests/test_graph.py)
    q["neardup_pagerank"] = lambda s, d: graph_mod.neardup_pagerank(s, d)
    # routed-blocked serving join: pruned cluster dirs x BLAS blocks
    # (equivalence to ivf_knn_join_distributed pinned in
    # tests/test_scale_paths.py; measured 25x in tools/scale_probe.py)
    q["ivf_knn_join_routed"] = _mk_ivf_knn_join_routed("CosineSimilarity", k=5, n_queries=8)
    # the tree twin of the routed-blocked serving join
    q["tree_knn_join_routed"] = _mk_tree_knn_join_routed("CosineSimilarity", k=5, n_queries=8)
    # O2/O3: pruned width (approximate; recall tested in pytest)
    q["ivf_cosine_width2"] = _mk_ivf("CosineSimilarity", k=10, width=2)
    # tree search at per-level width 2 (approximate; recall contract
    # pinned in tests/test_tree.py)
    q["kmeans_tree_width2"] = _mk_tree("CosineSimilarity", k=10, width=2)
    q["ivf_knn_join_width2"] = _mk_ivf_knn_join("CosineSimilarity", k=5, n_queries=8, width=2)
    # approximate dedup (xxhash64 has no DuckDB twin); verified against
    # the exact ops in tests/test_dedup.py
    q["dedup_minhash_lsh"] = lambda s, d: dedup.minhash_lsh_pairs(
        load_documents(s, d), n=3, threshold=0.8
    )
    # ONE-permutation signature, Li/Owen/ Zhang 2012 + Shrivastava/Li
    # densification: one string hash per shingle instead of num_hashes —
    # the signature-stage scale path; same banding, same exact verify;
    # recall/densification pinned in tests/test_dedup.py; xxhash64 =>
    # rows-only like its k-hash twin
    q["dedup_minhash_oph"] = lambda s, d: dedup.oph_lsh_pairs(
        load_documents(s, d), n=3, threshold=0.8
    )
    q["dedup_simhash"] = lambda s, d: dedup.simhash_pairs(
        load_documents(s, d), max_hamming=3
    )
    # cosine LSH (sign-random-projection banding; precision exact by
    # verification, recall vs the exact op pinned in tests/test_dedup.py)
    q["neardup_cosine_lsh"] = lambda s, d: dedup.srp_cosine_pairs(
        load_embeddings(s, d), threshold=0.9, dim=64
    )
    # SemDeDup: one representative per embedding-space component
    q["semantic_dedup"] = curation.semantic_dedup
    # the as-of attribution join
    q["purchase_attribution"] = asof.purchase_attribution
    # per-doc md5 split assignment
    q["document_splits"] = sampling.document_splits
    # 1:N frame fan-out through mapInPandas (binary frames have no SQL
    # twin; invariants pinned in tests/test_multimodal.py)
    q["multimodal_frames"] = lambda s, d: multimodal.sample_frames(
        multimodal.attach_payload(load_documents(s, d))
    ).select("doc_id", "frame_id", "n_frame_bytes")
    # sketch variants (engine-specific estimates; accuracy asserted vs
    # the exact forms in tests/test_temporal_stats.py)
    q["approx_value_percentiles"] = stats.approx_value_percentiles
    q["approx_distinct_users"] = stats.approx_distinct_users
    # the MAINTAINED form: persisted per-(day, type) DataSketches HLL
    # registers, folded on arrival (union = register-wise max:
    # associative, idempotent), per-day answers served by UNIONING
    # stored registers — register equality with the direct sketch,
    # fold==rebuild, and the <=5% accuracy bound all pinned in
    # tests/test_sketch_store.py. Rows-only: binary sketches are
    # engine-specific.
    q["hll_daily_users"] = sketchstore_mod.daily_user_sketches
    # the UNKNOWN-range mergeable quantile rung: persisted t-digest
    # centroid state per event type (Dunning & Ertl merging digest, k1
    # scale), folds need no bin geometry fixed at build time.
    # Deterministic via hash-mod shards + sorted-concat merges (pure
    # function of the data, pinned across partitionings); rank error <3%
    # and n conservation pinned in tests/test_tdigest.py. Rows-only: no
    # engine replays a t-digest.
    q["tdigest_quantiles"] = lambda s, d: tdigest_mod.tdigest_quantiles(s, d)
    # count-min sketch: fixed-memory token frequencies at a tight
    # width vs exact counts (upper-bound + depth-tightens properties
    # pinned in tests/test_temporal_stats.py)
    q["token_cms_accuracy"] = lambda s, d: stats.token_cms_accuracy(
        s, d, width=16, depth=4
    )
    # pure-ADC PQ top-k (approximate by design; recall and the
    # lossless-vocabulary property pinned in tests/test_pq.py)
    q["pq_adc_topk"] = _mk_pq_adc("CosineSimilarity", k=10)
    # IVFADC pruned to 2 of 8 clusters with a 64-candidate rerank
    # (approximate; exactness at full width/rerank and the pruned-plan
    # shape pinned in tests/test_pq.py)
    q["ivfpq_topk_width2"] = _mk_codes(_ivfpq_index, 64, 2, None)
    # sign-bit Hamming shortlist at 1/5 of the corpus, exact rerank
    # (approximate; recall contract pinned in tests/test_bq.py)
    q["bq_topk_shortlist"] = _mk_codes(_bq_index, 100, None, ROUND)
    # IVFxBQ: cluster-directory pruning x 32x bit compression (the BQ
    # analogue of IVFADC; exactness at full width + pruned plan shape
    # pinned in tests/test_bq.py)
    q["ivfbq_topk_width2"] = _mk_codes(_ivfbq_index, 64, 2, ROUND)
    # ntile deciles over the aggregated customer table
    q["customer_revenue_deciles"] = relational.customer_revenue_deciles
    # graph ANN (5th index shape: k-NN graph + beam search). Full beam
    # traverses the ENTIRE graph (visited==n_rows asserted — a live
    # connectivity check) then exact-reranks, so the exact top-k
    # oracle applies; the finite-beam twin's recall-vs-beam curve is
    # pinned in tests/test_graphann.py (no SQL twin for traversal)
    q["graphann_beam32"] = _mk_gann("CosineSimilarity", k=10, beam=32)
    # compressed-domain batch ANN join (ADC estimate scores; recall vs
    # the exact join + determinism pinned in tests/test_pq.py)
    q["pq_knn_join"] = _mk_pq_knn_join("CosineSimilarity", k=5, n_queries=8)
    # end-to-end raster pipeline: generate -> decode -> channel means
    # -> nearest-neighbor thumbnail digest (md5-keystream pixels, no
    # SQL twin; determinism pinned in tests/test_multimodal.py)
    # keyframe/shot-boundary selection over the frame fan-out
    # (histogram-distance lag window; numpy replay + monotone-threshold
    # tests in tests/test_multimodal.py)
    q["multimodal_keyframes"] = lambda s, d: multimodal.multimodal_keyframes(
        s, d, every_n=2
    )
    q["multimodal_raster_stats"] = multimodal.raster_stats
    # the REAL-format sibling: same pixels wrapped as spec-conforming
    # PNG, decoded through decode_image (vendored codec / Pillow) —
    # means equal raster_stats' (lossless), pinned in tests
    q["multimodal_png_stats"] = multimodal.png_stats
    # audio twin: PCM decode -> RMS/zero-crossing -> clip digest
    q["multimodal_pcm_stats"] = multimodal.pcm_stats
    # the SPECTRAL stage: Hann/rfft band energies, dominant band,
    # spectral flatness — the silence/noise filter's features; numpy
    # kernel replay pinned
    q["multimodal_pcm_spectral"] = lambda s, d: multimodal.pcm_spectral(s, d)
    # energy-based audio segmentation (islands over frame RMS; numpy
    # replay + well-formedness in tests/test_multimodal.py)
    q["multimodal_pcm_segments"] = lambda s, d: multimodal.pcm_segments(s, d)
    # MMR diversification of the vector top-pool (greedy loop over the
    # k-bound candidate block is inherently sequential — serving-path
    # contract; selection invariants pinned in tests/test_ranking.py)
    q["mmr_rerank"] = lambda s, d: ranking_mod.mmr_rerank(s, d, _query_vec(s, d))
    # Arrow-vectorized winnowing: numpy rolling hash + stride-tricks
    # sliding minima — the 100 TB fingerprinting path (103 s -> 6.8 s
    # at 1M docs vs the expression form; guarantee + determinism
    # pinned in tests/test_text.py)
    q["winnowing_arrow"] = textual.winnowing_digest_arrow
    # Arrow-fingerprint incremental dedup (production twin of the md5
    # form; cross-variant agreement in tests/test_dedup.py)
    q["incremental_dedup_arrow"] = lambda s, d: dedup.incremental_dedup_arrow(s, d)
    # the default snapshot loop (screen + quality + contamination)
    q["incremental_snapshot_loop"] = pipeline_mod.incremental_snapshot_loop
    # the IVF-ROUTED candidate exchange form of the same stage (the 100
    # TB swap the broadcast docstring promises): existing vectors route
    # once to a home cluster, the delta probes 2 centroids, only
    # same-cluster pairs verify. The routing
    # codebook is the SERVING index's persisted centroids
    # (semantic_index) — no KMeans refit over the existing corpus per
    # snapshot; the stage's cost is purely delta-driven. Rows-only: the
    # blocked max is a documented LOWER BOUND of the exact max
    # (admission-only); the provable endpoint (probes == n_clusters ⇒
    # identical manifest, fit-free with a supplied index) is pinned in
    # tests/test_pipeline.py
    q["snapshot_loop_semantic_blocked"] = (
        lambda s, d: pipeline_mod.incremental_snapshot_loop(
            s, d, semantic_threshold=0.42, semantic_probes=2,
            semantic_index=_ivf_index(s, d),
        )
    )
    # at the PRODUCTION quality gate: the FineWeb-recipe
    # conjunction (C4 line rules AND KN5 perplexity tiles —
    # curate_corpus_production's enforced gates) swapped in for the
    # generic quality score, same manifest schema, same CTE-chain oracle
    # with the quality CTE swapped — the whole modern curation recipe
    # running as ONE incremental loop per crawl snapshot
    q["snapshot_loop_production"] = (
        lambda s, d: pipeline_mod.incremental_snapshot_loop(
            s, d, quality_gate="production"
        )
    )
    # served by the PERSISTED store chain:
    # KN5 model store (built once, count-fold upsertable) -> gate
    # verdict store (built once FROM the model store) -> the loop probes
    # the verdict parquet. Store == recompute at gate scope, so it
    # carries the SAME oracle; per-run gate cost is a 2-column scan +
    # delta join instead of a corpus-wide C4+KN5 pass per snapshot
    q["snapshot_loop_production_store"] = (
        pipeline_mod.snapshot_loop_production_store
    )
    # the MAINTAINED-STATE path: screen against the on-disk
    # fingerprint store (built once, upserted per batch — the
    # ivf_upsert pattern for dedup state); must equal the recompute
    # form, so it shares incremental_dedup's oracle SQL
    q["incremental_dedup_store"] = lambda s, d: dedup.incremental_dedup_store(s, d)
    # snapshot loop with the CCNet boilerplate-LINE stage enabled (round
    # 11): per incoming doc, corpus-hot-line occurrence count +
    # boilerplate-stripped digest join the manifest as
    # evidence/transform columns (admission untouched — CCNet strips
    # lines, keeps docs); oracle = the loop CTE chain + the line_dedup
    # CTEs restricted to incoming
    q["snapshot_loop_line"] = lambda s, d: pipeline_mod.incremental_snapshot_loop(
        s, d, line_screen=True
    )
    # the SEMANTIC-screen loop (the full shape minus the line and
    # production stages)
    q["snapshot_loop_semantic"] = lambda s, d: pipeline_mod.incremental_snapshot_loop(
        s, d, semantic_threshold=0.42
    )
    # the MAINTAINED-STATE path at LINE grain: hot-line counts persist
    # as a parquet store, built
    # incrementally (existing build + incoming upsert — an associative
    # exact count fold), the corpus screens against it; == batch
    # recompute, so it shares line_dedup's oracle
    q["line_dedup_store"] = textual.line_dedup_store
    # ON ARRIVAL — shards fold their line-hash counts into the store per
    # trigger; the drained screen equals batch (threshold-at-read over
    # the folded counts), same oracle
    q["stream_line_dedup"] = lambda s, d: streaming_curing.stream_line_hash_ingest(
        s, d
    )
    # KN5 model TRAINING on arrival — shards fold their 5-gram
    # counts into the persisted model store per trigger (associative
    # exact fold ⇒ drained model == batch-built model); the corpus
    # scores from the drained store, same oracle as the recompute
    # scorer. Session-memoized (a pure function of the corpus files —
    # the kn5_scores_cached contract): the drain+score is the heaviest
    # entry in the suite (~47 s at sf0.1) and its honest cost stays
    # recorded in BENCH_DETAIL cold_s and SCALING.md; repeats serve the
    # pinned result
    q["stream_kn5_ingest"] = lambda s, d: _stream_kn5_cached(s, d)
    q["incremental_dedup"] = lambda s, d: dedup.incremental_dedup(s, d)
    # ON ARRIVAL — the incoming batch drains shard-by-shard against
    # static existing-corpus hash/fp tables; drained manifest == batch
    # manifest row-for-row (ascending-shard min election), so it carries
    # the SAME oracle
    q["stream_snapshot_loop"] = lambda s, d: streaming_curing.stream_snapshot_loop(
        s, d
    )
    # BPE tokenizer TRAINING (full Sennrich loop over the distinct-word
    # table; iterative, so rows-only — pure-Python replay pinned in
    # tests/test_bpe.py; bpe_pair_counts is its single step)
    q["bpe_train"] = lambda s, d: bpe_mod.bpe_train(s, d, n_merges=10)
    # BPE ENCODE digest with the learned merges (Arrow-batched greedy
    # lowest-rank-first merge; replay-pinned beside bpe_train). The
    # merge table is cached per sf_dir so this entry times the ENCODE,
    # not a re-train (the _lex_index pattern).
    q["bpe_encode"] = lambda s, d: bpe_mod.bpe_encode_digest(
        s, d, merges=_bpe_merges(s, d)
    )
    # trained tokenizer PERSISTED (the lm_store discipline for the
    # tokenizer family): the merge table (the GPT-2 vocab-file
    # analogue) on disk, encode reads n_merges rows instead of
    # re-training; == the in-session form (merges are deterministic),
    # equality pinned in tests/test_bpe.py. Rows-only like its family.
    # No upsert: merges are order-dependent greedy choices — refresh is
    # retrain
    q["bpe_encode_store"] = bpe_mod.bpe_encode_store
    # SentencePiece-style unigram-LM trainer (Kudo 2018, hard-EM):
    # EM iterates over the WORD-FREQUENCY table, not the corpus;
    # E-step segments Arrow batches against the broadcast vocab,
    # counts are exact integers (deterministic under any
    # partitioning). Iterative + Python Viterbi, so rows-only —
    # closure / loss-non-increase / determinism pinned in
    # tests/test_bpe.py. Sibling of bpe_train (the second tokenizer-
    # training family).
    q["unigram_lm_vocab"] = lambda s, d: sp_unigram_mod.unigram_lm_train(s, d)
    # encode digest with the trained vocab (the bpe_encode contract:
    # scalar row per doc, whole piece stream pinned by the md5);
    # vocab cached per sf_dir so this entry times the ENCODE
    q["unigram_lm_encode"] = lambda s, d: sp_unigram_mod.unigram_lm_encode_digest(
        s, d, vocab=_unigram_vocab(s, d)
    )
    # WordPiece (Schuster & Nakajima 2012 / the BERT tokenizer) — the
    # THIRD tokenizer-training family: likelihood-gain merge choice
    # count(pair)/(count(l)*count(r)) instead of BPE's raw count (the
    # difference is pinned in tests/test_wordpiece.py), greedy
    # longest-match encode with whole-word [UNK]. Iterative, so
    # rows-only like the BPE trainers; pure-Python replay pinned.
    q["wordpiece_train"] = lambda s, d: wordpiece_mod.wordpiece_train(
        s, d, n_merges=10
    )
    # encode digest with the trained vocab (the bpe_encode contract
    # + n_unk, the coverage signal a vocab size is tuned against);
    # vocab cached per sf_dir so this entry times the ENCODE
    q["wordpiece_encode"] = lambda s, d: wordpiece_mod.wordpiece_encode_digest(
        s, d, vocab=_wordpiece_vocab(s, d)
    )
    # the tokenizer-selection artifact: fertility (pieces per word)
    # and whole-word UNK rate per trained tokenizer, aggregated from
    # the three encode digests (session-cached assets => this times
    # the encodes). Rows-only like its three inputs; ratio math is
    # exact-integer + ROUND(6).
    q["tokenizer_report"] = lambda s, d: tokenizers_mod.tokenizer_report(
        s,
        d,
        bpe_merges=_bpe_merges(s, d),
        unigram_vocab=_unigram_vocab(s, d),
        wordpiece_vocab=_wordpiece_vocab(s, d),
    )
    # the ANN width-knob contract as a machine-checked surface:
    # recall@10 of pruned IVF widths vs exact, 8 stored queries
    # (monotonicity + exact-at-full-width pinned in tests/test_index.py)
    q["ann_recall_report"] = _ann_recall_report
    # the serving-side twin of
    # ann_recall_report — measures the IVF recall curve on the corpus
    # itself and emits a (layout, n_clusters, width) recommendation
    # per target recall, codifying SCALING.md's measured crossovers;
    # recommendation logic replay-pinned in tests/test_autoconfig.py
    # The selection competes ALL SIX serving
    # shapes — IVF width, tree width, BQ Hamming shortlist, PQ/OPQ ADC
    # rerank shortlists, SQ8 rerank shortlist, graph-ANN beam — on
    # estimated bytes touched per query (probe fraction alone
    # understates ADC layouts, whose code scan is corpus-wide)
    q["ann_autoconfig"] = lambda s, d: autoconfig_mod.ann_autoconfig(
        s, d, _ivf_index(s, d), _kmt_index(s, d), _bq_index(s, d),
        pq_idx=_pq_index(s, d), opq_idx=_opq_index(s, d),
        sq_idx=_sq_index(s, d), gann_idx=_gann_index(s, d),
    )
    # the measured-curve artifact it reads, as data: (layout, width,
    # recall) over every serving shape, each exact endpoint provably
    # 1.0; the measurement memoizes per (sf_dir, index paths) so
    # autoconfig and this entry share ONE serving pass per session
    q["ann_layout_curves"] = lambda s, d: autoconfig_mod.ann_layout_curves(
        s, d, _ivf_index(s, d), _kmt_index(s, d), _bq_index(s, d),
        pq_idx=_pq_index(s, d), opq_idx=_opq_index(s, d),
        sq_idx=_sq_index(s, d), gann_idx=_gann_index(s, d),
    )
    # the temporal gaps-and-islands pair
    q["surge_windows"] = temporal.surge_windows
    q["events_in_surges"] = temporal.events_in_surges
    # trained-filter step of the curation pipeline: weak
    # rules -> distributed multinomial NB -> score every doc; the
    # report is the rules-vs-model confusion audit
    # contract-layer serving cache: the scored table is a pure
    # function of the immutable corpus, so the gate/bench wrapper
    # materializes it ONCE per session (library stays lazy/composable;
    # bench reports the cold pass via cold_s)
    q["nb_classify_docs"] = _nb_scored_cached
    q["nb_label_report"] = lambda s, d: classify_mod.nb_label_report(
        s, d, preds=_nb_scored_cached(s, d)
    )
    # embedding-space QA: decimal-exact covariance cells
    # (oracle twin) + cross-source exact-dup overlap matrix
    q["embedding_covariance"] = embstats_mod.embedding_covariance
    q["source_overlap_matrix"] = lambda s, d: dedup.source_overlap_matrix(
        load_documents(s, d)
    )
    # rows-only: PCA projection production path (mapInPandas moment
    # partials + driver eigh; moment math pinned against
    # embedding_covariance and numpy in tests/test_embstats.py).
    # Gate shape flattens the component array into scalar columns —
    # the driver's canonical sort can't order array cells.
    q["embedding_pca"] = _embedding_pca_flat
    # semantic-space counterpart of textual.source_divergence: per-
    # source centroids + pairwise cosine/L2 drift (oracle-backed)
    q["source_embedding_drift"] = embstats_mod.source_embedding_drift
    # DSIR per-doc weights (the Gumbel top-k selection is dsir_select):
    # decimal-exact folds over a broadcast λ table
    q["dsir_weights"] = dsir_mod.dsir_weights
    q["bm25_topk"] = lambda s, d: ranking_mod.bm25_topk(s, d)
    q["decontaminate"] = curation.decontaminate_documents
    # rows-only: zlib compression-ratio quality proxy (no SQL twin —
    # DuckDB has no zlib; monotone-repetition behavior pytest-pinned)
    q["compression_signals"] = textual.compression_signals
    q["text_stats"] = textual.text_stats
    q["chunk_documents"] = textual.chunk_documents
    q["perplexity_buckets"] = textual.perplexity_buckets
    q["kneser_ney_logprob"] = lambda s, d: textual.kneser_ney_logprob(
        s, d, docpair=textual.docpair_cached(s, d)
    )
    # re-pointed at the 5-gram KN score — the CCNet configuration (tiles
    # per source, head+middle keep)
    q["perplexity_buckets_kn5"] = textual.perplexity_buckets_kn5
    # same 5-gram KN scores served from the PERSISTED model store: build
    # once (artifacts.persisted; only the
    # top-order c5 count table persists — the whole continuation cascade
    # re-derives from it, which is what makes the upsert a pure count
    # fold), score the corpus FROM the store. Store == recompute, so it
    # shares the recompute's oracle; upsert-fold equality pinned in
    # pytest
    q["kn5_store_scores"] = lm_store_mod.kn5_store_corpus_scores
    # served from the SAME persisted c5 store — the per-level D1/D2/D3+
    # discounts are count-of-counts functions of c5, so one model store
    # serves both scorers; == recompute, same oracle
    q["mkn5_store_scores"] = lm_store_mod.mkn5_store_corpus_scores
    # the fixed-discount production-order 5-gram KN that
    # kneser_ney5_modified generalizes
    q["kneser_ney5_logprob"] = lambda s, d: textual.kn5_scores_cached(s, d)
    # named production filters: the Gopher rule panel
    # (Rae et al. 2021 A1) beside the generic quality_filter, and the
    # C4 line rules (Raffel et al. 2020) over the deterministic line
    # augmentation with a cleaned-stream md5
    q["gopher_quality"] = textual.gopher_quality_report
    q["c4_line_filter"] = textual.c4_line_filter
    # paragraph-grain keep-first exact dedup
    q["paragraph_dedup"] = dedup.paragraph_dedup_docs
    # the generic-quality-score curation chain
    q["curate_corpus"] = curation.curate_corpus
    # the ablation FUNNEL: per cumulative stage of the same chain,
    # surviving doc/token mass and retention fractions (the per-step
    # removal table dedup papers publish); one flags pass + one
    # conditional-sum aggregate
    q["curation_funnel"] = curation.curation_funnel
    # the GPT-3 appendix-C 13-gram config, one row of
    # decontamination_sweep's grid
    q["decontaminate_13gram"] = lambda s, d: curation.decontaminate_documents(
        s, d, n=13, min_containment=0.1
    )
    # the per-doc production flags production_funnel aggregates
    q["curate_corpus_production"] = pipeline_mod.curate_corpus_production
    # with the FULL Gopher conjunction ENFORCED: the
    # required-stopword rule binds via the corpus's own glue-word list
    # at K=7 (the paper's rule SHAPE with the vocabulary this corpus
    # actually has — ~55% stopword-pass at sf0.01, measured, so
    # admission keeps real variance instead of rejecting everything)
    q["curate_corpus_gopher_enforced"] = (
        lambda s, d: pipeline_mod.curate_corpus_production(
            s, d, enforce_gopher=True,
            gopher_stopwords=textual.CORPUS_GLUE_STOPWORDS,
            gopher_min_stopwords=7,
        )
    )
    # Deequ-style expectations over the documents table
    q["expectations_report"] = expectations_mod.expectations_report
    # the embedding-level semantic decontamination probe
    q["semantic_decontaminate"] = curation.semantic_decontaminate
    q["dedup_exact_groups"] = lambda s, d: dedup.exact_dup_groups(load_documents(s, d))
    q["cdc_merge"] = lambda s, d: curation.cdc_merge_snapshot(s, d)
    q["neardup_cosine"] = lambda s, d: dedup.neardup_cosine_pairs(
        load_embeddings(s, d), threshold=0.4
    )
    q["source_token_budget"] = curation.source_token_budget
    q["pii_redaction"] = curation.pii_redaction
    q["events_hourly_stream"] = streaming_events.hourly_event_counts_stream
    q["pq_rerank_full"] = _mk_codes(_pq_index, None, None, ROUND)
    q["ivfsq_rerank_full"] = _mk_codes(_ivfsq_index, None, IVF_CLUSTERS, ROUND)
    q["sq_rerank_full"] = _mk_codes(_sq_index, None, None, ROUND)
    q["graphann_rerank_full"] = _mk_gann("CosineSimilarity", k=10, beam=None)
    q["domain_profile"] = lambda s, d: web_mod.domain_profile(s, d)
    # dedup extended to the IMAGE modality: dHash over the vendored
    # decoders, banded 16-bit Hamming blocking — pigeonhole-lossless for
    # radius ≤ 3 — exact bit_count verify on candidates. Rows-only:
    # md5-keystream pixels have no SQL twin; planted recall +
    # blocked==exact parity pinned in tests/test_imagededup.py
    q["image_phash_dedup"] = lambda s, d: imagededup_mod.image_phash_dedup(s, d)
    # the MATCH/dedup operator the spectral stage feeds: Shazam-style
    # peak-pair constellation hashes, inverted-index key join,
    # offset-histogram verify with a vote floor. Rows-only:
    # md5-keystream audio has no SQL twin; planted track+offset recovery
    # pinned in tests/test_audiofp.py
    q["audio_fingerprint_match"] = lambda s, d: audiofp_mod.audio_fingerprint_match(s, d)
    # the VIDEO modality: per-frame dHash -> k=4 frame-hash shingles ->
    # inverted-index self-join -> offset-consistency votes. Rows-only;
    # planted subsequence pair+offset recovery pinned in
    # tests/test_videodedup.py
    q["video_sequence_dedup"] = lambda s, d: videodedup_mod.video_sequence_dedup(s, d)
    # same composition shape, image modality: banded pHash pairs ->
    # two-star components -> canonical image groups. Rows-only like its
    # pair stage
    q["image_dedup_groups"] = lambda s, d: graph_mod.connected_components_twostar(
        imagededup_mod.image_phash_dedup(s, d)
    )
    # the image-modality twin: on- disk inverted BAND store partitioned
    # by band — a screen reads only the probed posting lists, never the
    # image corpus; screen == pair-join recompute and upsert-membership
    # pinned in tests/test_imagededup.py. Rows-only like its pair stage
    q["incremental_image_dedup"] = lambda s, d: imagededup_mod.incremental_image_dedup(s, d)
    # image-modality dedup ON ARRIVAL: per-batch screen against the
    # persisted pHash band store, within-batch greedy election, non-dups
    # upserted; drained verdicts == driver greedy-prefix replay incl.
    # best matches, pinned. Rows-only like the store it maintains
    q["stream_image_dedup"] = lambda s, d: streaming_image_ingest.stream_image_dedup_ingest(
        s, d, n_shards=2
    )
    # the STORE-BACKED serving path: corpus fingerprinted once into the
    # persisted posting index, probes screened against it — store ==
    # direct-match equivalence pinned incl. votes. Rows-only like its
    # direct twin
    q["audio_match_store"] = lambda s, d: audiofp_mod.audio_match_store(s, d)
    # the provenance report extended ACROSS MODALITIES: one admission
    # verdict per doc from text quality + text/image/audio/video
    # near-dup stages — keep-first convention throughout; flag-by-flag
    # equality vs the individual operators pinned. Rows-only: the media
    # stages have no SQL twins
    q["multimodal_curation"] = lambda s, d: mmcuration_mod.multimodal_curation_report(s, d)
    # the cluster- SIZE diagnostic: pair vs template-family tail —
    # decides whether keep-first suffices; recursive-CTE oracle rolled
    # up
    q["dedup_cluster_sizes"] = lambda s, d: curation.dedup_cluster_sizes(s, d)
    # the corpus-health diagnostic: least-squares Zipf slope over the
    # top-N token frequencies — natural text ≈ −1, boilerplate flattens;
    # exact integer ranks, decimal-summed regression terms
    q["zipf_fit"] = lambda s, d: textual.zipf_fit(s, d)
    # the vocabulary-GROWTH diagnostic: Heaps' law V ~ K·N^β from
    # first-doc/token-mass integers — NO per-prefix rescans, two keyed
    # aggregates + an n_points-row regression
    q["heaps_fit"] = lambda s, d: textual.heaps_fit(s, d)
    # the fence extended across EVERY modality: split keyed on the
    # component of the UNION of all four near-dup graphs — a shared
    # image/audio/video asset can no longer walk through the text-only
    # fence; two-star resolution for the chained cross-modality
    # components. Rows-only: media edges
    q["multimodal_safe_splits"] = lambda s, d: mmcuration_mod.multimodal_safe_splits(s, d)
    # its ORACLE surface: the identical dhash_pairs
    # banding/hot-cap/verify machinery run over md5-prefix fingerprints
    # both engines construct — the pixels stay rows-only, the blocking
    # MATH goes under the hash-exact gate
    q["hamming_banded_pairs"] = lambda s, d: imagededup_mod.hamming_banded_pairs(s, d)
    # the THIRD table: the invariants an ANN index build assumes — fixed
    # dim, finite components, non-zero norms; same fused single-scan
    # plan
    q["expectations_embeddings"] = expectations_mod.expectations_report_embeddings
    # the classical Pearson statistic — third drift lens over the same
    # cells as PSI; exact integer counts, fixed double association
    # order, decimal-summed terms
    q["chi2_drift"] = lambda s, d: stats.chi2_drift(s, d)
    # URL-level dedup after canonicalization — tracking
    # params/fragments/default ports/case noise collapse; keep-first via
    # groupBy-min, no window
    q["url_canonical_dedup"] = lambda s, d: web_mod.url_canonical_dedup(s, d)
    q["dedup_components"] = curation.dedup_components
    q["snapshot_diff_summary"] = curation.snapshot_diff_summary
    q["lang_id_confusion"] = textual.lang_id_confusion
    q["local_supplier_revenue"] = relational.local_supplier_revenue
    q["ab_test_report"] = stats.ab_test_report
    q["source_divergence"] = textual.source_divergence
    # macro-averaged side-by-side of the cosine vs inner-product scorers
    # — the report read before switching serving strategies
    q["retrieval_report"] = lambda s, d: retmetrics_mod.retrieval_quality_report(
        s, d, k=10, n_queries=16
    )
    # per-doc scores of the DISCRIMINATIVE model-based filter —
    # fastText-style hashed-BoW logistic regression beside
    # nb_classify_docs, trained DISTRIBUTED by full-batch GD,
    # engine-exact end to end
    q["logreg_score"] = lambda s, d: logreg_mod.logreg_score(s, d)
    # trained classifier PERSISTED (the lm_store discipline for the
    # model-based filter family): exact integer nano-unit
    # weights on disk, scoring reads <= N_BUCKETS rows instead of
    # re-training per session; == recompute, same oracle. No upsert by
    # design: GD folds aren't associative — refresh is retrain (the ivf
    # rebuild analogy)
    q["logreg_score_store"] = logreg_mod.logreg_score_store
    # the KMV / bottom-k sketch — the distinct synopsis that also
    # supports INTERSECTION; unsaturated at the gate SFs => provably
    # exact vs COUNT(DISTINCT)
    q["kmv_distinct_by_type"] = lambda s, d: kmv_mod.kmv_distinct_by_type(s, d)
    q["curation_reasons"] = curation.curation_reasons
    # the maintained-state treatment for the moment math: exact DECIMAL
    # first/second-moment cells persisted, batch folds add integers —
    # the store answers the covariance identically, shared oracle
    q["covariance_store"] = lambda s, d: embstats_mod.covariance_store(s, d)
    q["ivfopq_rerank_full"] = _mk_codes(_ivfopq_index, None, IVF_CLUSTERS, ROUND)
    q["tfidf_related_docs"] = lambda s, d: sparse_sim_mod.tfidf_related_docs(
        load_documents(s, d), n=3, k=3
    )
    # uncertainty sampling: the lowest-margin holdout docs a labeling
    # loop annotates next; TakeOrderedAndProject cut
    q["active_learning_batch"] = lambda s, d: logreg_mod.active_learning_batch(s, d)
    q["dedup_ngram_containment"] = lambda s, d: dedup.ngram_containment_pairs(
        load_documents(s, d), n=3, threshold=0.8
    )
    # model-based filtering ON ARRIVAL: each micro-batch scored with the
    # broadcast session-trained model; scoring is a pure per-doc
    # function of the model, so drained == batch row-for-row — shared
    # oracle
    q["stream_logreg_score"] = lambda s, d: streaming_curing.stream_logreg_score(
        s, d
    )
    # the padding-waste report across context budgets — how a trainer
    # fixes the sequence length; pad counts under-budget bins, overflow
    # the bounded one-chunk overshoot
    q["packing_efficiency"] = lambda s, d: curation.packing_efficiency(s, d)
    q["duplicate_spans"] = lambda s, d: dedup.duplicate_spans(
        load_documents(s, d)
    )
    q["prefixdim_rerank_full"] = _prefixdim_rerank_full
    # the SERVING form: positional postings store read only at the
    # phrase terms' row groups — store path == scan path by the shared
    # oracle, the bm25_topk_indexed contract
    q["phrase_search_store"] = lambda s, d: ranking_mod.phrase_search_store(s, d)
    q["decontaminate_bloom"] = curation.decontaminate_bloom_documents
    q["snm_dedup_groups"] = lambda s, d: graph_mod.connected_components_twostar(
        blocking_mod.sorted_neighborhood_pairs(load_documents(s, d))
    )
    # the persisted-store path: build from the first half,
    # kmv_store_upsert the second, serve from stored sketches — the
    # k-min merge is LOSSLESS so the store shares the recompute oracle
    # verbatim
    q["kmv_store_overlap"] = lambda s, d: kmv_mod.kmv_store_overlap(s, d)
    # the same store maintained ON ARRIVAL via checkpointed foreachBatch
    # folds — drained == batch by exact array equality, shared oracle
    q["stream_kmv_ingest"] = lambda s, d: streaming_sketch.stream_kmv_ingest(s, d)
    q["user_running_totals"] = streaming_sessions.user_running_totals_stream
    q["range_search_ivf"] = lambda s, d: ivf.ivf_range_search(
        s, _ivf_index(s, d), _query_vec(s, d), threshold=0.2, round_digits=ROUND
    )
    q["histogram_store_quantiles"] = histstore_mod.histogram_store_quantiles
    return q


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}
    for strat, key in _STRAT_KEY.items():
        o[f"topk_{key}"] = oracles.topk_sql(strat, k=10)
    o["topk_cosine_filtered"] = oracles.topk_sql(
        "CosineSimilarity", k=10, filter_sql="lang = 'fr'"
    )
    # SQL-string surface: result-identical to the library topk path,
    # so it shares the same oracle family
    o["sql_topk_cosine"] = oracles.topk_sql("CosineSimilarity", k=10)
    o["sql_topk_filtered"] = oracles.topk_sql(
        "CosineSimilarity", k=10, filter_sql="lang = 'fr'"
    )
    o["sql_topk_narrow"] = oracles.topk_sql("CosineSimilarity", k=10)
    o["sql_chunk_documents"] = oracles_text.chunk_documents_sql(64, 48)
    o["topk_cosine_filtered2"] = oracles.topk_sql(
        "CosineSimilarity", k=10, filter_sql="lang = 'de' AND source = 'src3'"
    )
    # non-strict filtered ANN at full width == exact filtered (id, score)
    o["topk_cosine_filtered_ivf"] = oracles.topk_ids_sql(
        "CosineSimilarity", k=10, filter_sql="lang = 'fr'"
    )
    o["topk_cosine_filtered_tree"] = oracles.topk_ids_sql(
        "CosineSimilarity", k=10, filter_sql="lang = 'fr'"
    )
    o["topk_cosine_filtered_gann"] = oracles.topk_ids_sql(
        "CosineSimilarity", k=10, filter_sql="lang = 'fr'"
    )
    # BQ full shortlist == exact (id, score) top-k / exact kNN join
    o["bq_rerank_full"] = oracles.topk_ids_sql("CosineSimilarity", k=10)
    o["sq_rerank_full"] = oracles.topk_ids_sql("CosineSimilarity", k=10)
    o["ivfsq_rerank_full"] = oracles.topk_ids_sql("CosineSimilarity", k=10)
    # full-beam graph traversal == exact top-k (connectivity-asserted)
    o["graphann_rerank_full"] = oracles.topk_ids_sql("CosineSimilarity", k=10)
    o["bq_knn_join_full"] = oracles.knn_join_sql(
        "CosineSimilarity", k=5, n_queries=8
    )
    o["ivf_knn_join_filtered"] = oracles.knn_join_sql(
        "CosineSimilarity", k=5, n_queries=8, filter_sql="lang = 'fr'"
    )
    o["topk_cosine_default_k"] = oracles.topk_sql("CosineSimilarity", k=4)
    o["knn_join_cosine"] = oracles.knn_join_sql("CosineSimilarity", k=5, n_queries=8)
    # knn_join_blocked stays rows-only: its scores are BLAS matmul
    # sums whose IEEE summation order differs from the SQL fold —
    # same neighbors (pinned), not bit-identical rounded scores
    # (verified: sharing the fold oracle hash-mismatches).
    # full-width ANN joins are exact: same result set as the exact kNN join
    o["ivf_knn_join_full"] = oracles.knn_join_sql("CosineSimilarity", k=5, n_queries=8)
    o["knn_serve_stream"] = oracles.knn_join_sql("CosineSimilarity", k=5, n_queries=8)
    o["ivf_knn_join_dist"] = oracles.knn_join_sql("CosineSimilarity", k=5, n_queries=8)
    o["tree_knn_join_full"] = oracles.knn_join_sql("CosineSimilarity", k=5, n_queries=8)
    # ivf_knn_join_width2 intentionally has no oracle (approximate)
    o["ivf_cosine_full_width"] = oracles.topk_ids_sql("CosineSimilarity", k=10)
    # tree at full width reads every leaf -> exact (same oracle shape)
    o["kmeans_tree_full"] = oracles.topk_ids_sql("CosineSimilarity", k=10)
    # ivf_cosine_width2 intentionally has no oracle: approximate search
    # (rows-only check; recall contract verified in tests/test_index.py)

    o["text_stats"] = oracles_text.TEXT_STATS
    o["lang_profile"] = oracles_text.LANG_PROFILE
    o["token_frequencies"] = oracles_text.token_frequencies_sql(25)
    # MG candidates cover the top-25 at any test scale -> exact twin
    o["heavy_hitters_topk"] = oracles_text.token_frequencies_sql(25)
    # drained MG fold == batch two-pass == direct top-k
    o["stream_heavy_hitters"] = oracles_text.token_frequencies_sql(25)
    o["lang_id"] = oracles_text.LANG_ID
    o["lang_id_confusion"] = oracles_text.LANG_ID_CONFUSION
    o["fingerprints"] = oracles_text.FINGERPRINTS
    o["quality_filter"] = oracles_text.quality_filter_sql(0.8, 16)
    o["token_budget"] = oracles_text.TOKEN_BUDGET
    o["document_splits"] = sampling.splits_sql(0.8, 0.1)
    o["split_sizes"] = sampling.split_sizes_sql(0.8, 0.1)
    o["chunk_documents"] = oracles_text.chunk_documents_sql(64, 48)
    o["winnowing_fingerprints"] = oracles_text.winnowing_digest_sql(8, 4)
    o["dedup_exact_groups"] = oracles_text.DEDUP_EXACT
    o["chunk_dedup"] = oracles_text.chunk_dedup_sql()
    o["duplicate_spans"] = oracles_text.duplicate_spans_sql(8)
    o["remove_duplicate_spans"] = oracles_text.remove_duplicate_spans_sql(8)
    o["duplicate_char_spans"] = oracles_text.duplicate_char_spans_sql(40)
    o["remove_duplicate_char_spans"] = (
        oracles_text.remove_duplicate_char_spans_sql(40)
    )
    o["unigram_logprob"] = oracles_text.UNIGRAM_LOGPROB
    o["bigram_logprob"] = oracles_text.BIGRAM_LOGPROB
    o["kneser_ney_logprob"] = oracles_text.kneser_ney_sql(0.75)
    o["perplexity_buckets"] = oracles_text.perplexity_buckets_sql(3)
    o["kneser_ney5_logprob"] = oracles_text.kneser_ney5_sql(0.75)
    o["kneser_ney5_modified"] = oracles_text.kneser_ney5_modified_sql()
    o["gopher_quality"] = oracles_text.gopher_quality_sql()
    o["c4_line_filter"] = oracles_text.c4_line_filter_sql()
    o["line_dedup"] = oracles_text.line_dedup_sql()
    # store-served / drained line screens == batch recompute -> same
    # oracle
    o["line_dedup_store"] = oracles_text.line_dedup_sql()
    o["stream_line_dedup"] = oracles_text.line_dedup_sql()
    o["curate_corpus_production"] = (
        oracles_curation.curate_corpus_production_sql()
    )
    o["curation_funnel"] = oracles_curation.curation_funnel_sql()
    o["decontamination_sweep"] = (
        oracles_curation.decontamination_sweep_sql()
    )
    o["production_funnel"] = oracles_curation.production_funnel_sql()
    o["curate_corpus_gopher_enforced"] = (
        oracles_curation.curate_corpus_production_sql(
            enforce_gopher=True,
            gopher_stopwords=textual.CORPUS_GLUE_STOPWORDS,
            gopher_min_stopwords=7,
        )
    )
    o["production_mix_report"] = oracles_curation.production_mix_report_sql()
    o["decontaminate_13gram"] = oracles_curation.decontaminate_sql(13, 0.1)
    o["perplexity_buckets_kn5"] = oracles_text.perplexity_buckets_kn5_sql(3)
    o["source_divergence"] = oracles_text.SOURCE_DIVERGENCE
    o["dedup_ngram_jaccard"] = oracles_text.ngram_jaccard_sql(3, 0.8)
    # prefix filtering is lossless -> shares the exact-join oracle
    o["dedup_ngram_prefix"] = oracles_text.ngram_jaccard_sql(3, 0.8)
    o["dedup_ngram_containment"] = oracles_text.ngram_containment_sql(3, 0.8)
    o["tfidf_cosine_pairs"] = oracles_text.tfidf_cosine_sql(3, 0.6)
    # the AllPairs prefix index is lossless -> the exact twin's SQL
    # at the pruned entry's threshold
    o["tfidf_cosine_prefix"] = oracles_text.tfidf_cosine_sql(3, 0.9)
    o["tfidf_related_docs"] = oracles_text.tfidf_related_docs_sql(3, 3)
    o["sorted_neighborhood"] = oracles_text.sorted_neighborhood_sql(24, 8, 0.2)
    o["sorted_neighborhood_2key"] = oracles_text.sorted_neighborhood_multi_key_sql(
        24, 8, 0.2
    )
    o["neardup_cosine"] = oracles_text.neardup_cosine_sql(0.4)
    o["dedup_minhash_md5"] = oracles_text.minhash_lsh_md5_sql(3, 16, 8, 0.8)
    o["tfidf_top_terms"] = oracles_text.tfidf_sql(3)
    o["decontaminate"] = oracles_curation.decontaminate_sql(8, 0.3)
    # the Bloom-admission scale path verifies exactly -> same oracle
    o["decontaminate_bloom"] = oracles_curation.decontaminate_sql(8, 0.3)
    o["pack_chunks"] = oracles_curation.pack_chunks_sql(
        oracles_text.chunk_documents_sql(64, 48), 256
    )
    o["stratified_sample"] = oracles_curation.stratified_sample_stats_sql(
        curation.RATES_DEFAULT, 1.0
    )
    o["repetition_signals"] = oracles_curation.repetition_signals_sql(3)
    o["quantize_embeddings"] = oracles_curation.QUANTIZE
    # PQ rerank with a full-corpus shortlist degenerates to exact
    # top-k over (id, score) — same oracle as the full-width indexes
    o["pq_rerank_full"] = oracles.topk_ids_sql("CosineSimilarity", k=10)
    o["knn_classify"] = oracles_curation.knn_classify_sql(10, 8)
    o["hard_negatives"] = oracles_curation.hard_negatives_sql(5, 8)
    o["dedup_components"] = oracles_curation.dedup_components_sql(
        oracles_text.ngram_jaccard_sql(3, 0.8)
    )
    # two-star resolution is output-identical -> the same oracle
    o["dedup_components_twostar"] = oracles_curation.dedup_components_sql(
        oracles_text.ngram_jaccard_sql(3, 0.8)
    )
    o["snm_dedup_groups"] = oracles_curation.dedup_components_sql(
        oracles_text.sorted_neighborhood_sql(24, 8, 0.2)
    )
    o["leakage_safe_splits"] = oracles_curation.leakage_safe_splits_sql(
        oracles_text.ngram_jaccard_sql(3, 0.8)
    )
    o["semantic_dedup"] = oracles_curation.semantic_dedup_sql(
        oracles_text.neardup_cosine_sql(0.4)
    )
    # blocked twin: bit-identical election at this shape (multi-probe
    # recall closes the Voronoi-boundary gap), so one exact oracle
    # serves both — the decontaminate/decontaminate_bloom pattern
    o["semantic_dedup_blocked"] = o["semantic_dedup"]
    o["split_leakage_audit"] = oracles_curation.split_leakage_audit_sql(
        oracles_text.ngram_jaccard_sql(3, 0.8)
    )
    o["source_token_budget"] = oracles_curation.source_token_budget_sql(20000)
    o["pii_redaction"] = oracles_curation.pii_redaction_sql()
    o["mixture_resample"] = oracles_curation.mixture_resample_sql()
    o["quality_weighted_sample"] = oracles_text.quality_weighted_sample_sql()
    o["normalize_markup"] = oracles_text.normalize_markup_sql()
    o["extract_urls"] = oracles_text.extract_urls_sql()
    o["curate_corpus"] = oracles_curation.curate_corpus_sql()
    o["curated_pack"] = oracles_curation.curated_pack_sql(
        oracles_text.chunk_documents_sql(64, 48), 256
    )
    # dedup_minhash_lsh / dedup_simhash: intentionally no oracle
    # (xxhash64-based; precision/recall verified against the exact ops
    # in tests/test_dedup.py)
    o["multimodal_meta"] = oracles_text.MULTIMODAL_META
    o["multimodal_byte_hist"] = oracles_text.BYTE_HIST_DIGESTS
    o["events_hourly_stream"] = oracles_text.EVENTS_HOURLY
    o["stream_static_enrich"] = oracles_text.EVENTS_ENRICHED_NATION
    o["events_distinct_pairs"] = "SELECT DISTINCT user_id, event_type FROM events"
    o["events_distinct_wm"] = "SELECT DISTINCT user_id, event_type FROM events"
    o["stream_interval_join"] = """
SELECT p.user_id AS user_id, p.event_id AS p_event_id, c.event_id AS c_event_id,
       p.ts AS p_ts, c.ts AS c_ts, c.value AS c_value
FROM events p JOIN events c ON p.user_id = c.user_id
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
  AND c.ts >= p.ts - INTERVAL 6 HOUR AND c.ts <= p.ts
"""
    o["session_rollup"] = oracles_text.SESSION_ROLLUP
    o["user_running_totals"] = oracles_text.RUNNING_TOTALS

    o["pricing_summary"] = oracles_rel.PRICING_SUMMARY
    o["revenue_by_nation"] = oracles_rel.REVENUE_BY_NATION
    o["top_customers_per_nation"] = oracles_rel.top_customers_sql(3)
    o["orders_rollup"] = oracles_rel.ORDERS_ROLLUP
    o["customers_without_orders"] = oracles_rel.CUSTOMERS_WITHOUT_ORDERS
    o["parts_ordered_by_brand"] = oracles_rel.PARTS_ORDERED_BY_BRAND
    o["orders_cube"] = oracles_rel.ORDERS_CUBE
    o["customer_revenue_deciles"] = """
SELECT o_custkey AS custkey,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 2) + 0.0 AS revenue,
       NTILE(10) OVER (ORDER BY SUM(CAST(o_totalprice AS DECIMAL(18,6))) DESC, o_custkey ASC) AS decile
FROM orders GROUP BY o_custkey
"""
    o["user_event_pivot"] = """
SELECT user_id,
       SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS n_click,
       SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS n_error,
       SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n_purchase,
       SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS n_signup,
       SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS n_view
FROM events GROUP BY user_id
"""
    o["user_event_unpivot"] = """
SELECT user_id, event_type, count(*)::BIGINT AS n
FROM events GROUP BY user_id, event_type
"""
    o["repeat_customers"] = oracles_rel.repeat_customers_sql(1995, 1996)
    o["lapsed_customers"] = oracles_rel.lapsed_customers_sql(1995, 1996)
    o["shipping_priority"] = oracles_rel.shipping_priority_sql()
    o["returned_items"] = oracles_rel.returned_items_sql()
    o["supplier_profit"] = oracles_rel.supplier_profit_sql()
    o["shipmode_priority"] = oracles_rel.SHIPMODE_PRIORITY
    o["promo_revenue_share"] = oracles_rel.PROMO_REVENUE_SHARE
    o["cheapest_supplier_per_part"] = oracles_rel.cheapest_supplier_sql()
    o["priority_with_returns"] = oracles_rel.priority_with_returns_sql()
    o["important_parts"] = oracles_rel.important_parts_sql()
    o["top_supplier_revenue"] = oracles_rel.top_supplier_revenue_sql()
    o["large_volume_customers"] = oracles_rel.large_volume_customers_sql()
    o["idle_high_balance_customers"] = oracles_rel.idle_high_balance_customers_sql()
    o["local_supplier_revenue"] = oracles_rel.local_supplier_revenue_sql()
    o["forecast_revenue_change"] = oracles_rel.forecast_revenue_change_sql()
    o["volume_shipping"] = oracles_rel.volume_shipping_sql()
    o["national_market_share"] = oracles_rel.national_market_share_sql()
    o["customer_order_distribution"] = oracles_rel.customer_order_distribution_sql()
    o["small_quantity_revenue"] = oracles_rel.small_quantity_revenue_sql()
    o["disjunctive_branch_revenue"] = oracles_rel.DISJUNCTIVE_BRANCH_REVENUE
    o["waiting_suppliers"] = oracles_rel.waiting_suppliers_sql()
    o["parts_supplier_relationship"] = oracles_rel.parts_supplier_relationship_sql()
    o["excess_supply_suppliers"] = oracles_rel.excess_supply_suppliers_sql()
    o["revenue_moving_avg"] = oracles_rel.revenue_moving_avg_sql()
    o["join_cardinality_report"] = oracles_rel.JOIN_CARDINALITY_REPORT
    o["revenue_wow_change"] = oracles_rel.REVENUE_WOW_CHANGE
    o["null_rate_drift"] = oracles_temporal.NULL_RATE_DRIFT
    o["psi_drift"] = oracles_temporal.psi_drift_sql(10)
    o["purchase_attribution"] = oracles_text.PURCHASE_ATTRIBUTION

    o["surge_windows"] = oracles_temporal.SURGE_WINDOWS
    o["events_in_surges"] = oracles_temporal.EVENTS_IN_SURGES
    o["hourly_locf"] = oracles_temporal.HOURLY_LOCF
    o["bucket_anomalies"] = oracles_temporal.BUCKET_ANOMALIES
    o["funnel_conversion"] = oracles_temporal.funnel_sql()
    o["event_transitions"] = oracles_temporal.EVENT_TRANSITIONS
    o["readability"] = oracles_text.READABILITY
    o["incremental_dedup"] = oracles_text.incremental_dedup_sql()
    # incremental_dedup_arrow stays rows-only: winnowing SELECTS the
    # window-minimum hash, so the chosen fingerprints depend on the
    # hash function itself (rolling-hash picks differ from md5 picks
    # even with zero collisions) — verified: sharing the md5 oracle
    # hash-mismatches. Its contract is pinned in pytest instead.
    o["epoch_shards"] = oracles_text.epoch_shards_sql()
    o["per_source_examples"] = oracles_text.per_source_examples_sql()
    o["bpe_pair_counts"] = oracles_text.bpe_pair_counts_sql()
    o["key_skew_report"] = oracles_text.KEY_SKEW_REPORT
    o["bm25_topk"] = oracles_text.bm25_topk_sql(ranking_mod.QUERY_TERMS)
    # the indexed serving path is bit-identical to the recompute form
    o["bm25_topk_indexed"] = oracles_text.bm25_topk_sql(ranking_mod.QUERY_TERMS)
    o["sql_bm25_topk"] = oracles_text.bm25_topk_sql(ranking_mod.QUERY_TERMS)
    o["stream_lexical_ingest"] = oracles_text.bm25_topk_sql(ranking_mod.QUERY_TERMS)
    o["hybrid_rrf"] = oracles_text.hybrid_rrf_sql(ranking_mod.QUERY_TERMS)
    # each event belongs to size/slide = 2 sliding windows: duplicate
    # into both hour-aligned starts, then group (Spark windows align
    # to the epoch, so date_trunc('hour') IS the window boundary)
    o["events_sliding_stream"] = """
SELECT window_start, event_type, count(*)::BIGINT AS n_events FROM (
  SELECT date_trunc('hour', ts) AS window_start, event_type FROM events
  UNION ALL
  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS window_start, event_type
  FROM events
) GROUP BY window_start, event_type
"""
    o["cdc_merge"] = oracles_curation.cdc_merge_sql()
    o["salted_user_rollup"] = oracles_temporal.SALTED_USER_ROLLUP
    o["user_trailing_features"] = oracles_temporal.USER_TRAILING_FEATURES
    o["table_profile"] = oracles_temporal.TABLE_PROFILE_EVENTS
    o["graph_stats"] = oracles_text.graph_stats_sql()
    o["type_value_trends"] = oracles_temporal.TYPE_VALUE_TRENDS
    o["session_paths"] = oracles_temporal.session_paths_sql()
    o["session_labels"] = oracles_temporal.session_labels_sql()
    o["weak_labels"] = oracles_text.weak_labels_sql()
    o["augment_dropout"] = oracles_text.augment_token_dropout_sql()
    o["gazetteer_entities"] = oracles_text.gazetteer_sql()
    o["entity_cooccurrence"] = oracles_text.entity_cooccurrence_sql()
    o["type_correlations"] = oracles_temporal.TYPE_CORRELATIONS
    o["dataset_card"] = oracles_curation.dataset_card_sql()
    # bounds come from the same DOCUMENT_CHECKS declaration table
    o["expectations_report"] = oracles_curation.expectations_sql()
    o["snapshot_diff"] = oracles_curation.snapshot_diff_sql()
    o["snapshot_diff_summary"] = oracles_curation.snapshot_diff_summary_sql()
    o["expectations_events"] = oracles_curation.expectations_events_sql()
    o["lang_quality_matrix"] = oracles_text.lang_quality_matrix_sql()
    o["dau_wau"] = oracles_temporal.DAU_WAU
    o["hour_of_day_profile"] = oracles_temporal.HOUR_OF_DAY_PROFILE
    o["top_tokens_per_lang"] = oracles_text.top_tokens_per_lang_sql()
    o["histogram_quantiles"] = oracles_temporal.histogram_quantiles_sql()
    # store serving == the one-shot computation -> same oracle
    o["histogram_store_quantiles"] = oracles_temporal.histogram_quantiles_sql()
    o["ab_test_report"] = oracles_temporal.ab_test_report_sql()
    o["ab_test_cuped"] = oracles_temporal.ab_test_cuped_sql()
    o["incremental_dedup_store"] = oracles_text.incremental_dedup_sql()
    o["incremental_snapshot_loop"] = (
        oracles_curation.incremental_snapshot_loop_sql()
    )
    o["stream_snapshot_loop"] = (
        oracles_curation.incremental_snapshot_loop_sql()
    )
    # the opt-in semantic screen stage: same CTE chain + a cosine max
    # CTE (the semantic_decontaminate double-math semantics)
    o["snapshot_loop_semantic"] = (
        oracles_curation.incremental_snapshot_loop_sql(
            semantic_threshold=0.42
        )
    )
    o["snapshot_loop_production"] = (
        oracles_curation.incremental_snapshot_loop_sql(
            quality_gate="production"
        )
    )
    # store-served gate == recompute -> same oracle (the
    # incremental_dedup_store convention at gate scope)
    o["snapshot_loop_production_store"] = (
        oracles_curation.incremental_snapshot_loop_sql(
            quality_gate="production"
        )
    )
    # store-served LM scores == recompute -> same oracle
    o["kn5_store_scores"] = oracles_text.kneser_ney5_sql(0.75)
    o["mkn5_store_scores"] = oracles_text.kneser_ney5_modified_sql()
    # drained model == batch-built model -> the recompute's oracle
    o["stream_kn5_ingest"] = oracles_text.kneser_ney5_sql(0.75)
    # the loop + the CCNet line stage (evidence/transform columns)
    o["snapshot_loop_line"] = (
        oracles_curation.incremental_snapshot_loop_sql(line_screen=True)
    )
    # every opt-in stage composed in one CTE chain
    o["snapshot_loop_full"] = (
        oracles_curation.incremental_snapshot_loop_sql(
            semantic_threshold=0.42, line_screen=True,
            quality_gate="production",
        )
    )
    o["contrastive_pairs"] = oracles_curation.contrastive_pairs_sql()
    o["export_curated"] = oracles_curation.export_manifest_sql()
    o["quality_vs_dup_rate"] = oracles_curation.quality_vs_dup_rate_sql()
    o["cluster_assign"] = oracles.cluster_assign_sql()
    o["cluster_profile"] = oracles.cluster_profile_sql()
    o["cluster_topics"] = oracles.cluster_topics_sql()
    o["embedding_qa_report"] = oracles.embedding_qa_sql()
    o["rag_context"] = oracles.rag_context_sql()
    o["dedup_best_quality"] = oracles_text.best_quality_election_sql()
    o["range_search_cosine"] = oracles.range_search_sql(0.2)
    # lossless cell pruning -> the exact range search's oracle
    o["range_search_ivf"] = oracles.range_search_sql(0.2)
    o["stream_curation_ingest"] = oracles_text.curation_ingest_sql()
    # drained == batch decontaminate by construction (stateless
    # per-batch containment against the static benchmark)
    o["stream_decontaminate"] = oracles_curation.decontaminate_sql(8, 0.3)
    o["user_session_numbers"] = oracles_text.SESSION_NUMBERS
    o["value_percentiles"] = oracles_temporal.VALUE_PERCENTILES
    o["props_k_stats"] = oracles_temporal.PROPS_K_STATS
    o["label_centroids"] = oracles_temporal.LABEL_CENTROIDS
    o["distinct_users_by_type"] = oracles_temporal.DISTINCT_USERS_BY_TYPE
    o["retention_cohorts"] = oracles_temporal.RETENTION_COHORTS
    # approx_value_percentiles / approx_distinct_users: intentionally
    # no oracle (sketch estimates are engine-specific by design)
    o["nb_classify_docs"] = oracles_text.nb_classify_sql()
    o["nb_label_report"] = oracles_text.nb_label_report_sql()
    o["embedding_covariance"] = oracles.EMBEDDING_COVARIANCE
    o["source_overlap_matrix"] = oracles_text.SOURCE_OVERLAP_MATRIX
    o["source_embedding_drift"] = oracles.SOURCE_EMBEDDING_DRIFT
    # embedding_pca: rows-only (eigendecomposition has no SQL twin);
    # moment math shares embedding_covariance's oracle via pytest
    o["dsir_weights"] = oracles_curation.dsir_weights_sql()
    o["dsir_select"] = oracles_curation.dsir_select_sql()
    o["opq_rerank_full"] = oracles.topk_ids_sql("CosineSimilarity", k=10)
    o["neardup_edit_distance"] = oracles_text.neardup_edit_distance_sql()
    o["semantic_decontaminate"] = oracles_curation.semantic_decontaminate_sql()
    o["ivfopq_rerank_full"] = oracles.topk_ids_sql("CosineSimilarity", k=10)
    o["script_profile"] = oracles_text.script_profile_sql()
    o["curation_reasons"] = oracles_curation.curation_reasons_sql()
    o["prefixdim_rerank_full"] = oracles.topk_ids_sql("CosineSimilarity", k=10)
    o["domain_caps"] = oracles_curation.domain_caps_sql()
    o["domain_profile"] = oracles_curation.domain_profile_sql()
    o["paragraph_dedup"] = oracles_text.paragraph_dedup_sql()
    o["ks_drift"] = oracles_temporal.ks_drift_sql()
    o["chi2_drift"] = oracles_temporal.chi2_drift_sql(10)
    o["expectations_embeddings"] = oracles_curation.expectations_embeddings_sql()
    o["dedup_cluster_sizes"] = oracles_curation.dedup_cluster_sizes_sql(
        oracles_text.ngram_jaccard_sql(3, 0.8)
    )
    o["zipf_fit"] = oracles_text.zipf_fit_sql(500)
    o["heaps_fit"] = oracles_text.heaps_fit_sql(10)
    o["hamming_banded_pairs"] = oracles_curation.hamming_banded_pairs_sql(10)
    o["url_canonical_dedup"] = oracles_curation.url_canonical_dedup_sql()
    o["retrieval_quality"] = oracles.retrieval_quality_sql(10, 16)
    o["retrieval_report"] = oracles.retrieval_quality_report_sql(
        10, 16, ("CosineSimilarity", "InnerProductSimilarity")
    )
    o["logreg_score"] = oracles_curation.logreg_score_sql(
        logreg_mod.N_BUCKETS, logreg_mod.N_ITER, logreg_mod.LR
    )
    # store-served weights == recompute -> same oracle
    o["logreg_score_store"] = oracles_curation.logreg_score_sql(
        logreg_mod.N_BUCKETS, logreg_mod.N_ITER, logreg_mod.LR
    )
    o["logreg_report"] = oracles_curation.logreg_report_sql(
        logreg_mod.N_BUCKETS, logreg_mod.N_ITER, logreg_mod.LR
    )
    o["kmv_distinct_by_type"] = oracles_temporal.kmv_distinct_by_type_sql()
    o["kmv_user_overlap"] = oracles_temporal.kmv_user_overlap_sql()
    # lossless k-min merge => the store and streaming paths answer
    # identically to the recompute path
    o["kmv_store_overlap"] = oracles_temporal.kmv_user_overlap_sql()
    o["stream_kmv_ingest"] = oracles_temporal.kmv_user_overlap_sql()
    o["scd2_history"] = oracles_temporal.scd2_history_sql()
    o["wet_roundtrip"] = (
        "SELECT doc_id, lang, source, length(text)::BIGINT AS n_chars_rt, "
        "md5(text) AS text_md5 FROM documents"
    )
    o["phrase_search"] = oracles_text.phrase_search_sql(ranking_mod.PHRASE_TERMS)
    o["lsh_calibration"] = oracles_text.lsh_calibration_sql()
    o["phrase_search_store"] = oracles_text.phrase_search_sql(
        ranking_mod.PHRASE_TERMS
    )
    o["packing_efficiency"] = oracles_curation.packing_efficiency_sql(
        oracles_text.chunk_documents_sql(64, 48)
    )
    # scoring is a pure function of the broadcast model => the
    # streaming path answers identically to logreg_score
    o["stream_logreg_score"] = oracles_curation.logreg_score_sql(
        logreg_mod.N_BUCKETS, logreg_mod.N_ITER, logreg_mod.LR
    )
    o["label_model"] = oracles_text.label_model_sql()
    o["logreg_calibration"] = oracles_curation.logreg_calibration_sql(
        logreg_mod.N_BUCKETS, logreg_mod.N_ITER, logreg_mod.LR
    )
    o["active_learning_batch"] = oracles_curation.active_learning_batch_sql(
        25, logreg_mod.N_BUCKETS, logreg_mod.N_ITER, logreg_mod.LR
    )
    o["kmeans_lloyd"] = oracles.kmeans_lloyd_sql(8, 3)
    # the fixed-iteration loop is decimal-deterministic; the twin
    # unrolls it
    o["neardup_pagerank"] = oracles_text.neardup_pagerank_sql(3, 0.8, 10, 0.85)
    # the greedy loop's pool sims use the sequential fold, so the twin
    # unrolls it
    o["mmr_rerank"] = oracles.mmr_rerank_sql(10, 50, 0.7)
    o["power_iteration_pc1"] = oracles.power_iteration_sql(8)
    # exact decimal fold => the store path answers identically
    o["covariance_store"] = oracles.EMBEDDING_COVARIANCE
    return o
