"""The routed-blocked batch joins of the flat IVF and the k-means tree:
one scoring core behind a DataFrame entry and an array entry, over a
layout reader that is listed once per index generation."""

from __future__ import annotations

import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ydb_vector_search_simple_api_spark import api, artifacts
from ydb_vector_search_simple_api_spark.config import SearchConfig
from ydb_vector_search_simple_api_spark.operators import index as ivf
from ydb_vector_search_simple_api_spark.operators import tree as kmt
from ydb_vector_search_simple_api_spark.plans.checks import formatted_plan
from ydb_vector_search_simple_api_spark.sources.store import load_embeddings

from conftest import SF_SMALL, spark_jobs

STRATEGIES = (
    "CosineSimilarity",
    "InnerProductSimilarity",
    "CosineDistance",
    "EuclideanDistance",
    "ManhattanDistance",
)


def _embs(spark):
    return load_embeddings(spark, SF_SMALL).select(F.col("vec_id").alias("id"), "embedding")


@pytest.fixture(scope="module")
def layouts(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("routed_blocked")
    return {
        "ivf": ivf.build_ivf_index(spark, _embs(spark), str(root / "ivf"), n_clusters=8),
        "tree": kmt.build_kmeans_tree(
            spark, _embs(spark), str(root / "tree"), n_l1=3, fanout=3
        ),
    }


@pytest.fixture(scope="module")
def qvecs(spark):
    rows = load_embeddings(spark, SF_SMALL).filter("vec_id < 6").orderBy("vec_id").collect()
    return [[float(x) for x in r.embedding] for r in rows]


def _entries(layout):
    if layout == "ivf":
        return ivf.ivf_knn_join_routed_blocked, ivf.ivf_knn_join_routed_blocked_arrays
    return kmt.tree_knn_join_routed_blocked, kmt.tree_knn_join_routed_blocked_arrays


def _rows(df):
    return sorted(
        (r.query_id, r.rank, r.id, r.score) for r in df.collect()
    )


@pytest.mark.parametrize("layout", ["ivf", "tree"])
def test_array_entry_matches_frame_entry(spark, layouts, qvecs, layout):
    """Both entries give the same (query_id, id, rank) and bit-equal
    scores under every strategy; a zero-norm query gets NULL cosine
    scores, and a wrong-dimension query gets no rows and no error."""
    index = layouts[layout]
    frame_entry, array_entry = _entries(layout)
    dim = index.dim
    vecs = qvecs + [[0.0] * dim]
    frame = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs + [qvecs[0][:-1]])],
        "query_id bigint, query_vec array<double>",
    )
    Q = np.array(vecs, dtype=np.float64)
    zero = len(qvecs)
    for strategy in STRATEGIES:
        a = _rows(frame_entry(spark, index, frame, k=5, strategy=strategy, search_top_size=2))
        b = _rows(
            array_entry(
                spark, index, list(range(len(vecs))), Q, k=5, strategy=strategy,
                search_top_size=2, query_id_type=T.LongType(),
            )
        )
        assert a == b, strategy
        assert {q for q, *_ in a} == set(range(len(vecs))), strategy
        zero_rows = [r for r in a if r[0] == zero]
        assert [r[1] for r in zero_rows] == [1, 2, 3, 4, 5]
        if strategy.startswith("Cosine"):
            assert all(r[3] is None for r in zero_rows)
        else:
            assert all(r[3] is not None for r in a)


@pytest.mark.parametrize("layout", ["ivf", "tree"])
def test_only_wrong_dimension_batch_is_empty_without_a_job(spark, layouts, layout):
    index = layouts[layout]
    eng = api.VectorSearchEngine(
        spark, SF_SMALL, config=SearchConfig(index_enabled=True), index=index
    )
    eng.search_batch([[0.5] * index.dim], k=3)  # warm the layout reader
    (got, _), n = spark_jobs(
        spark, lambda: eng.search_batch([[1.0, 2.0], [0.5] * (index.dim + 1)], k=3)
    )
    assert got == [[], []]
    assert n == 0
    _, array_entry = _entries(layout)
    rows, n = spark_jobs(
        spark,
        lambda: array_entry(
            spark, index, [0], np.ones((1, index.dim + 1)), k=3,
            query_id_type=T.LongType(),
        ).collect(),
    )
    assert rows == [] and n == 0


def test_batch_over_many_clusters_plans_without_a_job(spark, qvecs, tmp_path):
    """More cluster directories than Spark's 32-path parallel-discovery
    threshold: the first plan lists them in a job, and every later
    request at full width builds its plan with no job. The plan still
    prunes with PartitionFilters on cluster_id, over the layout root."""
    n_clusters = 40
    idx = ivf.build_ivf_index(
        spark, _embs(spark), str(tmp_path / "ivf40"), n_clusters=n_clusters
    )
    eng = api.VectorSearchEngine(
        spark, SF_SMALL, config=SearchConfig(index_enabled=True), index=idx
    )

    def plan():
        return formatted_plan(eng.search_batch_df(qvecs, 5, n_clusters))

    _, cold = spark_jobs(spark, plan)
    assert cold >= 1  # the partition-discovery job, counted by its job group
    text, warm = spark_jobs(spark, plan)
    assert warm == 0
    assert "PartitionFilters: [cluster_id" in text
    assert f"InMemoryFileIndex [file:{idx.path}]" in text
    exact, _ = api.VectorSearchEngine(spark, SF_SMALL).search_batch(qvecs, k=5)
    got, _ = eng.search_batch(qvecs, k=5, search_top_size=n_clusters)
    assert [[r["id"] for r in q] for q in got] == [[r["id"] for r in q] for q in exact]


def _new_rows(spark, dim, first_id, n, seed):
    vecs = np.random.default_rng(seed).standard_normal((n, dim))
    ids = list(range(first_id, first_id + n))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in zip(ids, vecs)],
        "id long, embedding array<float>",
    )
    # the stored float32 values, as the query
    return ids, df, [[float(x) for x in np.float32(v)] for v in vecs]


def _top1(eng, queries):
    got, _ = eng.search_batch(queries, k=1, search_top_size=8)
    return [q[0]["id"] for q in got]


def _layout_readers(path):
    return [slot for slot in artifacts._MEMO if slot[:2] == ("layout_reader", path)]


def test_upserts_between_searches_keep_one_layout_reader(spark, layouts, tmp_path):
    """Each upsert gives the index a new reader, which the next search
    uses; the superseded reader is dropped from the session memo."""
    out = str(tmp_path / "idx")
    shutil.copytree(layouts["ivf"].path, out)
    idx = ivf.load_ivf_index(out)

    def nearest(queries):
        # the new ids have no documents row, so read the join itself
        return sorted(
            r.id
            for r in ivf.ivf_knn_join_routed_blocked_arrays(
                spark, idx, list(range(len(queries))), np.array(queries), k=1,
                search_top_size=8, query_id_type=T.LongType(),
            ).collect()
        )

    for i in range(3):
        ids, df, queries = _new_rows(spark, idx.dim, 10**9 + 10 * i, 2, seed=i)
        assert not set(nearest(queries)) & set(ids)
        ivf.ivf_upsert(spark, idx, df)
        assert nearest(queries) == ids
        assert len(_layout_readers(out)) == 1


def test_batch_reads_upserts_and_a_swapped_generation(spark, layouts, qvecs, tmp_path):
    """``search_batch`` sees rows an ``ivf_upsert`` adds on the same index
    object, and serves the compacted generation once ``engine.index`` is
    swapped to it."""
    from ydb_vector_search_simple_api_spark.operators import tombstones

    out = str(tmp_path / "idx")
    shutil.copytree(layouts["ivf"].path, out)
    idx = ivf.load_ivf_index(out)
    eng = api.VectorSearchEngine(
        spark, SF_SMALL, config=SearchConfig(index_enabled=True), index=idx
    )
    before = _top1(eng, qvecs)
    assert before == list(range(len(qvecs)))
    # delete row 0 and upsert a copy of its vector under another id that
    # the documents table holds: query 0's nearest becomes that id
    twin = 499
    tombstones.delete_ids(spark, out, [0])
    df = spark.createDataFrame([(twin, qvecs[0])], "id long, embedding array<float>")
    ivf.ivf_upsert(spark, idx, df)
    assert _top1(eng, qvecs) == [twin] + before[1:]
    gen = ivf.ivf_compact(spark, idx, str(tmp_path / "gen1"))
    eng.index = gen
    assert _top1(eng, qvecs) == [twin] + before[1:]
    plan = formatted_plan(eng.search_batch_df(qvecs, 1, 8))
    assert f"InMemoryFileIndex [file:{gen.path}]" in plan
