"""Driver-side serving of unfiltered IVF and tree requests
(``layout.driver_search``): the engine's replies equal the Spark plan's
bit for bit, launch no Spark job, and follow every index generation."""

from __future__ import annotations

import shutil
import threading

import pytest
from pyspark.sql import functions as F

from ydb_vector_search_simple_api_spark.api import VectorSearchEngine
from ydb_vector_search_simple_api_spark.config import SearchConfig
from ydb_vector_search_simple_api_spark.operators import index as ivf
from ydb_vector_search_simple_api_spark.operators import layout
from ydb_vector_search_simple_api_spark.operators import tombstones
from ydb_vector_search_simple_api_spark.operators import tree as kmt
from ydb_vector_search_simple_api_spark.sources.store import load_embeddings

from conftest import SF_SMALL, spark_jobs

STRATEGIES = (
    "CosineSimilarity",
    "InnerProductSimilarity",
    "CosineDistance",
    "EuclideanDistance",
    "ManhattanDistance",
)
N_CLUSTERS = 8


@pytest.fixture(scope="module")
def embs(spark):
    return load_embeddings(spark, SF_SMALL).select(F.col("vec_id").alias("id"), "embedding")


@pytest.fixture(scope="module")
def ivf_built(spark, embs, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("drv_ivf") / "index")
    return ivf.build_ivf_index(spark, embs, out, n_clusters=N_CLUSTERS, seed=42)


@pytest.fixture(scope="module")
def tree_built(spark, embs, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("drv_tree") / "index")
    return kmt.build_kmeans_tree(spark, embs, out, n_l1=3, fanout=3, seed=42)


@pytest.fixture(scope="module")
def pool(spark):
    rows = load_embeddings(spark, SF_SMALL).filter("vec_id IN (7, 123, 333)").collect()
    return [[float(x) for x in r.embedding] for r in rows]


def _copy(index, tmp_path):
    out = str(tmp_path / "index")
    shutil.copytree(index.path, out)
    load = ivf.load_ivf_index if isinstance(index, ivf.IvfIndex) else kmt.load_kmeans_tree
    return load(out)


def _engine(spark, index, strategy="CosineSimilarity", **kw):
    return VectorSearchEngine(
        spark,
        SF_SMALL,
        config=SearchConfig(strategy=strategy, index_enabled=True),
        index=index,
        **kw,
    )


def _reply(results):
    return [
        (r["id"], r["title"], r["vendor"], r["description"], repr(r["score"]))
        for r in results
    ]


def _rows(df):
    return [(r.id, repr(r.score)) for r in df.collect()]


def _assert_same(spark, eng, q, k, width, monkeypatch):
    """The engine's driver reply equals its Spark plan's (cap forced
    below every request): the ranked rows and the reply with metadata.
    Returns the driver's ranked rows."""
    driver_rows = _rows(eng.search_df(q, k, None, width))
    (driver, _), jobs = spark_jobs(spark, lambda: eng.search(q, k, None, width))
    assert jobs == 0
    with monkeypatch.context() as m:
        m.setattr(layout, "DRIVER_SEARCH_CAP", -1)
        plan_rows = _rows(eng.search_df(q, k, None, width))
        plan, _ = eng.search(q, k, None, width)
    assert driver_rows == plan_rows
    assert _reply(driver) == _reply(plan)
    return driver_rows


@pytest.mark.parametrize("shape", ["ivf", "tree"])
@pytest.mark.parametrize("strategy", STRATEGIES)
def test_replies_equal_the_spark_plan(
    spark, ivf_built, tree_built, pool, shape, strategy, monkeypatch
):
    index = ivf_built if shape == "ivf" else tree_built
    full = N_CLUSTERS if shape == "ivf" else index.n_leaves
    eng = _engine(spark, index, strategy)
    eng.search(pool[0], 10, None, 1)  # builds the metadata copy
    for width in (1, 3, full):
        for q in pool:
            rows = _assert_same(spark, eng, q, 10, width, monkeypatch)
            assert len(rows) == 10 or width < full


@pytest.mark.parametrize("shape", ["ivf", "tree"])
def test_generations_tombstones_upsert_compact(
    spark, ivf_built, tree_built, pool, shape, tmp_path, monkeypatch
):
    """One index object across a delete, an upsert and a removed
    partition directory, then a compacted generation: every reply
    equals the Spark plan's, and each reflects its generation."""
    index = _copy(ivf_built if shape == "ivf" else tree_built, tmp_path)
    upsert = ivf.ivf_upsert if shape == "ivf" else kmt.tree_upsert
    full = N_CLUSTERS if shape == "ivf" else index.n_leaves
    eng = _engine(spark, index)
    q = pool[0]
    top = _assert_same(spark, eng, q, 10, full, monkeypatch)

    gone = [top[0][0], top[3][0]]
    tombstones.delete_ids(spark, index.path, gone)
    rows = _assert_same(spark, eng, q, 10, full, monkeypatch)
    assert not {i for i, _ in rows} & set(gone)

    # a new row at the query itself, and one deleted id re-upserted
    batch = spark.createDataFrame(
        [(5000, q), (gone[0], q)], "id long, embedding array<float>"
    )
    upsert(spark, index, batch)
    rows = _assert_same(spark, eng, q, 10, full, monkeypatch)
    # the query is row 7's vector: rows 7 (twice) and 5000 tie at the top
    assert {5000, gone[0]} <= {i for i, _ in rows[:3]}

    # a removed partition directory contributes no rows; the upsert put
    # row 5000 in the query's nearest partition by L2
    key = index.partitions(q, "EuclideanDistance", 1)[0]
    leaf = "/".join(f"{c}={v}" for c, v in zip(index.partition_cols, key))
    shutil.rmtree(f"{index.path}/{leaf}")
    rows = _assert_same(spark, eng, q, 10, full, monkeypatch)
    assert 5000 not in {i for i, _ in rows}
    l2 = _engine(spark, index, "EuclideanDistance")
    assert _assert_same(spark, l2, q, 10, 1, monkeypatch) == []

    eng.index = layout.compact(spark, index, str(tmp_path / "gen2"), dedup_ids=True)
    assert _assert_same(spark, eng, q, 10, full, monkeypatch) == rows


def test_wrong_dimension_query(spark, ivf_built, monkeypatch):
    """A query of another length scores NULL on every row (the L2
    routing takes it); cosine routing rejects it on both paths."""
    eng = _engine(spark, ivf_built, "EuclideanDistance")
    rows = _assert_same(spark, eng, [0.5], 5, 2, monkeypatch)
    assert len(rows) == 5 and all(s == "None" for _, s in rows)
    cos = _engine(spark, ivf_built)
    with pytest.raises(ValueError):
        cos.search_df([0.5, 1.0], 5, None, 2)
    with monkeypatch.context() as m:
        m.setattr(layout, "DRIVER_SEARCH_CAP", -1)
        with pytest.raises(ValueError):
            cos.search_df([0.5, 1.0], 5, None, 2)


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_ties_nan_and_null_scores(spark, ivf_built, pool, strategy, tmp_path, monkeypatch):
    """Rows with equal scores rank by id; a NaN score ranks above +inf
    and a NULL score last, in either direction."""
    index = _copy(ivf_built, tmp_path)
    q = pool[1]
    nan_row = [float("nan")] + q[1:]
    inf_row = [float("inf")] + q[1:]
    zero = [0.0] * len(q)
    rows = [(9000 + i, q) for i in range(3)] + [
        (8999, q), (9100, nan_row), (9101, inf_row), (9102, zero),
        (9103, [-x for x in q]),
    ]
    ivf.ivf_upsert(
        spark, index, spark.createDataFrame(rows, "id long, embedding array<float>")
    )
    eng = _engine(spark, index, strategy)
    got = _assert_same(spark, eng, q, 1000, N_CLUSTERS, monkeypatch)
    ids = [i for i, _ in got]
    assert ids.index(8999) < ids.index(9000) < ids.index(9001) < ids.index(9002)
    scores = [s for _, s in got]
    valued = scores[: len(scores) - scores.count("None")]
    assert "None" not in valued
    assert valued[0 if strategy.endswith("Similarity") else -1] == "nan"


def test_over_the_cap_runs_the_spark_plan(spark, ivf_built, pool, monkeypatch):
    eng = _engine(spark, ivf_built)
    want, _ = eng.search(pool[2], 10, None, 4)
    monkeypatch.setattr(layout, "DRIVER_SEARCH_CAP", 0)
    (got, _), jobs = spark_jobs(spark, lambda: eng.search(pool[2], 10, None, 4))
    assert jobs >= 1
    assert _reply(got) == _reply(want)


@pytest.mark.parametrize("shape", ["ivf", "tree"])
def test_warm_search_launches_no_job(spark, ivf_built, tree_built, pool, shape):
    eng = _engine(spark, ivf_built if shape == "ivf" else tree_built)
    eng.search(pool[0], 5, None, 4)
    (results, _), n = spark_jobs(spark, lambda: eng.search(pool[1], 5, None, 4))
    assert len(results) == 5
    assert n == 0


def test_first_search_of_a_generation_builds_one_view(
    spark, ivf_built, pool, tmp_path, monkeypatch
):
    index = _copy(ivf_built, tmp_path)
    eng = _engine(spark, index)
    eng.search(pool[0], 5, None, 2)  # the metadata copy, not the view
    tombstones.delete_ids(spark, index.path, [1])  # a new generation
    builds = []
    build = layout._build_view

    def counted(*a):
        builds.append(1)
        return build(*a)

    monkeypatch.setattr(layout, "_build_view", counted)
    start = threading.Barrier(8)
    replies, errors = [], []

    def run():
        try:
            start.wait()
            replies.append(_reply(eng.search(pool[0], 5, None, 4)[0]))
        except Exception as e:  # noqa: BLE001 - collected for the assert
            errors.append(e)

    threads = [threading.Thread(target=run) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert len(builds) == 1
    assert all(r == replies[0] for r in replies)


# --------------------------------------- the result cache per generation


def test_result_cache_misses_after_a_delete_and_a_compaction(
    spark, ivf_built, pool, tmp_path
):
    """A cached reply is not replayed once its generation changes: a
    tombstoned id does not come back, from the same index object or
    from a compacted generation the engine is pointed at."""
    index = _copy(ivf_built, tmp_path)
    eng = _engine(spark, index, result_cache_size=4)
    q = pool[0]
    first, _ = eng.search(q, 5, None, N_CLUSTERS)
    tombstones.delete_ids(spark, index.path, [first[0]["id"]])
    second, _ = eng.search(q, 5, None, N_CLUSTERS)
    assert first[0]["id"] not in {r["id"] for r in second}

    tombstones.delete_ids(spark, index.path, [second[0]["id"]])
    eng.index = layout.compact(spark, index, str(tmp_path / "gen2"))
    third, _ = eng.search(q, 5, None, N_CLUSTERS)
    assert not {first[0]["id"], second[0]["id"]} & {r["id"] for r in third}
    assert _reply(eng.search(q, 5, None, N_CLUSTERS)[0]) == _reply(third)
