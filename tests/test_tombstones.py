"""Tombstone deletes: reads exclude, upsert resurrects, compaction
folds — across the IVF and BQ layouts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ydb_vector_search_simple_api_spark.operators import bq
from ydb_vector_search_simple_api_spark.operators import index as ivf
from ydb_vector_search_simple_api_spark.operators import tombstones
from ydb_vector_search_simple_api_spark.operators.layout import compact
from ydb_vector_search_simple_api_spark.operators.search import (
    exact_search,
    shortlist_search,
)

from conftest import SF_SMALL


def _src(spark):
    return (
        spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
        .select(F.col("vec_id").alias("id"), "embedding")
    )


def _qvec(spark):
    row = (
        spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
        .filter(F.col("vec_id") == 0)
        .first()
    )
    return [float(x) for x in row.embedding]


def _exact_ids(spark, q, k=10):
    return [r.id for r in exact_search(spark, SF_SMALL, q, k=k).collect()]


def test_ivf_delete_search_upsert_compact(spark, tmp_path):
    idx = ivf.build_ivf_index(
        spark, _src(spark), str(tmp_path / "ivf"), n_clusters=4, seed=42
    )
    q = _qvec(spark)
    top = _exact_ids(spark, q)
    victims = top[:2]  # delete the top-2 hits
    n = tombstones.delete_ids(spark, idx.path, victims)
    assert n == 2
    got = [
        r.id
        for r in ivf.ivf_search(
            spark, idx, q, k=10, search_top_size=4
        ).collect()
    ]
    assert not set(victims) & set(got)
    assert got == [i for i in _exact_ids(spark, q, k=12) if i not in victims][:10]
    # batch joins honor tombstones too
    queries = _src(spark).filter(F.col("id") < 2).selectExpr(
        "id AS query_id", "embedding AS query_vec"
    )
    jj = ivf.ivf_knn_join_distributed(
        spark, idx, queries, k=5, search_top_size=4
    ).collect()
    assert not set(victims) & {r.id for r in jj}
    rb = ivf.ivf_knn_join_routed_blocked(
        spark, idx, queries, k=5, search_top_size=4
    ).collect()
    assert not set(victims) & {r.id for r in rb}
    # upsert resurrects the first victim
    back = _src(spark).filter(F.col("id") == victims[0])
    ivf.ivf_upsert(spark, idx, back)
    got2 = {
        r.id
        for r in ivf.ivf_search(spark, idx, q, k=10, search_top_size=4).collect()
    }
    assert victims[0] in got2 and victims[1] not in got2
    # compaction folds the remaining tombstone permanently
    idx2 = ivf.ivf_compact(spark, idx, str(tmp_path / "gen2"), dedup_ids=True)
    assert not tombstones.has_tombstones(idx2.path)
    remaining = spark.read.parquet(idx2.path)
    assert remaining.filter(F.col("id") == victims[1]).count() == 0
    assert remaining.filter(F.col("id") == victims[0]).count() == 1


def test_bq_delete_and_compact(spark, tmp_path):
    idx = bq.build_bq_index(spark, _src(spark), str(tmp_path / "bq"), dim=64)
    q = _qvec(spark)
    top = _exact_ids(spark, q)
    victims = top[:2]
    tombstones.delete_ids(spark, idx.path, victims)
    got = [
        r.id
        for r in shortlist_search(
            spark, idx, _src(spark), q, k=10, shortlist=None
        ).collect()
    ]
    assert not set(victims) & set(got)
    assert got == [i for i in _exact_ids(spark, q, k=12) if i not in victims][:10]
    # blocked batch join honors tombstones (shared bits scan)
    queries = _src(spark).filter(F.col("id") < 2).selectExpr(
        "id AS query_id", "embedding AS query_vec"
    )
    jj = bq.bq_knn_join(
        spark, idx, _src(spark), queries, k=5, shortlist=None, blocked=True
    ).collect()
    assert not set(victims) & {r.id for r in jj}
    # compact folds; counts drop
    idx2 = compact(spark, idx, str(tmp_path / "bq_gen2"))
    assert idx2.n_rows == 498
    assert not tombstones.has_tombstones(idx2.path)


def test_tombstone_dir_invisible_to_layout_scan(spark, tmp_path):
    # the underscore-prefixed dir must not pollute the hive layout read
    idx = ivf.build_ivf_index(
        spark, _src(spark), str(tmp_path / "ivf"), n_clusters=4, seed=42
    )
    before = spark.read.parquet(idx.path).count()
    tombstones.delete_ids(spark, idx.path, [1, 2, 3])
    after = spark.read.parquet(idx.path).count()
    assert before == after  # raw scan unchanged; filtering is read-path logic
    assert tombstones.load_tombstones(spark, idx.path).count() == 3


def test_tree_delete_and_resurrect(spark, tmp_path):
    from ydb_vector_search_simple_api_spark.operators import tree as kmt

    idx = kmt.build_kmeans_tree(
        spark, _src(spark), str(tmp_path / "tree"), n_l1=3, fanout=3
    )
    q = _qvec(spark)
    top = _exact_ids(spark, q)
    victims = top[:2]
    tombstones.delete_ids(spark, idx.path, victims)
    got = [r.id for r in kmt.tree_search(spark, idx, q, k=10).collect()]
    assert not set(victims) & set(got)
    assert got == [i for i in _exact_ids(spark, q, k=12) if i not in victims][:10]
    # batch joins honor tombstones
    queries = _src(spark).filter(F.col("id") < 2).selectExpr(
        "id AS query_id", "embedding AS query_vec"
    )
    rb = kmt.tree_knn_join_routed_blocked(spark, idx, queries, k=5).collect()
    assert not set(victims) & {r.id for r in rb}
    # upsert resurrects
    kmt.tree_upsert(spark, idx, _src(spark).filter(F.col("id") == victims[0]))
    got2 = {r.id for r in kmt.tree_search(spark, idx, q, k=10).collect()}
    assert victims[0] in got2 and victims[1] not in got2


def test_pq_delete_excluded_from_adc_and_rerank(spark, tmp_path):
    from ydb_vector_search_simple_api_spark.operators import pq as pqm

    idx = pqm.build_pq_index(
        spark, _src(spark), str(tmp_path / "pq"), m=8, nbits=8, normalize=True
    )
    q = _qvec(spark)
    top = _exact_ids(spark, q)
    victims = top[:2]
    tombstones.delete_ids(spark, idx.path, victims)
    got = [
        r.id
        for r in shortlist_search(
            spark, idx, _src(spark), q, k=10, shortlist=500
        ).collect()
    ]
    assert not set(victims) & set(got)
    assert got == [i for i in _exact_ids(spark, q, k=12) if i not in victims][:10]


def test_generation_pointer_flip_serves_compacted_index(spark, tmp_path):
    """The compaction story end-to-end: gen1 serves, delete + compact
    into gen2, FLIP the pointer — the loader then serves gen2 (deleted
    row gone, tombstones folded) while gen1 stays intact on disk."""
    root = str(tmp_path / "serving")
    gen1 = str(tmp_path / "gen1")
    idx1 = ivf.build_ivf_index(spark, _src(spark), gen1, n_clusters=4, seed=42)
    tombstones.set_serving_generation(root, gen1)
    assert tombstones.current_generation(root) == gen1

    q = _qvec(spark)
    victim = _exact_ids(spark, q)[0]
    tombstones.delete_ids(spark, idx1.path, [victim])
    gen2 = str(tmp_path / "gen2")
    ivf.ivf_compact(spark, idx1, gen2)
    tombstones.set_serving_generation(root, gen2)

    served = ivf.load_ivf_index(tombstones.current_generation(root))
    got = {r.id for r in ivf.ivf_search(spark, served, q, k=10, search_top_size=4).collect()}
    assert victim not in got
    # old generation untouched (rollback still possible)
    assert spark.read.parquet(gen1).filter(F.col("id") == victim).count() == 1
    assert tombstones.has_tombstones(gen1)


def test_lexical_index_tombstones(spark, tmp_path):
    """The 5th tombstoned layout: deletes anti-join out of the BM25
    postings — a tombstoned doc disappears from indexed lexical
    results and equals recompute over the corpus minus that doc;
    resurrection restores the original ranking."""
    from pyspark.sql import functions as F

    from ydb_vector_search_simple_api_spark.operators import ranking as RK
    from ydb_vector_search_simple_api_spark.operators import tombstones as TS
    from ydb_vector_search_simple_api_spark.sources.store import load_documents

    lex = RK.build_lexical_index(
        spark, load_documents(spark, SF_SMALL), str(tmp_path / "lex")
    )
    before = [tuple(r) for r in RK.bm25_topk_indexed(spark, lex, k=5).collect()]
    victim = before[0][0]

    TS.delete_ids(spark, lex.path, [victim])
    after = [tuple(r) for r in RK.bm25_topk_indexed(spark, lex, k=5).collect()]
    assert victim not in [r[0] for r in after]
    want = [
        tuple(r)
        for r in RK.bm25_topk(
            spark,
            SF_SMALL,
            k=6,  # pull one extra, drop the victim, re-rank
        ).collect()
        if r.doc_id != victim
    ][:5]
    # scores must match the recompute ranking minus the victim; ranks
    # renumber 1..5 on the indexed side
    assert [(d, s) for d, s, _ in after] == [(d, s) for d, s, _ in want]
    assert [rk for _, _, rk in after] == [1, 2, 3, 4, 5]

    TS.resurrect_ids(
        spark, lex.path,
        spark.createDataFrame([(victim,)], "doc_id long"), "doc_id",
    )
    restored = [tuple(r) for r in RK.bm25_topk_indexed(spark, lex, k=5).collect()]
    assert restored == before


def test_tombstone_read_infers_no_schema(spark, tmp_path, monkeypatch):
    """The tombstone set is read with its fixed schema: a warm
    full-width IVF search over a tombstoned index adds only the jobs
    that broadcast the set (two), where inferring the schema from the
    parquet footers cost one more job per search. The rows are the
    exact top-k of the live rows. The driver-side cap is forced to 0,
    so the search takes the Spark plan."""
    from ydb_vector_search_simple_api_spark import api
    from ydb_vector_search_simple_api_spark.config import SearchConfig
    from ydb_vector_search_simple_api_spark.operators import layout

    from conftest import spark_jobs

    monkeypatch.setattr(layout, "DRIVER_SEARCH_CAP", 0)

    idx = ivf.build_ivf_index(spark, _src(spark), str(tmp_path / "ivf"), n_clusters=4)
    eng = api.VectorSearchEngine(
        spark, SF_SMALL, config=SearchConfig(index_enabled=True), index=idx
    )
    q = _qvec(spark)

    def search():
        return [r["id"] for r in eng.search(q, k=5, search_top_size=4)[0]]

    search()
    _, live_jobs = spark_jobs(spark, search)
    tombstones.delete_ids(spark, idx.path, [0, 1])
    search()
    got, jobs = spark_jobs(spark, search)
    assert jobs == live_jobs + 2
    assert got == [i for i in _exact_ids(spark, q, k=7) if i not in (0, 1)][:5]


def test_tombstones_from_int_ids_read_as_long(spark, tmp_path):
    """An int id column is stored as the set's long ids."""
    path = str(tmp_path / "idx")
    tombstones.delete_ids(spark, path, spark.createDataFrame([(3,), (4,)], "x int"))
    t = tombstones.load_tombstones(spark, path)
    assert t.schema.simpleString() == "struct<id:bigint>"
    assert sorted(r.id for r in t.collect()) == [3, 4]


def test_failed_resurrection_keeps_the_deleted_ids_deleted(spark, tmp_path, monkeypatch):
    """``resurrect_ids`` appends the remaining set before it removes the
    old files: when that write fails, every deleted id stays deleted
    (the old set is untouched). A successful call leaves only the
    remaining ids, as many tombstone rows as before it minus the
    resurrected ones."""
    from pyspark.sql.readwriter import DataFrameWriter

    path = str(tmp_path / "idx")
    tombstones.delete_ids(spark, path, [1, 2, 3])
    back = spark.createDataFrame([(2,)], "id long")

    def fail(self, *args, **kwargs):
        raise OSError("write failed")

    with monkeypatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", fail)
        with pytest.raises(OSError, match="write failed"):
            tombstones.resurrect_ids(spark, path, back)
    assert sorted(r.id for r in tombstones.load_tombstones(spark, path).collect()) == [1, 2, 3]

    tombstones.resurrect_ids(spark, path, back)
    rows = spark.read.parquet(tombstones.tombstone_path(path)).collect()
    assert sorted(r.id for r in rows) == [1, 3]
