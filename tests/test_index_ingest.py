"""Streaming index ingestion (streaming/index_ingest.py): vectors
landed as parquet drops flow through one ``stream_ingest`` wiring
(foreachBatch -> each layout's upsert) into every index it feeds, and
serving sees them immediately."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMALL
from ydb_vector_search_simple_api_spark.operators import index as ivf
from ydb_vector_search_simple_api_spark.operators.search import shortlist_search
from ydb_vector_search_simple_api_spark.streaming import index_ingest
from ydb_vector_search_simple_api_spark.sources.store import load_embeddings


def _landing_stream(spark, path):
    """A streaming file source over the parquet drops under ``path``."""
    return spark.readStream.schema(spark.read.parquet(path).schema).parquet(path)


@pytest.fixture()
def halves(spark, tmp_path):
    embs = load_embeddings(spark, SF_SMALL).select(
        F.col("vec_id").alias("id"), "embedding"
    )
    first = embs.filter(F.col("id") % 2 == 0)
    second = embs.filter(F.col("id") % 2 == 1)
    idx = ivf.build_ivf_index(spark, first, str(tmp_path / "ivf"), n_clusters=4)
    return embs, first, second, idx


def test_stream_ingest_appends_and_serves(spark, tmp_path, halves):
    embs, first, second, idx = halves
    land = str(tmp_path / "landing")
    second.write.mode("overwrite").parquet(land)

    mon = index_ingest.IngestMonitor()
    q = index_ingest.stream_ingest(
        spark,
        [idx],
        _landing_stream(spark, land),
        checkpoint_dir=str(tmp_path / "ckpt"),
        monitor=mon,
    )
    q.awaitTermination(120)

    n_second = second.count()
    assert mon.n_appended == n_second
    assert mon.max_assign_l2 > 0.0
    assert spark.read.parquet(idx.path).count() == embs.count()

    # serving through the upserted index at full width == exact search
    # over the union — streamed rows are first-class index citizens
    from ydb_vector_search_simple_api_spark.operators.search import knn_join

    qrow = embs.filter(F.col("id") == 1).head()  # id 1 arrived by stream
    qvec = [float(x) for x in qrow.embedding]
    got = [
        r.id
        for r in ivf.ivf_search(spark, idx, qvec, k=10, search_top_size=4).collect()
    ]
    corpus = embs
    queries = spark.createDataFrame([(1, qvec)], "query_id long, query_vec array<double>")
    want = [
        r.id
        for r in knn_join(spark, queries, corpus, k=10).orderBy("rank").collect()
    ]
    assert got == want
    assert got[0] == 1  # the streamed row's self-match serves


def test_stream_ingest_is_incremental(spark, tmp_path, halves):
    """A restarted stream over the same landing dir appends nothing new
    (checkpointed file source); a new drop feeds exactly one batch."""
    embs, first, second, idx = halves
    land = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    part_a = second.filter(F.col("id") % 4 == 1)
    part_b = second.filter(F.col("id") % 4 == 3)
    part_a.write.mode("overwrite").parquet(land)

    mon = index_ingest.IngestMonitor()
    index_ingest.stream_ingest(
        spark, [idx], _landing_stream(spark, land),
        checkpoint_dir=ckpt, monitor=mon,
    ).awaitTermination(120)
    assert mon.n_appended == part_a.count()

    # restart with no new files: nothing re-ingested
    index_ingest.stream_ingest(
        spark, [idx], _landing_stream(spark, land),
        checkpoint_dir=ckpt, monitor=mon,
    ).awaitTermination(120)
    assert mon.n_appended == part_a.count()

    # drop a new shard: exactly its rows land
    part_b.write.mode("append").parquet(land)
    index_ingest.stream_ingest(
        spark, [idx], _landing_stream(spark, land),
        checkpoint_dir=ckpt, monitor=mon,
    ).awaitTermination(120)
    assert mon.n_appended == part_a.count() + part_b.count()
    assert spark.read.parquet(idx.path).count() == first.count() + mon.n_appended


def test_monitor_rebuild_trigger():
    mon = index_ingest.IngestMonitor()
    mon.batches.append({"n_appended": 5, "per_cluster": {0: 5}, "max_assign_l2": 1.0})
    assert not mon.needs_rebuild(baseline_l2=0.6)  # 1.0 <= 2 * 0.6
    mon.batches.append({"n_appended": 2, "per_cluster": {1: 2}, "max_assign_l2": 2.5})
    assert mon.max_assign_l2 == 2.5
    assert mon.needs_rebuild(baseline_l2=0.6)  # 2.5 > 1.2


def test_stream_ivfpq_ingest_keeps_layouts_in_lockstep(spark, tmp_path):
    """One stream feeds every serving layout of a batch in order: the
    full-precision IVF rows first, then the IVFADC codes and the IVF x
    SQ8 codes it routes, and the IVF-composed shortlist_search over the
    upserted layouts at full width/rerank stays exact."""
    from ydb_vector_search_simple_api_spark.operators import pq as pq_mod
    from ydb_vector_search_simple_api_spark.operators import sq as sq_mod

    embs = load_embeddings(spark, SF_SMALL).select(
        F.col("vec_id").alias("id"), "embedding"
    )
    first = embs.filter(F.col("id") % 2 == 0)
    second = embs.filter(F.col("id") % 2 == 1)
    ivf_idx = ivf.build_ivf_index(spark, first, str(tmp_path / "ivf"), n_clusters=4)
    pq_idx = pq_mod.build_ivfpq_index(
        spark, ivf_idx, str(tmp_path / "codes"), m=8, normalize=True
    )
    sq_idx = sq_mod.build_ivfsq_index(spark, ivf_idx, str(tmp_path / "sq"))

    land = str(tmp_path / "landing")
    second.write.mode("overwrite").parquet(land)
    mon = index_ingest.IngestMonitor()
    index_ingest.stream_ingest(
        spark, [ivf_idx, pq_idx, sq_idx],
        _landing_stream(spark, land),
        checkpoint_dir=str(tmp_path / "ckpt"),
        monitor=mon,
    ).awaitTermination(120)

    n_second = second.count()
    assert mon.n_appended == n_second
    for b in mon.batches:
        ivf_stats, pq_stats, sq_stats = b["per_index"]
        # the codes are routed by the IVF: same rows per cluster
        assert pq_stats["per_partition"] == ivf_stats["per_partition"]
        assert sq_stats["per_partition"] == ivf_stats["per_partition"]
    n_total = embs.count()
    assert spark.read.parquet(ivf_idx.path).count() == n_total
    for codes in (spark.read.parquet(pq_idx.path), sq_idx.rows(spark)):
        assert codes.count() == n_total
        assert codes.filter(F.col("cluster_id").isNull()).count() == 0
    assert sq_mod.load_sq_index(sq_idx.path).n_rows == n_total

    # exactness through the upserted layouts (full width + full rerank)
    qrow = embs.filter(F.col("id") == 1).head()
    qvec = [float(x) for x in qrow.embedding]
    from ydb_vector_search_simple_api_spark.operators.search import knn_join

    queries = spark.createDataFrame(
        [(1, qvec)], "query_id long, query_vec array<double>"
    )
    want = [
        (r.id, round(r.score, 6))
        for r in knn_join(spark, queries, embs, k=10, round_digits=6)
        .orderBy("rank")
        .collect()
    ]
    for codes_idx in (pq_idx, sq_idx):
        got = [
            (r.id, round(r.score, 6))
            for r in shortlist_search(
                spark, codes_idx, None, qvec, k=10, strategy="CosineSimilarity",
                shortlist=n_total, round_digits=6, ivf_index=ivf_idx,
                search_top_size=4,
            ).collect()
        ]
        assert got == want


def test_composed_codes_layout_needs_its_ivf_first(spark, tmp_path, halves):
    """An IVF-composed codes layout fed without the IVF that routes its
    rows fails the batch and appends nothing to it."""
    from ydb_vector_search_simple_api_spark.operators import sq as sq_mod

    embs, first, second, idx = halves
    sq_idx = sq_mod.build_ivfsq_index(spark, idx, str(tmp_path / "sq"))
    land = str(tmp_path / "landing")
    second.write.mode("overwrite").parquet(land)
    q = index_ingest.stream_ingest(
        spark, [sq_idx, idx], _landing_stream(spark, land),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    with pytest.raises(Exception, match="partitioned"):
        q.awaitTermination(120)
    assert sq_idx.rows(spark).count() == first.count()


def test_stream_bq_ingest_appends_and_search_is_exact(spark, tmp_path):
    from pyspark.sql import functions as F

    from ydb_vector_search_simple_api_spark.operators import bq
    from ydb_vector_search_simple_api_spark.operators.search import exact_search

    embs = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").select(
        F.col("vec_id").alias("id"), "embedding"
    )
    idx = bq.build_bq_index(
        spark, embs.filter(F.col("id") < 300), str(tmp_path / "bq"), dim=64
    )
    landing = str(tmp_path / "landing")
    embs.filter(F.col("id") >= 300).repartition(2).write.parquet(landing)
    q = index_ingest.stream_ingest(
        spark,
        [idx],
        _landing_stream(spark, landing),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    idx2 = bq.load_bq_index(str(tmp_path / "bq"))
    assert idx2.n_rows == 500
    row = embs.filter(F.col("id") == 0).first()
    qv = [float(x) for x in row.embedding]
    got = shortlist_search(
        spark, idx2, embs, qv, k=10, shortlist=None, round_digits=6
    ).collect()
    want = exact_search(spark, SF_SMALL, qv, k=10, round_digits=6).collect()
    assert [(r.id, r.score) for r in got] == [(r.id, r.score) for r in want]


def test_stream_graphann_ingest_appends_and_search_is_exact(spark, tmp_path):
    from pyspark.sql import functions as F

    from ydb_vector_search_simple_api_spark.operators import graphann as G
    from ydb_vector_search_simple_api_spark.operators.search import exact_search

    embs = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").select(
        F.col("vec_id").alias("id"), "embedding"
    )
    idx = G.build_knn_graph(
        spark, embs.filter(F.col("id") < 300), str(tmp_path / "gann"), m=6
    )
    landing = str(tmp_path / "landing")
    embs.filter(F.col("id") >= 300).repartition(2).write.parquet(landing)
    q = index_ingest.stream_ingest(
        spark,
        [idx],
        _landing_stream(spark, landing),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    idx2 = G.load_graph_index(str(tmp_path / "gann"))
    assert idx2.n_rows == 500
    row = embs.filter(F.col("id") == 0).first()
    qv = [float(x) for x in row.embedding]
    got = G.graphann_search(
        spark, idx2, embs, qv, k=10, beam=None, round_digits=6
    ).collect()
    want = exact_search(spark, SF_SMALL, qv, k=10, round_digits=6).collect()
    assert [(r.id, r.score) for r in got] == [(r.id, r.score) for r in want]


def test_stream_tree_ingest_appends_and_search_is_exact(spark, tmp_path):
    from pyspark.sql import functions as F

    from ydb_vector_search_simple_api_spark.operators import tree as kmt
    from ydb_vector_search_simple_api_spark.operators.search import exact_search

    embs = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").select(
        F.col("vec_id").alias("id"), "embedding"
    )
    idx = kmt.build_kmeans_tree(
        spark, embs.filter(F.col("id") < 300), str(tmp_path / "tree"),
        n_l1=3, fanout=3,
    )
    landing = str(tmp_path / "landing")
    embs.filter(F.col("id") >= 300).repartition(2).write.parquet(landing)
    mon = index_ingest.IngestMonitor()
    q = index_ingest.stream_ingest(
        spark,
        [idx],
        _landing_stream(spark, landing),
        checkpoint_dir=str(tmp_path / "ckpt"),
        monitor=mon,
    )
    q.awaitTermination()
    assert mon.n_appended == 200
    row = embs.filter(F.col("id") == 0).first()
    qv = [float(x) for x in row.embedding]
    got = kmt.tree_search(spark, idx, qv, k=10, round_digits=6).collect()
    want = exact_search(spark, SF_SMALL, qv, k=10, round_digits=6).collect()
    assert [(r.id, r.score) for r in got] == [(r.id, r.score) for r in want]


def test_stream_lexical_ingest_equals_offline_build(spark, tmp_path):
    """The streamed lexical generation is bit-identical to the offline
    build: same meta scalars, same per-doc scores, same top-k."""
    from ydb_vector_search_simple_api_spark.operators import ranking as RK
    from ydb_vector_search_simple_api_spark.sources.store import load_documents
    from ydb_vector_search_simple_api_spark.streaming import (
        index_ingest as II,
    )

    streamed = II.stream_lexical_ingest(
        spark, SF_SMALL, out_dir=str(tmp_path / "lexing"), n_shards=3
    )
    offline = RK.build_lexical_index(
        spark, load_documents(spark, SF_SMALL), str(tmp_path / "lexoff")
    )
    assert (streamed.k1, streamed.b, streamed.n_docs, streamed.avgdl) == (
        offline.k1, offline.b, offline.n_docs, offline.avgdl
    )
    for terms in (RK.QUERY_TERMS, ("vector",)):
        got = sorted(
            tuple(r)
            for r in RK.bm25_scores_indexed(spark, streamed, terms).collect()
        )
        want = sorted(
            tuple(r)
            for r in RK.bm25_scores_indexed(spark, offline, terms).collect()
        )
        assert got == want


def test_stream_sq_ingest_appends_and_search_is_exact(spark, tmp_path):
    from pyspark.sql import functions as F

    from ydb_vector_search_simple_api_spark.operators import sq
    from ydb_vector_search_simple_api_spark.operators.search import exact_search

    embs = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").select(
        F.col("vec_id").alias("id"), "embedding"
    )
    idx = sq.build_sq_index(
        spark, embs.filter(F.col("id") < 300), str(tmp_path / "sq")
    )
    landing = str(tmp_path / "landing")
    embs.filter(F.col("id") >= 300).repartition(2).write.parquet(landing)
    q = index_ingest.stream_ingest(
        spark,
        [idx],
        _landing_stream(spark, landing),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    idx2 = sq.load_sq_index(str(tmp_path / "sq"))
    assert idx2.n_rows == 500
    row = embs.filter(F.col("id") == 0).first()
    qv = [float(x) for x in row.embedding]
    got = shortlist_search(
        spark, idx2, embs, qv, k=10, shortlist=None, round_digits=6
    ).collect()
    want = exact_search(spark, SF_SMALL, qv, k=10, round_digits=6).collect()
    assert [(r.id, r.score) for r in got] == [(r.id, r.score) for r in want]
