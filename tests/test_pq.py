"""Product quantization (operators/pq.py): exactness of the full
rerank path, recall of the pure-ADC path, encode invariants, and the
lossless-reconstruction property on a bounded subvector vocabulary."""

from __future__ import annotations

import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from ydb_vector_search_simple_api_spark.operators import pq
from ydb_vector_search_simple_api_spark.operators.layout import codes_upsert, compact
from ydb_vector_search_simple_api_spark.operators.search import shortlist_search
from ydb_vector_search_simple_api_spark.functions.distance import score_expr
from ydb_vector_search_simple_api_spark.sources.store import load_embeddings

SF = "/root/testdata/sf0.001"
ROUND = 6


def _corpus(spark):
    return load_embeddings(spark, SF).select(
        F.col("vec_id").alias("id"), "embedding"
    )


def _qvec(spark):
    row = (
        load_embeddings(spark, SF).filter(F.col("vec_id") == 0).select("embedding").head()
    )
    return [float(x) for x in row.embedding]


@pytest.fixture(scope="module")
def pq_norm(spark):
    out = tempfile.mkdtemp(prefix="svs_pq_norm_")
    return pq.build_pq_index(
        spark, _corpus(spark), out, m=8, nbits=8, normalize=True
    )


@pytest.fixture(scope="module")
def pq_raw(spark):
    out = tempfile.mkdtemp(prefix="svs_pq_raw_")
    return pq.build_pq_index(
        spark, _corpus(spark), out, m=8, nbits=8, normalize=False
    )


def _exact_topk(spark, strategy, k):
    from ydb_vector_search_simple_api_spark.config import sort_descending

    df = _corpus(spark)
    score = F.round(score_expr(strategy, "embedding", _qvec(spark)), ROUND) + F.lit(0.0)
    direction = (
        F.col("score").desc_nulls_last()
        if sort_descending(strategy)
        else F.col("score").asc_nulls_last()
    )
    return (
        df.withColumn("score", score)
        .select("id", "score")
        .orderBy(direction, F.col("id").asc())
        .limit(k)
        .collect()
    )


def test_codes_are_m_bytes(spark, pq_norm):
    row = spark.read.parquet(pq_norm.path).head()
    assert len(row.codes) == 8


def test_rerank_full_is_exact_cosine(spark, pq_norm):
    n = _corpus(spark).count()
    got = shortlist_search(
        spark, pq_norm, _corpus(spark), _qvec(spark), k=10,
        strategy="CosineSimilarity", shortlist=n, round_digits=ROUND,
    ).collect()
    want = _exact_topk(spark, "CosineSimilarity", 10)
    assert [(r.id, r.score) for r in got] == [(r.id, r.score) for r in want]


@pytest.mark.parametrize(
    "strategy", ["InnerProductSimilarity", "EuclideanDistance", "ManhattanDistance"]
)
def test_rerank_full_is_exact_raw(spark, pq_raw, strategy):
    n = _corpus(spark).count()
    got = shortlist_search(
        spark, pq_raw, _corpus(spark), _qvec(spark), k=10,
        strategy=strategy, shortlist=n, round_digits=ROUND,
    ).collect()
    want = _exact_topk(spark, strategy, 10)
    assert [(r.id, r.score) for r in got] == [(r.id, r.score) for r in want]


def test_adc_recall_and_rerank_monotone(spark, pq_norm):
    exact_ids = {r.id for r in _exact_topk(spark, "CosineSimilarity", 10)}
    adc_ids = {
        r.id
        for r in pq_norm.shortlist(
            spark, _qvec(spark), 10, "CosineSimilarity"
        ).collect()
    }
    recall_adc = len(adc_ids & exact_ids) / 10
    assert recall_adc >= 0.5, f"pure-ADC recall@10 too low: {recall_adc}"

    def recall_at(shortlist):
        ids = {
            r.id
            for r in shortlist_search(
                spark, pq_norm, _corpus(spark), _qvec(spark), k=10,
                strategy="CosineSimilarity", shortlist=shortlist,
            ).collect()
        }
        return len(ids & exact_ids) / 10

    r64, r256 = recall_at(64), recall_at(256)
    assert r64 >= recall_adc
    assert r256 >= r64
    assert r256 >= 0.8


def test_cosine_requires_normalized_index(spark, pq_raw):
    with pytest.raises(ValueError, match="normalize=True"):
        pq_raw.shortlist(spark, _qvec(spark), 5, "CosineSimilarity")


def test_dim_mismatch_rejected(spark, pq_norm):
    with pytest.raises(ValueError, match="dim"):
        pq_norm.shortlist(spark, [1.0, 2.0], 5, "InnerProductSimilarity")


def test_adc_exact_on_bounded_vocabulary(spark):
    """When every subvector comes from a vocabulary that fits the
    codebook, encoding is lossless and ADC == exact inner product."""
    rng = np.random.default_rng(7)
    vocab = rng.normal(size=(4, 4))  # 4 patterns per 4-wide subspace
    picks = rng.integers(0, 4, size=(120, 4))  # 4 subspaces -> dim 16
    X = np.concatenate([vocab[picks[:, j]] for j in range(4)], axis=1)
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(len(X))], "id long, embedding array<float>"
    )
    out = tempfile.mkdtemp(prefix="svs_pq_vocab_")
    idx = pq.build_pq_index(spark, df, out, m=4, nbits=8, train_rows=120)
    q = [float(v) for v in X[0]]
    # lossless up to float association: the ADC estimate equals the
    # exact inner product per row (subspace-blocked vs sequential
    # summation differ only in the last ulps, far below 1e-9)
    adc = {
        r.id: r.score
        for r in idx.shortlist(spark, q, 120, "InnerProductSimilarity").collect()
    }
    exact = {
        r.id: r.score
        for r in df.withColumn(
            "score", score_expr("InnerProductSimilarity", "embedding", q)
        ).select("id", "score").collect()
    }
    assert set(adc) == set(exact)
    assert max(abs(adc[i] - exact[i]) for i in adc) < 1e-9


def test_ivfpq_full_width_full_rerank_is_exact(spark, tmp_path_factory):
    from ydb_vector_search_simple_api_spark.operators import index as ivf_mod

    base = str(tmp_path_factory.mktemp("ivfpq"))
    ivf = ivf_mod.build_ivf_index(
        spark, _corpus(spark), base + "/ivf", n_clusters=4, seed=42
    )
    idx = pq.build_ivfpq_index(spark, ivf, base + "/codes", m=8, normalize=True)
    n = _corpus(spark).count()
    got = shortlist_search(
        spark, idx, None, _qvec(spark), k=10, strategy="CosineSimilarity",
        shortlist=n, round_digits=ROUND, ivf_index=ivf, search_top_size=4,
    ).collect()
    want = _exact_topk(spark, "CosineSimilarity", 10)
    assert [(r.id, r.score) for r in got] == [(r.id, r.score) for r in want]

    # pruned read: the codes scan must carry a cluster_id partition
    # filter (directories pruned at planning time)
    pruned = shortlist_search(
        spark, idx, None, _qvec(spark), k=10, strategy="CosineSimilarity",
        shortlist=64, ivf_index=ivf, search_top_size=2,
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "cluster_id" in plan

    exact_ids = {r.id for r in want}
    pruned_ids = {r.id for r in pruned.collect()}
    assert len(pruned_ids & exact_ids) / 10 >= 0.5


def test_pq_knn_join_recall_and_determinism(spark, pq_norm):
    from ydb_vector_search_simple_api_spark.operators.search import knn_join

    embs = _corpus(spark)
    queries = embs.filter(F.col("id") < 8).select(
        F.col("id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    truth = {}
    for r in knn_join(spark, queries, embs, k=10).collect():
        truth.setdefault(r.query_id, set()).add(r.id)
    got = {}
    out1 = pq.pq_knn_join(spark, pq_norm, queries, k=10).collect()
    for r in out1:
        got.setdefault(r.query_id, set()).add(r.id)
    assert set(got) == set(truth)
    recall = sum(len(got[q] & truth[q]) for q in truth) / (10 * len(truth))
    assert recall >= 0.5, f"batch ADC recall too low: {recall}"
    out2 = pq.pq_knn_join(spark, pq_norm, queries, k=10).collect()
    key = lambda r: (r.query_id, r.rank)
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))


def test_pq_plan_shapes(spark, pq_norm):
    """Scale contract of the ADC paths: the codes scan pipes straight
    into the Python batch scorer and the global top-k is
    TakeOrderedAndProject — no exchange before the local top-k, no
    global sort anywhere."""
    from ydb_vector_search_simple_api_spark.plans.checks import (
        simple_plan,
        uses_take_ordered,
    )

    adc = pq_norm.shortlist(spark, _qvec(spark), 10, "CosineSimilarity")
    plan = simple_plan(adc)
    assert uses_take_ordered(adc), plan
    # one MapInPandas over the scan, and no shuffle feeding it
    scan_to_python = plan.split("MapInPandas")[-1]
    assert "Exchange" not in scan_to_python, plan

    rerank = shortlist_search(
        spark, pq_norm, _corpus(spark), _qvec(spark), k=10,
        strategy="CosineSimilarity", shortlist=64,
    )
    rplan = simple_plan(rerank)
    assert "BroadcastHashJoin" in rplan and "LeftSemi" in rplan, rplan


def test_pq_upsert_extends_search_space(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pq_upsert"))
    embs = _corpus(spark)
    first = embs.filter(F.col("id") % 2 == 0)
    second = embs.filter(F.col("id") % 2 == 1)
    idx = pq.build_pq_index(spark, first, out, m=8, nbits=8, normalize=True)

    n = codes_upsert(spark, idx, second)["n_appended"]
    assert n == second.count()
    total = spark.read.parquet(idx.path).count()
    assert total == embs.count()

    # full rerank over the upserted index == exact over the union
    got = shortlist_search(
        spark, idx, embs, _qvec(spark), k=10,
        strategy="CosineSimilarity", shortlist=total, round_digits=ROUND,
    ).collect()
    want = _exact_topk(spark, "CosineSimilarity", 10)
    assert [(r.id, r.score) for r in got] == [(r.id, r.score) for r in want]

    # mismatched dims raise, not mis-encoded
    bad = spark.createDataFrame(
        [(999999, [1.0, 2.0])], "id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="index dim"):
        codes_upsert(spark, idx, bad)


def test_nbits_over_8_rejected(spark):
    with pytest.raises(ValueError, match="nbits"):
        pq.train_pq_codebooks(np.random.default_rng(0).normal(size=(64, 8)), m=2, nbits=9)
    with pytest.raises(ValueError, match="nbits"):
        pq.build_pq_index(
            spark, _corpus(spark), tempfile.mkdtemp(prefix="svs_pq_bad_"),
            m=8, nbits=12,
        )


def test_pq_upsert_partitioned_layout(spark, tmp_path_factory):
    """IVFADC maintenance: the upsert of a partitioned codes layout must
    route rows to cluster directories (never mix in flat files), and
    must refuse to append without the routing centroids."""
    from ydb_vector_search_simple_api_spark.operators import index as ivf_mod

    base = str(tmp_path_factory.mktemp("ivfpq_up"))
    embs = _corpus(spark)
    first = embs.filter(F.col("id") % 2 == 0)
    second = embs.filter(F.col("id") % 2 == 1)
    ivf = ivf_mod.build_ivf_index(spark, first, base + "/ivf", n_clusters=4, seed=42)
    idx = pq.build_ivfpq_index(spark, ivf, base + "/codes", m=8, normalize=True)
    assert idx.partition_col == "cluster_id"
    assert pq.load_pq_index(idx.path).partition_col == "cluster_id"

    # refuse flat appends into a hive-partitioned directory
    with pytest.raises(ValueError, match="partitioned"):
        codes_upsert(spark, idx, second)

    n = codes_upsert(spark, idx, second, ivf_index=ivf)["n_appended"]
    assert n == second.count()

    # partition discovery still intact: every row has a cluster_id and
    # the count matches the union
    codes = spark.read.parquet(idx.path)
    assert codes.count() == embs.count()
    assert codes.filter(F.col("cluster_id").isNull()).count() == 0
    # routing agrees with ivf_upsert's nearest-centroid assignment:
    # pruned ivfpq reads keep working and see the appended rows
    mask = second.select("id").collect()
    appended_ids = {r.id for r in mask}
    seen = {
        r.id
        for r in idx.shortlist(
            spark, _qvec(spark), embs.count(), "CosineSimilarity",
            keep=list(range(4)),
        ).collect()
    }
    assert appended_ids <= seen


def test_pq_compact_dedup_and_partitioning(spark, tmp_path_factory):
    """The rewrite folds replay duplicates out of the codes layout and
    preserves the IVFADC hive partitioning across generations."""
    from ydb_vector_search_simple_api_spark.operators import index as ivf_mod

    base = str(tmp_path_factory.mktemp("pq_compact"))
    embs = _corpus(spark)
    ivf = ivf_mod.build_ivf_index(spark, embs, base + "/ivf", n_clusters=4, seed=42)
    idx = pq.build_ivfpq_index(spark, ivf, base + "/codes", m=8, normalize=True)
    n = embs.count()

    dup = embs.filter(F.col("id") % 5 == 0)
    codes_upsert(spark, idx, dup, ivf_index=ivf)  # replayed batch
    assert spark.read.parquet(idx.path).count() == n + dup.count()

    idx2 = compact(spark, idx, base + "/codes_g1", dedup_ids=True)
    codes = spark.read.parquet(idx2.path)
    assert codes.count() == n
    assert idx2.partition_col == "cluster_id"
    assert "cluster_id" in codes.columns  # partition discovery intact
    assert pq.load_pq_index(idx2.path).partition_col == "cluster_id"

    # ADC results over the deduped generation == over the pre-dup index
    a = [(r.id, round(r.score, 9)) for r in idx2.shortlist(
        spark, _qvec(spark), 10, "CosineSimilarity").collect()]
    # compare against a fresh dup-free build
    ivf2 = ivf_mod.build_ivf_index(spark, embs, base + "/ivf2", n_clusters=4, seed=42)
    clean = pq.build_ivfpq_index(spark, ivf2, base + "/codes_clean", m=8, normalize=True)
    b = [(r.id, round(r.score, 9)) for r in clean.shortlist(
        spark, _qvec(spark), 10, "CosineSimilarity").collect()]
    assert a == b
