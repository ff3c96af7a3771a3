"""Scalar quantization (SQ8): encode golden, exactness at full
shortlist across all five strategies, recall on pruned shortlists,
filter contract, tombstoned deletes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ydb_vector_search_simple_api_spark.operators import sq, tombstones
from ydb_vector_search_simple_api_spark.operators.layout import codes_upsert, compact, encode_rows
from ydb_vector_search_simple_api_spark.operators.search import shortlist_search

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


@pytest.fixture(scope="module")
def sq_index(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("sq_idx"))
    return sq.build_sq_index(spark, _src(spark), path)


def test_encode_golden(spark):
    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.0, 0.25]), (2, [0.0, 0.0, 0.0, 0.0])],
        "id long, embedding array<double>",
    )
    rows = {r.id: r for r in encode_rows(df, sq.SqIndex).collect()}
    # scale = max|x| = 1.0; codes = floor(x*127 + 0.5) (round half up):
    # floor(-63.5 + 0.5) = -63, floor(31.75 + 0.5) = 32
    assert rows[1].codes == [127, -63, 0, 32]
    assert rows[1].qscale == 1.0
    assert rows[2].codes == [0, 0, 0, 0] and rows[2].qscale == 0.0
    # reconstruction error bound: |x - c*s/127| <= s/254 + ulp
    dec = [c * 1.0 / 127.0 for c in rows[1].codes]
    for x, d in zip([1.0, -0.5, 0.0, 0.25], dec):
        assert abs(x - d) <= 1.0 / 254.0 + 1e-12


@pytest.mark.parametrize(
    "strategy",
    [
        "CosineSimilarity",
        "InnerProductSimilarity",
        "CosineDistance",
        "EuclideanDistance",
        "ManhattanDistance",
    ],
)
def test_full_shortlist_is_exact(spark, sq_index, strategy):
    from ydb_vector_search_simple_api_spark.functions.distance import score_expr
    from ydb_vector_search_simple_api_spark.operators.search import _order_cols

    q = _qvec(spark)
    got = shortlist_search(
        spark, sq_index, _src(spark), q, k=10, strategy=strategy
    ).collect()
    exact = (
        _src(spark)
        .withColumn("score", score_expr(strategy, "embedding", q))
        .orderBy(*_order_cols(strategy))
        .limit(10)
        .collect()
    )
    assert [r.id for r in got] == [r.id for r in exact]
    for g, e in zip(got, exact):
        assert abs(g.score - e.score) < 1e-12


def test_pruned_shortlist_recall(spark, sq_index):
    """SQ8 reconstruction is near-exact, so even a tight shortlist
    should hold high recall@10 — and shortlist width must be
    monotone in recall."""
    q = _qvec(spark)
    exact_ids = {
        r.id
        for r in shortlist_search(spark, sq_index, _src(spark), q, k=10).collect()
    }
    recalls = {}
    for short in (10, 50, 200):
        ids = {
            r.id
            for r in shortlist_search(
                spark, sq_index, _src(spark), q, k=10, shortlist=short
            ).collect()
        }
        recalls[short] = len(ids & exact_ids) / 10.0
    assert recalls[200] >= recalls[50] >= recalls[10] - 1e-9
    assert recalls[10] >= 0.8  # 8-bit codes: tight shortlist, high recall
    assert recalls[200] == 1.0


def test_filter_contract(spark, sq_index):
    """filter_ids restricts BEFORE the shortlist: full-shortlist
    filtered == exact filtered (the shared non-strict contract)."""
    from ydb_vector_search_simple_api_spark.functions.distance import score_expr
    from ydb_vector_search_simple_api_spark.operators.search import _order_cols

    q = _qvec(spark)
    keep = _src(spark).filter(F.col("id") % 3 == 0).select("id")
    got = shortlist_search(
        spark, sq_index, _src(spark), q, k=10, filter_ids=keep
    ).collect()
    exact = (
        _src(spark)
        .filter(F.col("id") % 3 == 0)
        .withColumn(
            "score", score_expr("CosineSimilarity", "embedding", q)
        )
        .orderBy(*_order_cols("CosineSimilarity"))
        .limit(10)
        .collect()
    )
    assert [r.id for r in got] == [r.id for r in exact]


def test_tombstoned_delete(spark, tmp_path):
    path = str(tmp_path / "sq_tomb")
    idx = sq.build_sq_index(spark, _src(spark), path)
    q = _qvec(spark)
    before = [r.id for r in shortlist_search(spark, idx, _src(spark), q, k=5).collect()]
    victim = before[0]
    tombstones.delete_ids(spark, path, [victim])
    after = [r.id for r in shortlist_search(spark, idx, _src(spark), q, k=5).collect()]
    assert victim not in after
    assert after[:4] == before[1:5]


def test_upsert_and_compact(spark, tmp_path):
    """Append-generation maintenance: upserted rows are searchable;
    compact folds tombstones + duplicate ids into a fresh generation
    that searches identically."""
    src = _src(spark)
    half = src.filter(F.col("id") < 300)
    rest = src.filter(F.col("id") >= 300)
    path = str(tmp_path / "sq_up")
    idx = sq.build_sq_index(spark, half, path)
    codes_upsert(spark, idx, rest)
    idx = sq.load_sq_index(path)
    assert idx.n_rows == src.count()
    q = _qvec(spark)
    full = sq.build_sq_index(spark, src, str(tmp_path / "sq_full"))
    got = [r.id for r in shortlist_search(spark, idx, src, q, k=10).collect()]
    want = [r.id for r in shortlist_search(spark, full, src, q, k=10).collect()]
    assert got == want

    # delete one id, re-upsert it (resurrection), then compact with
    # dedup: exactly one surviving row per id, same search results
    victim = got[0]
    tombstones.delete_ids(spark, path, [victim])
    codes_upsert(spark, idx, src.filter(F.col("id") == victim))
    compacted = compact(spark, idx, str(tmp_path / "sq_gen2"), dedup_ids=True)
    assert compacted.n_rows == src.count()
    after = [
        r.id
        for r in shortlist_search(spark, compacted, src, q, k=10).collect()
    ]
    assert after == want


def test_ivfsq_composition(spark, tmp_path):
    """Directory pruning x int8 codes: exact at full width + full
    shortlist; pruned widths are recall-monotone; the flat-append
    guard refuses the partitioned layout."""
    from ydb_vector_search_simple_api_spark.operators import index as ivf_mod

    src = _src(spark)
    ivf_idx = ivf_mod.build_ivf_index(
        spark, src, str(tmp_path / "ivf"), n_clusters=8, seed=42
    )
    sq_idx = sq.build_ivfsq_index(spark, ivf_idx, str(tmp_path / "ivfsq"))
    assert sq_idx.partition_col == "cluster_id"
    q = _qvec(spark)

    exact = [
        r.id
        for r in shortlist_search(
            spark,
            sq.build_sq_index(spark, src, str(tmp_path / "sq_flat")),
            src, q, k=10,
        ).collect()
    ]
    full = [
        r.id
        for r in shortlist_search(
            spark, sq_idx, None, q, k=10, ivf_index=ivf_idx, search_top_size=8
        ).collect()
    ]
    assert full == exact

    rec = {}
    for w in (1, 4, 8):
        ids = {
            r.id
            for r in shortlist_search(
                spark, sq_idx, None, q, k=10, ivf_index=ivf_idx, search_top_size=w
            ).collect()
        }
        rec[w] = len(ids & set(exact)) / 10.0
    assert rec[8] == 1.0 and rec[8] >= rec[4] >= rec[1]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="partitioned"):
        codes_upsert(spark, sq_idx, src.limit(5))
