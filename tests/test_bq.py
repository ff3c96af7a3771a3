"""Binary quantization: packing goldens, JVM Hamming parity, exactness
at full shortlist, recall contract on pruned shortlists."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ydb_vector_search_simple_api_spark.operators import bq
from ydb_vector_search_simple_api_spark.operators.layout import codes_upsert, compact
from ydb_vector_search_simple_api_spark.operators.search import (
    exact_search,
    shortlist_search,
)
from ydb_vector_search_simple_api_spark.plans.checks import formatted_plan, uses_take_ordered

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
def bq_index(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("bq_idx"))
    return bq.build_bq_index(spark, _src(spark), path, dim=64)


def test_pack_bits_golden():
    # 64 dims, alternating +/-: bit i set iff x_i > 0, big-endian words
    v = [1.0 if i % 2 == 0 else -1.0 for i in range(64)]
    (w,) = bq.pack_query_bits(v)
    assert (w & 0xFFFFFFFFFFFFFFFF) == 0xAAAAAAAAAAAAAAAA
    # zeros and NaN pack as 0-bits
    v2 = [0.0] * 32 + [float("nan")] * 32
    assert bq.pack_query_bits(v2) == [0]
    # 65 dims -> 2 words, second word has only the top bit position
    v3 = [1.0] * 65
    w3 = bq.pack_query_bits(v3)
    assert len(w3) == 2
    assert (w3[0] & 0xFFFFFFFFFFFFFFFF) == 0xFFFFFFFFFFFFFFFF
    assert (w3[1] & 0xFFFFFFFFFFFFFFFF) == 1 << 63


def test_spark_hamming_matches_numpy(spark, bq_index):
    q = _qvec(spark)
    got = {
        r.id: r.hamming
        for r in bq_index.shortlist(spark, q, 500, "CosineSimilarity").collect()
    }
    import pyarrow.parquet as pq_

    t = pq_.read_table(f"{SF_SMALL}/embeddings.parquet").to_pandas()
    X = np.vstack([np.asarray(v, dtype=np.float64) for v in t.embedding])
    want = ((X > 0) != (np.asarray(q) > 0)).sum(axis=1)
    for vid, h in zip(t.vec_id.values, want):
        assert got[int(vid)] == int(h)


def _column_hamming(bits_col, query_words):
    """The Column-lambda form ``hamming_expr`` replaced (the reference
    the SQL text must equal)."""
    q = F.array(*[F.lit(int(w)).cast("long") for w in query_words])
    per_word = F.zip_with(F.col(bits_col), q, lambda x, y: F.bit_count(x.bitwiseXOR(y)))
    return F.aggregate(per_word, F.lit(0), lambda acc, x: acc + x)


def test_hamming_sql_equals_the_column_form(spark):
    """``hamming_expr`` is one SQL string: the counts equal the Column
    lambda form's bit for bit (extreme words included), and so does the
    optimized plan up to lambda-variable names and expression ids."""
    import re

    words = [-(2**63), 2**63 - 1, 0, -1, 5, 2**40]
    rng = np.random.default_rng(3)
    rows = [([-(2**63), 0, -1, 7, 2**62, 9],)] + [
        ([int(w) for w in rng.integers(-(2**63), 2**63 - 1, size=6, dtype=np.int64)],)
        for _ in range(50)
    ]
    df = spark.createDataFrame(rows, "bits array<bigint>")
    old = df.select(_column_hamming("bits", words).alias("h"))
    new = df.select(bq.hamming_expr("bits", words).alias("h"))
    assert [r.h for r in new.collect()] == [r.h for r in old.collect()]

    def plan(d):
        text = d._jdf.queryExecution().optimizedPlan().toString()
        return re.sub(r"#\d+", "#N", re.sub(r"lambda \w+#", "lambda v#", text))

    assert plan(new) == plan(old)


def test_full_shortlist_is_exact(spark, bq_index):
    q = _qvec(spark)
    got = shortlist_search(
        spark, bq_index, _src(spark), q, k=10, shortlist=None, round_digits=6
    ).collect()
    want = [
        (r.id, r.score)
        for r in exact_search(spark, SF_SMALL, q, k=10, round_digits=6).collect()
    ]
    assert [(r.id, r.score) for r in got] == want


def test_full_shortlist_exact_all_strategies(spark, bq_index):
    q = _qvec(spark)
    for strategy in ("EuclideanDistance", "ManhattanDistance", "InnerProductSimilarity"):
        got = shortlist_search(
            spark, bq_index, _src(spark), q, k=5,
            strategy=strategy, shortlist=None, round_digits=6,
        ).collect()
        want = exact_search(
            spark, SF_SMALL, q, k=5, strategy=strategy, round_digits=6
        ).collect()
        assert [(r.id, r.score) for r in got] == [(r.id, r.score) for r in want]


def _recall(spark, bq_index, q, shortlist, k=10):
    got = {
        r.id
        for r in shortlist_search(
            spark, bq_index, _src(spark), q, k=k, shortlist=shortlist
        ).collect()
    }
    exact = {r.id for r in exact_search(spark, SF_SMALL, q, k=k).collect()}
    return len(got & exact) / k


def test_pruned_shortlist_recall(spark, bq_index):
    q = _qvec(spark)
    # measured on this corpus: shortlist=100 -> recall 1.0; pin with slack
    r100 = _recall(spark, bq_index, q, shortlist=100)
    assert r100 >= 0.7
    # widening the shortlist cannot hurt (same rerank, superset candidates)
    r300 = _recall(spark, bq_index, q, shortlist=300)
    assert r300 >= r100
    r_full = _recall(spark, bq_index, q, shortlist=500)
    assert r_full == 1.0


def test_hamming_scan_is_pure_codegen(spark, bq_index):
    q = _qvec(spark)
    df = bq_index.shortlist(spark, q, 50, "CosineSimilarity")
    assert uses_take_ordered(df)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dim_mismatch_raises(spark, bq_index):
    with pytest.raises(ValueError):
        shortlist_search(spark, bq_index, _src(spark), [1.0, 2.0], k=5)


def test_compression_ratio(spark, bq_index):
    # 64-dim float32 = 256 bytes; 1 word = 8 bytes -> 32x
    assert bq_index.n_words == 1
    assert bq_index.dim // (bq_index.n_words * 64) == 1
    assert bq_index.n_rows == 500


def test_bq_knn_join_full_matches_exact_join(spark, bq_index):
    from ydb_vector_search_simple_api_spark.operators.search import knn_join

    embs = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    queries = embs.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = bq.bq_knn_join(
        spark, bq_index, _src(spark), queries, k=5, shortlist=None, round_digits=6
    ).collect()
    want = knn_join(spark, queries, _src(spark), k=5, round_digits=6).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_bq_knn_join_pruned_recall(spark, bq_index):
    from ydb_vector_search_simple_api_spark.operators.search import knn_join

    embs = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    queries = embs.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = bq.bq_knn_join(spark, bq_index, _src(spark), queries, k=5, shortlist=100).collect()
    want = knn_join(spark, queries, _src(spark), k=5).collect()
    exact = {}
    for r in want:
        exact.setdefault(r.query_id, set()).add(r.id)
    hit = sum(1 for r in got if r.id in exact[r.query_id])
    assert hit / len(want) >= 0.7


def test_bq_upsert_and_compact(spark, tmp_path):
    src = _src(spark)
    head = src.filter(F.col("id") < 400)
    tail = src.filter(F.col("id") >= 400)
    path = str(tmp_path / "bq_up")
    idx = bq.build_bq_index(spark, head, path, dim=64)
    assert idx.n_rows == 400
    codes_upsert(spark, idx, tail)
    idx = bq.load_bq_index(path)
    assert idx.n_rows == 500
    q = _qvec(spark)
    got = shortlist_search(
        spark, idx, src, q, k=10, shortlist=None, round_digits=6
    ).collect()
    want = exact_search(spark, SF_SMALL, q, k=10, round_digits=6).collect()
    assert [(r.id, r.score) for r in got] == [(r.id, r.score) for r in want]
    # replayed append -> duplicate ids; compact with dedup restores 1/row
    codes_upsert(spark, idx, tail)
    idx2 = bq.load_bq_index(path)
    assert idx2.n_rows == 600
    out = str(tmp_path / "bq_gen2")
    idx3 = compact(spark, idx2, out, dedup_ids=True)
    assert idx3.n_rows == 500
    got2 = shortlist_search(
        spark, idx3, src, q, k=10, shortlist=None, round_digits=6
    ).collect()
    assert [(r.id, r.score) for r in got2] == [(r.id, r.score) for r in want]
    import glob

    assert len(glob.glob(f"{out}/bits/part-*.parquet")) == 1


def test_ivfbq_exact_at_full_width_and_pruned_plan(spark, tmp_path):
    import __spark_entry__ as E
    from ydb_vector_search_simple_api_spark.plans.checks import partition_filters

    ivf_idx = E._ivf_index(spark, SF_SMALL)
    out = str(tmp_path / "ivfbq")
    bidx = bq.build_ivfbq_index(spark, ivf_idx, out)
    assert bidx.n_rows == 500
    q = _qvec(spark)
    got = shortlist_search(
        spark, bidx, None, q, ivf_index=ivf_idx, k=10,
        search_top_size=ivf_idx.n_clusters, shortlist=None, round_digits=6,
    ).collect()
    want = exact_search(spark, SF_SMALL, q, k=10, round_digits=6).collect()
    assert [(r.id, r.score) for r in got] == [(r.id, r.score) for r in want]
    # pruned width: planner-level partition pruning on cluster_id
    pruned = shortlist_search(
        spark, bidx, None, q, ivf_index=ivf_idx, k=10, search_top_size=2, shortlist=64
    )
    pf = partition_filters(pruned)
    assert "cluster_id" in pf
    # pruned result still ranks a nonempty candidate set
    assert 0 < len(pruned.collect()) <= 10


def test_partitioned_layout_maintenance_guards(spark, tmp_path):
    import __spark_entry__ as E

    ivf_idx = E._ivf_index(spark, SF_SMALL)
    out = str(tmp_path / "ivfbq_m")
    bidx = bq.build_ivfbq_index(spark, ivf_idx, out)
    assert bidx.partition_col == "cluster_id"
    # reload preserves the layout record
    assert bq.load_bq_index(out).partition_col == "cluster_id"
    # flat append into a hive-partitioned tree must be refused
    tail = _src(spark).filter(F.col("id") < 10)
    with pytest.raises(ValueError, match="partitioned"):
        codes_upsert(spark, bidx, tail)
    # compaction preserves the partition directories
    import glob

    gen2 = str(tmp_path / "ivfbq_gen2")
    c = compact(spark, bidx, gen2)
    assert c.partition_col == "cluster_id"
    assert len(glob.glob(f"{gen2}/bits/cluster_id=*")) == ivf_idx.n_clusters
    q = _qvec(spark)
    got = shortlist_search(
        spark, c, None, q, ivf_index=ivf_idx, k=10,
        search_top_size=ivf_idx.n_clusters, shortlist=None, round_digits=6,
    ).collect()
    want = exact_search(spark, SF_SMALL, q, k=10, round_digits=6).collect()
    assert [(r.id, r.score) for r in got] == [(r.id, r.score) for r in want]


def test_bq_knn_join_blocked_identical_to_window_path(spark, bq_index):
    # integer Hamming + (hamming, id) tiebreak: the blocked Arrow path
    # must reproduce the pure-codegen pair-join result EXACTLY, at
    # both pruned and full shortlists
    embs = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    queries = embs.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    for sl in (37, 100, None):
        a = bq.bq_knn_join(
            spark, bq_index, _src(spark), queries, k=5,
            shortlist=sl, round_digits=6, blocked=False,
        ).collect()
        b = bq.bq_knn_join(
            spark, bq_index, _src(spark), queries, k=5,
            shortlist=sl, round_digits=6, blocked=True,
        ).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]
