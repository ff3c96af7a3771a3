"""Two-level k-means tree: recall contract, pruning, YDB-shape parity
(SURVEY.md §4.3; reference app.py:186-196 KMeansTreeSearchTopSize)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ydb_vector_search_simple_api_spark.operators import tree as kmt
from ydb_vector_search_simple_api_spark.operators.layout import compact
from ydb_vector_search_simple_api_spark.operators.search import exact_search
from ydb_vector_search_simple_api_spark.plans import checks
from ydb_vector_search_simple_api_spark.sources.store import load_embeddings

from conftest import SF_SMALL

N_L1 = 3
FANOUT = 3


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("kmt") / "index")
    embs = load_embeddings(spark, SF_SMALL).select(
        F.col("vec_id").alias("id"), "embedding"
    )
    return kmt.build_kmeans_tree(
        spark, embs, out, n_l1=N_L1, fanout=FANOUT, seed=42
    )


@pytest.fixture(scope="module")
def qvec(spark):
    row = load_embeddings(spark, SF_SMALL).filter(F.col("vec_id") == 7).head()
    return [float(x) for x in row.embedding]


def _exact_ids(spark, qvec, k, strategy="CosineSimilarity"):
    return [
        r.id for r in exact_search(spark, SF_SMALL, qvec, k=k, strategy=strategy).collect()
    ]


def test_leaf_partitions_cover_corpus(spark, built):
    """Every corpus row lands in exactly one leaf directory."""
    n_src = load_embeddings(spark, SF_SMALL).count()
    leafed = spark.read.parquet(built.path)
    assert leafed.count() == n_src
    assert leafed.select("id").distinct().count() == n_src
    # leaves in the data agree with the centroid metadata
    data_leaves = {
        (r.l1, r.l2)
        for r in leafed.select("l1", "l2").distinct().collect()
    }
    meta_leaves = {
        (l1, l2)
        for l1 in range(built.n_l1)
        for l2 in range(len(built.centroids_l2[l1]))
    }
    assert data_leaves <= meta_leaves


def test_full_width_equals_exact(spark, built, qvec):
    """Both widths covering the whole tree -> every leaf read -> exact."""
    for strategy in ("CosineSimilarity", "EuclideanDistance"):
        got = [
            r.id
            for r in kmt.tree_search(
                spark, built, qvec, k=10, strategy=strategy
            ).collect()
        ]
        assert got == _exact_ids(spark, qvec, 10, strategy), strategy


def test_recall_monotone_in_leaf_width(spark, built, qvec):
    truth = set(_exact_ids(spark, qvec, 10))
    recalls = []
    for w2 in (1, 2, 4, built.n_leaves):
        got = {
            r.id
            for r in kmt.tree_search(
                spark, built, qvec, k=10, top_l1=built.n_l1, top_l2=w2
            ).collect()
        }
        recalls.append(len(got & truth) / len(truth))
    assert recalls == sorted(recalls)
    assert recalls[-1] == 1.0
    assert recalls[0] > 0


def test_recall_monotone_in_cell_width(spark, built, qvec):
    truth = set(_exact_ids(spark, qvec, 10))
    recalls = []
    for w1 in (1, 2, N_L1):
        got = {
            r.id
            for r in kmt.tree_search(
                spark, built, qvec, k=10, top_l1=w1, top_l2=built.n_leaves
            ).collect()
        }
        recalls.append(len(got & truth) / len(truth))
    assert recalls == sorted(recalls)
    assert recalls[-1] == 1.0


def test_single_knob_descends_both_levels(spark, built, qvec):
    """search_top_size mirrors YDB's per-level knob: width 1 reads the
    single best leaf of the single best cell and still finds the
    self-match (the query's own row lives in its home leaf)."""
    top = kmt.tree_search(spark, built, qvec, k=1, search_top_size=1).head()
    assert top.id == 7


def test_partition_pruning_in_plan(spark, built, qvec):
    df = kmt.tree_search(spark, built, qvec, k=5, search_top_size=1)
    pf = checks.partition_filters(df)
    assert "l1" in pf and "l2" in pf, checks.formatted_plan(df)


def test_routing_cost_is_sublinear(built, qvec):
    """The tree's routing advantage: width-1 routing looks at
    n_l1 + fanout centroids, not every leaf."""
    leaves = kmt.route(built, qvec, "CosineSimilarity", top_l1=1, top_l2=1)
    assert len(leaves) == 1
    l1, l2 = leaves[0]
    assert 0 <= l1 < built.n_l1
    assert 0 <= l2 < len(built.centroids_l2[l1])


def test_load_roundtrip(built):
    loaded = kmt.load_kmeans_tree(built.path)
    assert loaded.n_l1 == built.n_l1
    assert loaded.fanout == built.fanout
    assert (loaded.centroids_l1 == built.centroids_l1).all()
    for a, b in zip(loaded.centroids_l2, built.centroids_l2):
        assert (a == b).all()


def test_invalid_width(spark, built, qvec):
    with pytest.raises(ValueError):
        kmt.tree_search(spark, built, qvec, k=5, search_top_size=0)


def test_tree_knn_join_distributed_exact_at_full_width(spark, built):
    from pyspark.sql import functions as F

    from ydb_vector_search_simple_api_spark.operators.search import knn_join
    from ydb_vector_search_simple_api_spark.operators.tree import (
        tree_knn_join_distributed,
    )
    from ydb_vector_search_simple_api_spark.sources.store import load_embeddings

    embs = load_embeddings(spark, SF_SMALL)
    queries = embs.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    corpus = embs.select(F.col("vec_id").alias("id"), "embedding")
    want = {(r.query_id, r.rank): (r.id, round(r.score, 6))
            for r in knn_join(spark, queries, corpus, k=5, round_digits=6).collect()}
    got = {(r.query_id, r.rank): (r.id, round(r.score, 6))
           for r in tree_knn_join_distributed(
               spark, built, queries, k=5, round_digits=6).collect()}
    assert got == want

    # pruned width: subset of ids per query, recall sane
    pruned = tree_knn_join_distributed(
        spark, built, queries, k=5, search_top_size=2
    ).collect()
    per_q = {}
    for r in pruned:
        per_q.setdefault(r.query_id, set()).add(r.id)
    want_ids = {}
    for (q, _), (i, _) in want.items():
        want_ids.setdefault(q, set()).add(i)
    recalls = [len(per_q.get(q, set()) & ids) / len(ids) for q, ids in want_ids.items()]
    assert sum(recalls) / len(recalls) >= 0.4


def test_tree_join_per_level_widths(spark, built):
    """tree_knn_join_distributed honors per-level (top_l1, top_l2)
    overrides: recall is monotone in each width with the other held
    full, and the full-width corner equals the exact join."""
    from ydb_vector_search_simple_api_spark.operators.search import knn_join
    from ydb_vector_search_simple_api_spark.operators.tree import (
        tree_knn_join_distributed,
    )

    embs = load_embeddings(spark, SF_SMALL)
    queries = embs.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    corpus = embs.select(F.col("vec_id").alias("id"), "embedding")
    truth: dict[int, set] = {}
    for r in knn_join(spark, queries, corpus, k=5).collect():
        truth.setdefault(r.query_id, set()).add(r.id)
    denom = sum(len(t) for t in truth.values())
    n_leaves = built.n_leaves

    def recall(w1, w2):
        got: dict[int, set] = {}
        rows = tree_knn_join_distributed(
            spark, built, queries, k=5, top_l1=w1, top_l2=w2
        ).collect()
        for r in rows:
            got.setdefault(r.query_id, set()).add(r.id)
        return sum(len(got.get(q, set()) & t) for q, t in truth.items()) / denom

    by_w1 = [recall(w1, n_leaves) for w1 in (1, 2, N_L1)]
    assert by_w1 == sorted(by_w1)
    by_w2 = [recall(N_L1, w2) for w2 in (1, 3, n_leaves)]
    assert by_w2 == sorted(by_w2)
    assert by_w1[-1] == 1.0 and by_w2[-1] == 1.0


def test_sampled_fit_tree_full_width_exact(spark, tmp_path_factory, qvec):
    """Both tree fits (L1 KMeans + per-cell L2 Lloyd) bounded to a
    hash-sample: leaf assignment covers every row, every cell keeps at
    least one leaf, and full-width search stays exact."""
    embs = load_embeddings(spark, SF_SMALL).select(
        F.col("vec_id").alias("id"), "embedding"
    )
    out = str(tmp_path_factory.mktemp("kmt_sampled") / "tree")
    idx = kmt.build_kmeans_tree(
        spark, embs, out, n_l1=N_L1, fanout=FANOUT, seed=42, fit_sample_rows=64
    )
    assert spark.read.parquet(idx.path).count() == embs.count()
    assert all(len(c) >= 1 for c in idx.centroids_l2)
    got = [
        r.id for r in kmt.tree_search(spark, idx, qvec, k=10).collect()
    ]  # width None = full = exact
    assert got == _exact_ids(spark, qvec, 10, "CosineSimilarity")

    with pytest.raises(ValueError):
        kmt.build_kmeans_tree(
            spark, embs, out + "_bad", n_l1=3, fanout=3, fit_sample_rows=5
        )


def test_tree_upsert_appends_and_stays_exact(spark, tmp_path_factory):
    """tree_upsert routes new vectors to build-consistent leaves;
    full-width search over the upserted tree == exact over the union,
    and the self-match of an upserted row serves immediately."""
    base = str(tmp_path_factory.mktemp("kmt_upsert"))
    embs = load_embeddings(spark, SF_SMALL).select(
        F.col("vec_id").alias("id"), "embedding"
    )
    first = embs.filter(F.col("id") % 2 == 0)
    second = embs.filter(F.col("id") % 2 == 1)
    idx = kmt.build_kmeans_tree(
        spark, first, base + "/tree", n_l1=N_L1, fanout=FANOUT, seed=42
    )
    stats = kmt.tree_upsert(spark, idx, second)
    assert stats["n_appended"] == second.count()
    assert stats["max_assign_l2"] > 0.0
    assert sum(stats["per_partition"].values()) == stats["n_appended"]
    assert spark.read.parquet(idx.path).count() == embs.count()

    qrow = embs.filter(F.col("id") == 1).head()
    qv = [float(x) for x in qrow.embedding]
    got = [r.id for r in kmt.tree_search(spark, idx, qv, k=10).collect()]
    assert got == _exact_ids(spark, qv, 10, "CosineSimilarity")
    assert got[0] == 1

    # a batch with a mismatched-dimension row raises and appends nothing
    bad = spark.createDataFrame(
        [(999999, [1.0, 2.0])], "id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="index dim 64"):
        kmt.tree_upsert(spark, idx, bad)
    assert spark.read.parquet(idx.path).count() == embs.count()


def test_tree_compact_dedups_and_preserves_results(spark, tmp_path_factory):
    import glob

    base = str(tmp_path_factory.mktemp("kmt_compact"))
    embs = load_embeddings(spark, SF_SMALL).select(
        F.col("vec_id").alias("id"), "embedding"
    )
    idx = kmt.build_kmeans_tree(
        spark, embs, base + "/g0", n_l1=N_L1, fanout=FANOUT, seed=42
    )
    dup = embs.filter(F.col("id") % 3 == 0)
    for _ in range(2):  # churn + replay duplicates
        kmt.tree_upsert(spark, idx, dup)
    n_files_before = len(glob.glob(base + "/g0/l1=*/l2=*/*.parquet"))

    idx2 = compact(spark, idx, base + "/g1", dedup_ids=True)
    n_files_after = len(glob.glob(base + "/g1/l1=*/l2=*/*.parquet"))
    assert n_files_after < n_files_before
    assert spark.read.parquet(idx2.path).count() == embs.count()

    qrow = embs.filter(F.col("id") == 3).head()
    qv = [float(x) for x in qrow.embedding]
    a = [(r.id, round(r.score, 6)) for r in kmt.tree_search(
        spark, idx2, qv, k=10, round_digits=6).collect()]
    b = [(r.id, round(r.score, 6)) for r in kmt.tree_search(
        spark, kmt.build_kmeans_tree(
            spark, embs, base + "/clean", n_l1=N_L1, fanout=FANOUT, seed=42
        ), qv, k=10, round_digits=6).collect()]
    assert a == b


def test_tree_routed_blocked_matches_distributed(spark, built):
    from pyspark.sql import functions as F

    from ydb_vector_search_simple_api_spark.operators.tree import (
        tree_knn_join_distributed,
        tree_knn_join_routed_blocked,
    )

    embs = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    queries = embs.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    for widths in ({"search_top_size": None}, {"top_l1": 2, "top_l2": 4}):
        a = tree_knn_join_routed_blocked(
            spark, built, queries, k=5, **widths
        ).collect()
        b = tree_knn_join_distributed(
            spark, built, queries, k=5, **widths
        ).collect()
        assert [(r.query_id, r.id, r.rank) for r in a] == [
            (r.query_id, r.id, r.rank) for r in b
        ]
        for ra, rb in zip(a, b):
            assert ra.score == pytest.approx(rb.score, abs=1e-9)


def test_tree_reads_routed_leaves_with_stored_schema(spark, built, qvec):
    """The tree shares the flat index's explicit-directory reader:
    the build stores the layout schema, building the search plan
    launches no Spark job, and an empty or unwritten leaf set reads
    no rows."""
    from conftest import spark_jobs

    from ydb_vector_search_simple_api_spark.operators.index import _read_clusters

    loaded = kmt.load_kmeans_tree(built.path)
    assert loaded.schema.fieldNames() == ["id", "embedding", "l1", "l2"]

    def plan():
        df = kmt.tree_search(spark, loaded, qvec, k=5, search_top_size=2)
        return checks.formatted_plan(df)

    _, n = spark_jobs(spark, plan)
    assert n == 0
    for keep in ([], [(N_L1 + 1, 0)]):
        df = _read_clusters(spark, loaded, keep)
        assert df.columns == ["id", "embedding", "l1", "l2"]
        assert df.collect() == []
