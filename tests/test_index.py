"""IVF index: recall contract + partition pruning (SURVEY.md §4.3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ydb_vector_search_simple_api_spark.operators import index as ivf
from ydb_vector_search_simple_api_spark.operators.search import exact_search
from ydb_vector_search_simple_api_spark.plans import checks
from ydb_vector_search_simple_api_spark.sources.store import load_embeddings

from conftest import SF_SMALL

N_CLUSTERS = 8


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ivf") / "index")
    embs = load_embeddings(spark, SF_SMALL).select(
        F.col("vec_id").alias("id"), "embedding"
    )
    idx = ivf.build_ivf_index(spark, embs, out, n_clusters=N_CLUSTERS, seed=42)
    return idx


@pytest.fixture(scope="module")
def qvec(spark):
    row = load_embeddings(spark, SF_SMALL).filter(F.col("vec_id") == 7).head()
    return [float(x) for x in row.embedding]


def _exact_ids(spark, qvec, k):
    return [
        r.id
        for r in exact_search(spark, SF_SMALL, qvec, k=k).collect()
    ]


def test_full_width_equals_exact(spark, built, qvec):
    """search_top_size >= n_clusters reads everything -> exact results."""
    got = [r.id for r in ivf.ivf_search(spark, built, qvec, k=10, search_top_size=N_CLUSTERS).collect()]
    assert got == _exact_ids(spark, qvec, 10)


def test_recall_monotone_in_width(spark, built, qvec):
    """Recall@k is monotonically non-decreasing in search_top_size."""
    truth = set(_exact_ids(spark, qvec, 10))
    recalls = []
    for width in (1, 2, 4, N_CLUSTERS):
        got = {
            r.id
            for r in ivf.ivf_search(spark, built, qvec, k=10, search_top_size=width).collect()
        }
        recalls.append(len(got & truth) / len(truth))
    assert recalls == sorted(recalls)
    assert recalls[-1] == 1.0
    # the labeled clusters make width-1 already useful
    assert recalls[0] > 0


def test_width1_hits_home_cluster(spark, built, qvec):
    """The query vector's own row lives in the nearest centroid's
    cluster, so width=1 must return the self-match first."""
    top = ivf.ivf_search(spark, built, qvec, k=1, search_top_size=1).head()
    assert top.id == 7


def test_partition_pruning_in_plan(spark, built, qvec):
    df = ivf.ivf_search(spark, built, qvec, k=5, search_top_size=2)
    pf = checks.partition_filters(df)
    assert "cluster_id" in pf, checks.formatted_plan(df)


def test_load_roundtrip(built):
    loaded = ivf.load_ivf_index(built.path)
    assert loaded.n_clusters == built.n_clusters
    assert (loaded.centroids == built.centroids).all()


def test_invalid_width(spark, built, qvec):
    with pytest.raises(ValueError):
        ivf.ivf_search(spark, built, qvec, k=5, search_top_size=0)


@pytest.fixture(scope="module")
def qbatch(spark):
    embs = load_embeddings(spark, SF_SMALL)
    return embs.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def test_ivf_knn_join_full_width_equals_exact(spark, built, qbatch):
    from ydb_vector_search_simple_api_spark.operators.search import knn_join

    embs = load_embeddings(spark, SF_SMALL)
    corpus = embs.select(F.col("vec_id").alias("id"), "embedding")
    exact = {
        (r.query_id, r.rank): r.id
        for r in knn_join(spark, qbatch, corpus, k=5).collect()
    }
    got = {
        (r.query_id, r.rank): r.id
        for r in ivf.ivf_knn_join(
            spark, built, qbatch, k=5, search_top_size=N_CLUSTERS
        ).collect()
    }
    assert got == exact


def test_ivf_knn_join_recall_monotone(spark, built, qbatch):
    from ydb_vector_search_simple_api_spark.operators.search import knn_join

    embs = load_embeddings(spark, SF_SMALL)
    corpus = embs.select(F.col("vec_id").alias("id"), "embedding")
    truth = {}
    for r in knn_join(spark, qbatch, corpus, k=5).collect():
        truth.setdefault(r.query_id, set()).add(r.id)
    recalls = []
    for width in (1, 2, N_CLUSTERS):
        got = {}
        for r in ivf.ivf_knn_join(spark, built, qbatch, k=5, search_top_size=width).collect():
            got.setdefault(r.query_id, set()).add(r.id)
        hit = sum(len(got.get(q, set()) & t) for q, t in truth.items())
        recalls.append(hit / sum(len(t) for t in truth.values()))
    assert recalls == sorted(recalls)
    assert recalls[-1] == 1.0
    assert recalls[0] > 0


def test_ivf_knn_join_distributed_full_width_equals_exact(spark, built, qbatch):
    from ydb_vector_search_simple_api_spark.operators.search import knn_join

    embs = load_embeddings(spark, SF_SMALL)
    corpus = embs.select(F.col("vec_id").alias("id"), "embedding")
    for strategy in ("CosineSimilarity", "EuclideanDistance"):
        exact = {
            (r.query_id, r.rank): r.id
            for r in knn_join(spark, qbatch, corpus, k=5, strategy=strategy).collect()
        }
        got = {
            (r.query_id, r.rank): r.id
            for r in ivf.ivf_knn_join_distributed(
                spark, built, qbatch, k=5, strategy=strategy,
                search_top_size=N_CLUSTERS,
            ).collect()
        }
        assert got == exact, strategy


def test_ivf_knn_join_distributed_matches_driver_variant_pruned(spark, built, qbatch):
    """Same cluster-assignment order as the driver-side ranking loop
    (rank key drops per-query constants only), so pruned-width results
    agree with ivf_knn_join, not just full-width."""
    for width in (1, 2):
        drv = {
            (r.query_id, r.rank): r.id
            for r in ivf.ivf_knn_join(
                spark, built, qbatch, k=5, search_top_size=width
            ).collect()
        }
        dist = {
            (r.query_id, r.rank): r.id
            for r in ivf.ivf_knn_join_distributed(
                spark, built, qbatch, k=5, search_top_size=width
            ).collect()
        }
        assert dist == drv, width


def test_ivf_knn_join_distributed_no_driver_collect(spark, built, qbatch):
    """The query side must stay distributed: no LocalTableScan /
    ExistingRDD (the signature of a collect+createDataFrame round
    trip) anywhere in the plan."""
    plan = ivf.ivf_knn_join_distributed(
        spark, built, qbatch, k=5, search_top_size=2
    )._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" not in plan
    assert "ExistingRDD" not in plan


def test_ivf_upsert_appends_and_stays_exact_at_full_width(spark, tmp_path_factory):
    """Build on the first half, upsert the second; full-width search
    over the upserted index equals exact search over the union."""
    from pyspark.sql import functions as F

    from ydb_vector_search_simple_api_spark.operators import index as ivf_mod
    from ydb_vector_search_simple_api_spark.sources.store import load_embeddings

    embs = load_embeddings(spark, SF_SMALL).select(
        F.col("vec_id").alias("id"), "embedding"
    )
    first = embs.filter(F.col("id") % 2 == 0)
    second = embs.filter(F.col("id") % 2 == 1)
    out = str(tmp_path_factory.mktemp("ivf_upsert") / "idx")
    idx = ivf_mod.build_ivf_index(spark, first, out, n_clusters=4, seed=42)

    stats = ivf_mod.ivf_upsert(spark, idx, second)
    assert stats["n_appended"] == second.count()
    assert sum(stats["per_partition"].values()) == stats["n_appended"]
    assert stats["max_assign_l2"] > 0.0

    qrow = embs.filter(F.col("id") == 1).head()
    qvec = [float(x) for x in qrow.embedding]
    got = [
        (r.id, round(r.score, 6))
        for r in ivf_mod.ivf_search(
            spark, idx, qvec, k=10, strategy="CosineSimilarity",
            search_top_size=4, round_digits=6,
        ).collect()
    ]
    from ydb_vector_search_simple_api_spark.functions.distance import score_expr

    score = F.round(score_expr("CosineSimilarity", "embedding", qvec), 6) + F.lit(0.0)
    want = [
        (r.id, r.score)
        for r in embs.withColumn("score", score)
        .select("id", "score")
        .orderBy(F.col("score").desc_nulls_last(), F.col("id").asc())
        .limit(10)
        .collect()
    ]
    assert got == want

    # a batch with a mismatched-dimension row raises and appends nothing
    bad = spark.createDataFrame([(999999, [1.0, 2.0])], "id long, embedding array<float>")
    with pytest.raises(ValueError, match="index dim 64"):
        ivf_mod.ivf_upsert(spark, idx, bad)
    assert spark.read.parquet(idx.path).count() == embs.count()


def test_ivf_compact_reduces_files_and_preserves_results(spark, tmp_path_factory):
    import glob

    from pyspark.sql import functions as F

    from ydb_vector_search_simple_api_spark.operators import index as ivf_mod
    from ydb_vector_search_simple_api_spark.sources.store import load_embeddings

    embs = load_embeddings(spark, SF_SMALL).select(
        F.col("vec_id").alias("id"), "embedding"
    )
    base = str(tmp_path_factory.mktemp("ivf_compact"))
    idx = ivf_mod.build_ivf_index(
        spark, embs.filter(F.col("id") % 2 == 0), base + "/g0", n_clusters=4, seed=42
    )
    # churn: several small appends -> many small files
    for m in (1, 3):
        ivf_mod.ivf_upsert(spark, idx, embs.filter(F.col("id") % 4 == m))

    def n_files(p):
        return len(glob.glob(p + "/cluster_id=*/*.parquet"))

    before = n_files(base + "/g0")
    idx2 = ivf_mod.ivf_compact(spark, idx, base + "/g1")
    after = n_files(base + "/g1")
    assert after < before
    assert after == len(glob.glob(base + "/g1/cluster_id=*"))  # one per cluster

    qrow = embs.filter(F.col("id") == 2).head()
    qvec = [float(x) for x in qrow.embedding]
    a = [(r.id, round(r.score, 6)) for r in ivf_mod.ivf_search(
        spark, idx, qvec, k=10, search_top_size=4, round_digits=6).collect()]
    b = [(r.id, round(r.score, 6)) for r in ivf_mod.ivf_search(
        spark, idx2, qvec, k=10, search_top_size=4, round_digits=6).collect()]
    assert a == b


def test_knn_join_variants_accept_string_query_ids(
    spark, built, qbatch, tmp_path_factory
):
    """Query-id types derive from the input schema in EVERY batch-join
    variant: string ids must flow through the driver-routed IVF join,
    the distributed IVF join, the distributed tree join, and the
    blocked-BLAS join with identical (query_id, rank) -> id results."""
    from ydb_vector_search_simple_api_spark.operators import tree as kmt
    from ydb_vector_search_simple_api_spark.operators.search import (
        knn_join,
        knn_join_blocked,
    )

    squeries = qbatch.select(
        F.concat(F.lit("q"), F.col("query_id").cast("string")).alias("query_id"),
        "query_vec",
    )
    embs = load_embeddings(spark, SF_SMALL)
    corpus = embs.select(F.col("vec_id").alias("id"), "embedding")
    exact = {
        (r.query_id, r.rank): r.id
        for r in knn_join(spark, squeries, corpus, k=5).collect()
    }
    assert all(isinstance(q, str) for q, _ in exact)

    tree_idx = kmt.build_kmeans_tree(
        spark,
        corpus,
        str(tmp_path_factory.mktemp("kmt_sid") / "tree"),
        n_l1=2,
        fanout=2,
    )
    variants = {
        "ivf_driver": ivf.ivf_knn_join(
            spark, built, squeries, k=5, search_top_size=N_CLUSTERS
        ),
        "ivf_dist": ivf.ivf_knn_join_distributed(
            spark, built, squeries, k=5, search_top_size=N_CLUSTERS
        ),
        "tree_dist": kmt.tree_knn_join_distributed(
            spark, tree_idx, squeries, k=5
        ),
        "blocked": knn_join_blocked(spark, squeries, corpus, k=5),
    }
    for name, df in variants.items():
        assert dict(df.dtypes)["query_id"] == "string", name
        got = {(r.query_id, r.rank): r.id for r in df.collect()}
        assert got == exact, name


def test_filtered_ivf_plan_shape(spark, built, qvec):
    """Non-strict filtered ANN keeps BOTH scale levers in the plan:
    cluster_id partition pruning AND a (broadcast) semi-join of the
    pushed-down filtered id set, under a TakeOrderedAndProject."""
    from ydb_vector_search_simple_api_spark.operators.search import (
        filtered_doc_ids,
    )

    flt_ids = filtered_doc_ids(spark, SF_SMALL, {"vendor": "fr"})
    df = ivf.ivf_search(
        spark, built, qvec, k=5, search_top_size=2, filter_ids=flt_ids
    )
    assert "cluster_id" in checks.partition_filters(df), checks.formatted_plan(df)
    plan = checks.simple_plan(df)
    assert "LeftSemi" in plan, plan
    assert checks.uses_take_ordered(df), plan
    assert "EqualTo(lang,fr)" in checks.pushed_filters(df), checks.formatted_plan(df)


def test_sampled_fit_build_full_width_exact(spark, tmp_path_factory, qvec):
    """KMeans fit bounded to a hash-sample (the 100 TB build shape):
    assignment still covers every row, and full-width search is exact
    regardless of where the centroids came from."""
    embs = load_embeddings(spark, SF_SMALL).select(
        F.col("vec_id").alias("id"), "embedding"
    )
    out = str(tmp_path_factory.mktemp("ivf_sampled") / "index")
    idx = ivf.build_ivf_index(
        spark, embs, out, n_clusters=N_CLUSTERS, seed=42, fit_sample_rows=64
    )
    assert spark.read.parquet(idx.path).count() == embs.count()
    got = [
        r.id
        for r in ivf.ivf_search(
            spark, idx, qvec, k=10, search_top_size=N_CLUSTERS
        ).collect()
    ]
    assert got == _exact_ids(spark, qvec, 10)
    # pruned width still functional (recall > 0, not asserting a curve)
    narrow = {
        r.id
        for r in ivf.ivf_search(spark, idx, qvec, k=10, search_top_size=2).collect()
    }
    assert narrow & set(got)

    with pytest.raises(ValueError):
        ivf.build_ivf_index(
            spark, embs, out + "_bad", n_clusters=8, fit_sample_rows=4
        )


def test_ivf_compact_dedup_ids(spark, tmp_path_factory):
    """Replay duplicates (same rows appended twice) fold away under
    dedup_ids=True with identical search results."""
    from ydb_vector_search_simple_api_spark.operators import index as ivf_mod

    base = str(tmp_path_factory.mktemp("ivf_dedup"))
    embs = load_embeddings(spark, SF_SMALL).select(
        F.col("vec_id").alias("id"), "embedding"
    )
    idx = ivf_mod.build_ivf_index(spark, embs, base + "/g0", n_clusters=4, seed=42)
    dup = embs.filter(F.col("id") % 5 == 0)
    ivf_mod.ivf_upsert(spark, idx, dup)  # replayed batch: duplicates
    assert spark.read.parquet(idx.path).count() == embs.count() + dup.count()

    idx2 = ivf_mod.ivf_compact(spark, idx, base + "/g1", dedup_ids=True)
    assert spark.read.parquet(idx2.path).count() == embs.count()
    assert spark.read.parquet(idx2.path).select("id").distinct().count() == embs.count()

    qrow = embs.filter(F.col("id") == 5).head()
    qv = [float(x) for x in qrow.embedding]
    a = [(r.id, round(r.score, 6)) for r in ivf_mod.ivf_search(
        spark, idx2, qv, k=10, search_top_size=4, round_digits=6).collect()]
    # duplicate-free generation reproduces exact search results
    from ydb_vector_search_simple_api_spark.operators.search import exact_search

    b = [(r.id, round(r.score, 6)) for r in exact_search(
        spark, SF_SMALL, qv, k=10, round_digits=6).collect()]
    assert a == b


def test_ann_recall_report_contract(spark):
    import __spark_entry__ as E
    from conftest import SF_SMALL

    rows = sorted(
        E._ann_recall_report(spark, SF_SMALL).collect(), key=lambda r: r.width
    )
    recalls = [r.recall for r in rows]
    # monotone non-decreasing in width, exact at full width
    assert recalls == sorted(recalls)
    assert recalls[-1] == 1.0
    assert all(0.0 <= x <= 1.0 for x in recalls)


def test_ivf_range_search_lossless_and_prunes(spark, built, qvec):
    """Cell pruning by the angular triangle bound: identical output
    to the unpruned range search at several thresholds, AND at the
    tightest threshold some cells are actually pruned (the bound is
    not vacuous on this layout)."""
    import numpy as np

    from ydb_vector_search_simple_api_spark.operators.search import range_search

    for thr in (0.1, 0.3, 0.5):
        exact = [
            (r.id, r.score)
            for r in range_search(spark, SF_SMALL, qvec, threshold=thr).collect()
        ]
        got = [
            (r.id, r.score)
            for r in ivf.ivf_range_search(
                spark, built, qvec, threshold=thr, round_digits=6
            ).collect()
        ]
        assert got == exact, thr

    # the pruning decision itself: at thr=0.5 the upper bounds must
    # rule out at least one cell (replay the driver arithmetic)
    angles = ivf._cell_max_angles(spark, built)
    q = np.asarray(qvec, dtype=np.float64)
    qn = q / np.linalg.norm(q)
    cn = built.centroids / np.maximum(
        np.linalg.norm(built.centroids, axis=1, keepdims=True), 1e-12
    )
    ub = np.cos(np.maximum(0.0, np.arccos(np.clip(cn @ qn, -1, 1)) - angles))
    assert (ub < 0.5 - 5e-7 - 1e-9).any()


def test_ivf_range_search_sees_an_upsert_into_the_same_path(spark, tmp_path):
    """The cell radii are memoized under the layout's file listing: a
    row an upsert appends beyond a cell's old radius is found by the
    next range search over the same path (the radii were once keyed by
    the path alone, and the stale radius pruned that row's cell)."""
    import numpy as np

    X = np.zeros((400, 8))
    rng = np.random.default_rng(5)
    for i in range(400):
        X[i, i % 4] = 10.0
        X[i] += rng.normal(scale=0.5, size=8)
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(400)],
        "id long, embedding array<double>",
    )
    idx = ivf.build_ivf_index(spark, df, str(tmp_path / "ivf"), n_clusters=4, seed=7)
    tiny = [0.0] * 6 + [0.01, -0.01]
    assert ivf.ivf_range_search(spark, idx, tiny, 0.99).collect() == []
    ivf.ivf_upsert(
        spark, idx, spark.createDataFrame([(1000, tiny)], "id long, embedding array<double>")
    )
    assert [r.id for r in ivf.ivf_range_search(spark, idx, tiny, 0.99).collect()] == [1000]


# ------------------------------------------- explicit-directory reader


def test_ivf_search_plan_launches_no_jobs(spark, built, qvec):
    """Under Spark's 32-path parallel-discovery threshold, the stored
    schema and the explicit cluster directories leave nothing for
    Spark to list or infer in a job while the plan is built."""
    from conftest import spark_jobs

    def plan():
        df = ivf.ivf_search(spark, built, qvec, k=5, search_top_size=4)
        return checks.formatted_plan(df)

    _, n = spark_jobs(spark, plan)
    assert n == 0


def test_ivf_engine_search_launches_no_job(spark, built, qvec):
    """A warm search launches no Spark job: the routed clusters are
    scored on the driver (``layout.driver_search``) and the metadata is
    a driver-side point read (``store.doc_metadata``)."""
    from conftest import spark_jobs

    from ydb_vector_search_simple_api_spark.api import VectorSearchEngine
    from ydb_vector_search_simple_api_spark.config import SearchConfig

    eng = VectorSearchEngine(
        spark, SF_SMALL, config=SearchConfig(index_enabled=True), index=built
    )
    # the first search builds the id-clustered metadata copy; count a
    # warm request
    eng.search(qvec, k=5, search_top_size=4)
    (results, _), n = spark_jobs(
        spark, lambda: eng.search(qvec, k=5, search_top_size=4)
    )
    assert len(results) == 5
    assert n == 0


def test_upserts_between_searches_are_read(spark, tmp_path_factory, built):
    """Directories are listed per request: rows upserted after a first
    search come back from the same index object at full width, also
    from a cluster directory that did not exist at the first search."""
    import shutil

    out = str(tmp_path_factory.mktemp("ivf_relist") / "idx")
    shutil.copytree(built.path, out)
    idx = ivf.load_ivf_index(out)
    gone = 3
    shutil.rmtree(f"{out}/cluster_id={gone}")
    home = 5
    q_gone = [float(x) for x in idx.centroids[gone]]
    q_home = [float(x) for x in idx.centroids[home]]

    def top1(q):
        return ivf.ivf_search(
            spark, idx, q, k=1, search_top_size=N_CLUSTERS
        ).head().id

    before = {top1(q_gone), top1(q_home)}
    new = spark.createDataFrame(
        [(10**9, q_gone), (10**9 + 1, q_home)], "id long, embedding array<float>"
    )
    assert ivf.ivf_upsert(spark, idx, new)["per_partition"] == {(gone,): 1, (home,): 1}
    assert top1(q_gone) == 10**9
    assert top1(q_home) == 10**9 + 1
    assert not before & {10**9, 10**9 + 1}


def test_index_without_stored_schema_loads_and_matches(
    spark, tmp_path_factory, built, qvec
):
    """A centroid file written before the schema was stored still
    loads (the schema is inferred once) and serves the same rows; so
    does a hand-built index with no schema (inferred per read)."""
    import json
    import shutil

    out = str(tmp_path_factory.mktemp("ivf_noschema") / "idx")
    shutil.copytree(built.path, out)
    meta_path = f"{out}/{ivf.IvfIndex.meta_file}"
    with open(meta_path) as f:
        meta = json.load(f)
    assert "schema" in meta
    del meta["schema"]
    with open(meta_path, "w") as f:
        json.dump(meta, f)

    old = ivf.load_ivf_index(out)
    assert old.schema is not None
    assert old.schema.fieldNames() == ["id", "embedding", "cluster_id"]
    bare = ivf.IvfIndex(path=out, n_clusters=built.n_clusters, centroids=built.centroids)

    def rows(idx):
        return [
            (r.id, r.score)
            for r in ivf.ivf_search(spark, idx, qvec, k=10, search_top_size=3).collect()
        ]

    want = rows(built)
    assert rows(old) == want
    assert rows(bare) == want


def test_read_clusters_empty_keep_and_missing_directory(spark, built):
    cols = ["id", "embedding", "cluster_id"]
    for keep in ([], [N_CLUSTERS + 7]):
        df = ivf._read_clusters(spark, built, keep)
        assert df.columns == cols
        assert df.collect() == []
    whole = ivf._read_clusters(spark, built)
    assert whole.columns == cols
    assert whole.count() == ivf._read_clusters(spark, built, range(N_CLUSTERS)).count()
