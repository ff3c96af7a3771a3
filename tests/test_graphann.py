"""Graph-ANN (k-NN graph + beam search) — the fifth index shape.

Contracts pinned here:
* full beam == exact search (ids AND scores), via the exact-rerank tail;
* full-beam traversal visits every node (connectivity augmentation);
* recall is monotone in beam width and 1.0 at full beam (O3 contract);
* the distributed frontier loop returns the same full-beam top-k as
  the driver replay;
* NN-descent refinement on the exact bootstrap is a no-op for the
  resulting top-k.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from ydb_vector_search_simple_api_spark.operators import graphann as G
from ydb_vector_search_simple_api_spark.operators.search import exact_search
from ydb_vector_search_simple_api_spark.sources.store import load_embeddings

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s


@pytest.fixture(scope="module")
def gann(spark):
    out = tempfile.mkdtemp(prefix="svs_test_gann_")
    shutil.rmtree(out, ignore_errors=True)
    embs = load_embeddings(spark, SF_SMALL).select(
        F.col("vec_id").alias("id"), "embedding"
    )
    idx = G.build_knn_graph(spark, embs, out, m=8)
    yield idx
    shutil.rmtree(out, ignore_errors=True)


def _qvec(spark):
    row = (
        load_embeddings(spark, SF_SMALL)
        .filter(F.col("vec_id") == 3)
        .select("embedding")
        .head()
    )
    return [float(x) for x in row.embedding]


def _src(spark):
    return load_embeddings(spark, SF_SMALL).select(
        F.col("vec_id").alias("id"), "embedding"
    )


def test_full_beam_matches_exact(spark, gann):
    q = _qvec(spark)
    got = G.graphann_search(
        spark, gann, _src(spark), q, k=10, strategy="CosineSimilarity",
        beam=None, round_digits=6,
    ).collect()
    want = exact_search(
        spark, SF_SMALL, q, k=10, strategy="CosineSimilarity", round_digits=6
    ).collect()
    assert [(r.id, r.score) for r in got] == [(r.id, r.score) for r in want]


def test_full_beam_visits_every_node(spark, gann):
    graph = G._load_graph_numpy(spark, gann)
    _, n_visited = G._beam_search_driver(
        graph, gann, _qvec(spark), "CosineSimilarity", beam=None
    )
    assert n_visited == gann.n_rows


def test_recall_monotone_in_beam(spark, gann):
    q = _qvec(spark)
    exact_ids = {
        r.id
        for r in exact_search(
            spark, SF_SMALL, q, k=10, strategy="CosineSimilarity"
        ).collect()
    }
    last = -1.0
    for beam in (16, 64, gann.n_rows):
        ids = {
            r.id
            for r in G.graphann_search(
                spark, gann, _src(spark), q, k=10,
                strategy="CosineSimilarity", beam=beam,
            ).collect()
        }
        recall = len(ids & exact_ids) / len(exact_ids)
        assert recall >= last - 1e-9
        last = recall
    assert last == 1.0  # exact at full beam


def test_distributed_matches_driver_replay(spark, gann):
    q = _qvec(spark)
    cand_d, vis_d = G._beam_search_distributed(
        spark, gann, q, "CosineSimilarity", beam=None
    )
    graph = G._load_graph_numpy(spark, gann)
    cand_r, vis_r = G._beam_search_driver(
        graph, gann, q, "CosineSimilarity", beam=None
    )
    assert vis_d == vis_r == gann.n_rows
    assert sorted(int(c) for c in cand_d) == sorted(int(c) for c in cand_r)


def test_beam_strategies_all_serve(spark, gann):
    q = _qvec(spark)
    for strat in (
        "CosineSimilarity", "InnerProductSimilarity", "CosineDistance",
        "EuclideanDistance", "ManhattanDistance",
    ):
        got = G.graphann_search(
            spark, gann, _src(spark), q, k=5, strategy=strat, beam=None,
            round_digits=6,
        ).collect()
        want = exact_search(
            spark, SF_SMALL, q, k=5, strategy=strat, round_digits=6
        ).collect()
        assert [(r.id, r.score) for r in got] == [(r.id, r.score) for r in want]


def test_nn_descent_noop_on_exact_bootstrap(spark):
    out = tempfile.mkdtemp(prefix="svs_test_gann_refine_")
    shutil.rmtree(out, ignore_errors=True)
    try:
        embs = load_embeddings(spark, SF_SMALL).select(
            F.col("vec_id").alias("id"), "embedding"
        )
        idx = G.build_knn_graph(spark, embs, out, m=4, refine_iters=1)
        q = _qvec(spark)
        got = G.graphann_search(
            spark, idx, embs, q, k=10, strategy="CosineSimilarity",
            beam=None, round_digits=6,
        ).collect()
        want = exact_search(
            spark, SF_SMALL, q, k=10, strategy="CosineSimilarity",
            round_digits=6,
        ).collect()
        assert [(r.id, r.score) for r in got] == [(r.id, r.score) for r in want]
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_upsert_then_compact_preserves_search(spark):
    """LSM maintenance contract: after graphann_upsert the full-beam
    search is exact over the GROWN corpus (new nodes reachable via
    delta reverse edges — the connectivity assertion still passes);
    graphann_compact folds the delta into a new generation with
    identical results; finite beam can actually find an inserted
    near-duplicate of the query."""
    import numpy as np

    base_out = tempfile.mkdtemp(prefix="svs_test_gann_up_")
    compact_out = tempfile.mkdtemp(prefix="svs_test_gann_cp_")
    shutil.rmtree(base_out, ignore_errors=True)
    shutil.rmtree(compact_out, ignore_errors=True)
    try:
        embs = load_embeddings(spark, SF_SMALL).select(
            F.col("vec_id").alias("id"), "embedding"
        ).filter(F.col("id") < 400)
        idx = G.build_knn_graph(spark, embs, base_out, m=6)
        q = _qvec(spark)
        # new batch: ids 10000+, one of them = the query vector itself
        new_rows = [(10000, q)] + [
            (10001 + i, [float(x) + 0.5 * (i + 1) for x in q]) for i in range(3)
        ]
        new_df = spark.createDataFrame(new_rows, ["id", "embedding"])
        assert G.graphann_upsert(spark, idx, new_df)["n_appended"] == 4
        idx2 = G.load_graph_index(base_out)
        assert idx2.n_rows == 404

        grown = embs.unionByName(new_df)
        got = G.graphann_search(
            spark, idx2, grown, q, k=5, strategy="CosineSimilarity",
            beam=None, round_digits=6,
        ).collect()
        # exact over the grown corpus (brute force in numpy for truth)
        rows = grown.collect()
        qn = np.asarray(q)
        sims = []
        for r in rows:
            v = np.asarray(r.embedding, dtype=float)
            denom = np.linalg.norm(v) * np.linalg.norm(qn)
            sims.append((round(float(v @ qn / denom), 6), r.id))
        want_ids = [i for _, i in sorted(sims, key=lambda t: (-t[0], t[1]))[:5]]
        assert [r.id for r in got] == want_ids
        # the inserted exact duplicate scores 1.0 (id 3 — the query's
        # own stored row — wins the tie by the deterministic id order)
        assert {r.id for r in got if r.score == 1.0} == {3, 10000}

        # finite beam reaches the inserted near-dup through delta links
        got_b = G.graphann_search(
            spark, idx2, grown, q, k=5, strategy="CosineSimilarity", beam=32,
        ).collect()
        assert 10000 in {r.id for r in got_b}

        idx3 = G.graphann_compact(spark, idx2, compact_out)
        assert idx3.n_rows == 404
        assert not os.path.isdir(os.path.join(compact_out, "delta"))
        got_c = G.graphann_search(
            spark, idx3, grown, q, k=5, strategy="CosineSimilarity",
            beam=None, round_digits=6,
        ).collect()
        assert [(r.id, r.score) for r in got_c] == [(r.id, r.score) for r in got]
    finally:
        shutil.rmtree(base_out, ignore_errors=True)
        shutil.rmtree(compact_out, ignore_errors=True)


def test_filter_ids_restrict_after_traversal(spark, gann):
    q = _qvec(spark)
    flt = spark.createDataFrame([(i,) for i in range(0, 500, 2)], ["id"])
    got = G.graphann_search(
        spark, gann, _src(spark), q, k=5, strategy="CosineSimilarity",
        beam=None, round_digits=6, filter_ids=flt,
    ).collect()
    assert all(r.id % 2 == 0 for r in got)
    assert len(got) == 5


def test_clustered_bootstrap_build(spark):
    """Corpus-scale bootstrap: multi-probe cluster-local kNN edges +
    one NN-descent round produce an index whose FULL-beam search is
    exact (connectivity augmentation guarantees it regardless of edge
    quality) and whose finite-beam recall is usable."""
    from ydb_vector_search_simple_api_spark.operators import index as ivf_mod

    embs = _src(spark)
    ivf_dir = tempfile.mkdtemp(prefix="svs_test_gboot_ivf_")
    out = tempfile.mkdtemp(prefix="svs_test_gboot_idx_")
    try:
        ivf = ivf_mod.build_ivf_index(spark, embs, ivf_dir, n_clusters=8)
        edges = G.clustered_bootstrap_edges(spark, ivf, m=8, probes=2)
        # every node sources edges; per-node degree bounded by m*probes
        deg = edges.groupBy("query_id").count().collect()
        assert len(deg) == embs.count()
        assert max(r["count"] for r in deg) <= 8 * 2
        idx = G.build_knn_graph(
            spark, embs, out, m=8, knn_pairs=edges, refine_iters=1
        )
        q = _qvec(spark)
        got = G.graphann_search(
            spark, idx, embs, q, k=10, beam=None, round_digits=6
        ).collect()
        want = exact_search(
            spark, SF_SMALL, q, k=10, strategy="CosineSimilarity",
            round_digits=6,
        ).collect()
        assert [(r.id, r.score) for r in got] == [
            (r.id, r.score) for r in want
        ]
        # finite beam: recall@10 vs exact at beam=32 on the bootstrap
        # graph should be high on the fixture corpus
        got32 = G.graphann_search(
            spark, idx, embs, q, k=10, beam=32, round_digits=6
        ).collect()
        want_ids = {r.id for r in want}
        assert len({r.id for r in got32} & want_ids) >= 7
    finally:
        shutil.rmtree(ivf_dir, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


def test_navigation_seeds_persist_and_search(spark):
    """Seeds: cluster representatives persist through build -> upsert
    -> compact metas; searches with seeds stay exact at full beam and
    the representatives are real stored ids (one per cluster)."""
    from ydb_vector_search_simple_api_spark.operators import index as ivf_mod

    embs = _src(spark)
    ivf_dir = tempfile.mkdtemp(prefix="svs_test_gseed_ivf_")
    out = tempfile.mkdtemp(prefix="svs_test_gseed_idx_")
    out2 = tempfile.mkdtemp(prefix="svs_test_gseed_cmp_")
    try:
        ivf = ivf_mod.build_ivf_index(spark, embs, ivf_dir, n_clusters=8)
        seeds = G.cluster_representatives(spark, ivf)
        assert len(seeds) == 8
        all_ids = {r.id for r in embs.select("id").collect()}
        assert set(seeds) <= all_ids
        edges = G.clustered_bootstrap_edges(spark, ivf, m=6, probes=2)
        idx = G.build_knn_graph(
            spark, embs, out, m=6, knn_pairs=edges, seed_nodes=seeds
        )
        assert list(idx.seeds) == seeds
        # navigation layer: one stored vector per seed, dim-correct,
        # and the driver-side router picks a bounded entry set
        assert len(idx.seed_vecs) == len(seeds)
        assert all(len(v) == idx.dim for v in idx.seed_vecs)
        import numpy as np

        q0 = np.asarray(_qvec(spark), dtype=np.float64)
        entries = G._entry_seed_ids(idx, q0, "CosineSimilarity")
        assert len(entries) <= G.N_ENTRY_SEEDS + 2
        assert set(entries) <= set(seeds) | {idx.medoid, idx.entry_point}
        q = _qvec(spark)
        got = G.graphann_search(
            spark, idx, embs, q, k=10, beam=None, round_digits=6
        ).collect()
        want = exact_search(
            spark, SF_SMALL, q, k=10, strategy="CosineSimilarity",
            round_digits=6,
        ).collect()
        assert [(r.id, r.score) for r in got] == [
            (r.id, r.score) for r in want
        ]
        # seeds survive the maintenance cycle
        n0 = embs.count()
        batch = embs.filter(F.col("id") < 4).select(
            (F.col("id") + n0 + 1_000_000).alias("id"), "embedding"
        )
        G.graphann_upsert(spark, idx, batch)
        idx2 = G.load_graph_index(idx.path)
        assert list(idx2.seeds) == seeds
        idx3 = G.graphann_compact(spark, idx2, out2)
        assert list(idx3.seeds) == seeds
        src3 = spark.read.parquet(f"{out2}/adjacency").select(
            "id", "embedding"
        )
        got3 = G.graphann_search(
            spark, idx3, src3, q, k=10, beam=None, round_digits=6
        ).collect()
        assert len(got3) == 10
    finally:
        shutil.rmtree(ivf_dir, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(out2, ignore_errors=True)
