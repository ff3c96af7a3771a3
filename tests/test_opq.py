"""Optimized PQ (operators/opq.py): rotation invariants, exactness of
the full-shortlist rerank, and the reason-for-being property — on
anisotropic (correlated) data the learned rotation cuts quantization
distortion vs plain PQ with identical code budget."""

from __future__ import annotations

import shutil
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from ydb_vector_search_simple_api_spark.operators import opq, pq
from ydb_vector_search_simple_api_spark.operators.search import (
    exact_search,
    shortlist_search,
)
from ydb_vector_search_simple_api_spark.sources.store import load_embeddings

SF = "/root/testdata/sf0.001"
ROUND = 6


def _corpus(spark):
    return load_embeddings(spark, SF).select(
        F.col("vec_id").alias("id"), "embedding"
    )


def _qvec(spark):
    row = (
        load_embeddings(spark, SF)
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .head()
    )
    return [float(x) for x in row.embedding]


def test_rotation_is_orthogonal_and_balanced():
    rng = np.random.RandomState(7)
    # anisotropic sample: strong variance decay + correlation mix
    d, m = 32, 4
    A = rng.randn(d, d)
    scales = np.exp(-np.arange(d) / 4.0)
    X = rng.randn(4096, d) * scales @ A.T
    R = opq.train_opq_rotation(X, m=m)
    assert R.shape == (d, d)
    assert np.allclose(R.T @ R, np.eye(d), atol=1e-8)
    # eigenvalue allocation balances per-subspace variance products
    # RELATIVE TO the naive contiguous chop of the sorted PCA basis
    # (perfect balance is impossible when the spectrum spans orders of
    # magnitude — the greedy deal is the paper's best-effort heuristic)
    dsub = d // m

    def spread(M):
        v = M.var(axis=0)
        prods = [
            np.log(v[j * dsub : (j + 1) * dsub]).sum() for j in range(m)
        ]
        return max(prods) - min(prods)

    mu = X.mean(axis=0)
    evals, evecs = np.linalg.eigh((X - mu).T @ (X - mu) / (len(X) - 1))
    pca_sorted = evecs[:, np.argsort(evals)[::-1]]
    assert spread(X @ R) < spread(X @ pca_sorted)

    # shift-invariance: the production config trains on UNIT-NORM
    # vectors (every eigenvalue < 1, every log negative) — the naive
    # min-product greedy degenerates to exactly the contiguous chop
    # there; the level greedy must not (same allocation as unscaled)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    Rn = opq.train_opq_rotation(Xn, m=m)
    mun = Xn.mean(axis=0)
    evn, evecn = np.linalg.eigh(
        (Xn - mun).T @ (Xn - mun) / (len(Xn) - 1)
    )
    pca_n = evecn[:, np.argsort(evn)[::-1]]
    assert not np.allclose(Rn, pca_n)  # not the contiguous chop
    assert spread(Xn @ Rn) < spread(Xn @ pca_n)
    # and rescaling the data must not change the allocation decisions
    R_scaled = opq.train_opq_rotation(Xn * 1000.0, m=m)
    assert np.allclose(Rn, R_scaled)


def test_full_shortlist_rerank_is_exact(spark):
    out = tempfile.mkdtemp(prefix="svs_test_opq_")
    try:
        idx = opq.build_opq_index(
            spark, _corpus(spark), out, m=8, nbits=8, normalize=True
        )
        n = _corpus(spark).count()
        q = _qvec(spark)
        got = shortlist_search(
            spark, idx, _corpus(spark), q, k=10, shortlist=n,
            round_digits=ROUND,
        ).collect()
        want = exact_search(
            spark, SF, q, k=10, strategy="CosineSimilarity",
            round_digits=ROUND,
        ).collect()
        assert [(r.id, r.score) for r in got] == [
            (r.id, r.score) for r in want
        ]
        # reload round-trip serves identically
        idx2 = opq.load_opq_index(out)
        assert np.allclose(idx2.rotation, idx.rotation)
        got2 = shortlist_search(
            spark, idx2, _corpus(spark), q, k=10, shortlist=n,
            round_digits=ROUND,
        ).collect()
        assert [(r.id, r.score) for r in got2] == [
            (r.id, r.score) for r in got
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_opq_beats_pq_distortion_on_correlated_data(spark):
    """The rotation's job: same m/nbits budget, lower reconstruction
    error on data whose variance is unevenly spread across the raw
    axes (plain PQ wastes codebooks on near-constant blocks)."""
    rng = np.random.RandomState(11)
    d, m, n = 32, 4, 3000
    A = rng.randn(d, d)
    scales = np.exp(-np.arange(d) / 3.0)
    X = rng.randn(n, d) * scales @ A.T
    R = opq.train_opq_rotation(X, m=m)

    def distortion(Y):
        books = pq.train_pq_codebooks(Y, m=m, nbits=6)
        codes = pq._encode_batch(Y, books)
        dsub = d // m
        rec = np.concatenate(
            [books[j][codes[:, j]] for j in range(m)], axis=1
        )
        return float(((Y - rec) ** 2).sum(axis=1).mean())

    err_pq = distortion(X)
    err_opq = distortion(X @ R)  # rotation is orthogonal: same energy
    assert err_opq < err_pq * 0.9


def test_pruned_shortlist_recall(spark):
    """Finite shortlist keeps usable recall on the fixture corpus and
    the ADC estimate orders candidates sanely."""
    out = tempfile.mkdtemp(prefix="svs_test_opq_r_")
    try:
        idx = opq.build_opq_index(
            spark, _corpus(spark), out, m=8, nbits=8, normalize=True
        )
        q = _qvec(spark)
        want = {
            r.id
            for r in exact_search(
                spark, SF, q, k=10, strategy="CosineSimilarity",
                round_digits=ROUND,
            ).collect()
        }
        got = shortlist_search(
            spark, idx, _corpus(spark), q, k=10, shortlist=64,
            round_digits=ROUND,
        ).collect()
        assert len({r.id for r in got} & want) >= 7
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_ivfopq_full_width_full_rerank_is_exact(spark, tmp_path):
    """IVF×OPQ: all clusters + corpus-sized rerank == exact top-k;
    pruned width still returns k rows from the pruned directories."""
    from ydb_vector_search_simple_api_spark.operators import index as ivf_mod

    embs = _corpus(spark)
    ivf = ivf_mod.build_ivf_index(
        spark, embs, str(tmp_path / "ivf"), n_clusters=4
    )
    idx = opq.build_ivfopq_index(
        spark, ivf, str(tmp_path / "ivfopq"), m=8, nbits=8, normalize=True
    )
    assert idx.pq.partition_col == "cluster_id"
    q = _qvec(spark)
    n = embs.count()
    got = shortlist_search(
        spark, idx, None, q, k=10, shortlist=n, round_digits=ROUND,
        ivf_index=ivf, search_top_size=ivf.n_clusters,
    ).collect()
    want = exact_search(
        spark, SF, q, k=10, strategy="CosineSimilarity", round_digits=ROUND
    ).collect()
    assert [(r.id, r.score) for r in got] == [(r.id, r.score) for r in want]
    pruned = shortlist_search(
        spark, idx, None, q, k=10, shortlist=64, round_digits=ROUND,
        ivf_index=ivf, search_top_size=2,
    ).collect()
    assert len(pruned) == 10
