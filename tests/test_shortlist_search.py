"""The one search path of the code layouts (``search.shortlist_search``)
over PQ, OPQ, SQ8 and BQ, flat and IVF-composed: an id the codes hold
twice is ranked once, a delete on the IVF layout holds in every
composition, and no module but ``search.py`` writes the exact top-k
tail."""

from __future__ import annotations

import ast
import pathlib

import numpy as np
import pytest
from pyspark.sql import functions as F

import ydb_vector_search_simple_api_spark as pkg
from ydb_vector_search_simple_api_spark.operators import bq, opq, pq, sq, tombstones
from ydb_vector_search_simple_api_spark.operators import index as ivf
from ydb_vector_search_simple_api_spark.operators.search import (
    rank_topk,
    shortlist_search,
)

DIM = 8
N = 300
DUP = 3  # the id the codes hold twice, and the query row

FLAT = {
    "pq": lambda s, df, p: pq.build_pq_index(s, df, p, m=4, nbits=4, normalize=True),
    "opq": lambda s, df, p: opq.build_opq_index(s, df, p, m=4, nbits=4, normalize=True),
    "sq": lambda s, df, p: sq.build_sq_index(s, df, p),
    "bq": lambda s, df, p: bq.build_bq_index(s, df, p),
}
COMPOSED = {
    "pq": lambda s, i, p: pq.build_ivfpq_index(s, i, p, m=4, nbits=4, normalize=True),
    "opq": lambda s, i, p: opq.build_ivfopq_index(s, i, p, m=4, nbits=4, normalize=True),
    "sq": lambda s, i, p: sq.build_ivfsq_index(s, i, p),
    "bq": lambda s, i, p: bq.build_ivfbq_index(s, i, p),
}


@pytest.fixture(scope="module")
def corpus(spark):
    X = np.random.default_rng(11).normal(size=(N, DIM))
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(N)],
        "id long, embedding array<double>",
    )
    return df, [float(v) for v in X[DUP]]


def _with_dup(df):
    """``df`` with row ``DUP`` a second time (an upsert replay before
    compaction)."""
    return df.unionByName(df.filter(F.col("id") == DUP))


def _exact_ids(df, q, k):
    return [r.id for r in rank_topk(df, q, k, "CosineSimilarity").collect()]


@pytest.fixture(scope="module")
def composed(spark, corpus, tmp_path_factory):
    """(layouts, deduped IVF, IVF with the query row deleted): each
    codec composed over an IVF index whose layout holds ``DUP`` twice,
    and two compacted generations of that index that hold it once."""
    df, _ = corpus
    base = tmp_path_factory.mktemp("composed")
    ivf_dup = ivf.build_ivf_index(
        spark, _with_dup(df), str(base / "ivf"), n_clusters=4, seed=42
    )
    layouts = {c: b(spark, ivf_dup, str(base / c)) for c, b in COMPOSED.items()}
    clean = ivf.ivf_compact(spark, ivf_dup, str(base / "ivf_clean"), dedup_ids=True)
    deleted = ivf.ivf_compact(spark, ivf_dup, str(base / "ivf_del"), dedup_ids=True)
    tombstones.delete_ids(spark, deleted.path, [DUP])
    return layouts, clean, deleted


@pytest.mark.parametrize("codec", sorted(FLAT))
def test_flat_duplicated_code_is_ranked_once(spark, corpus, tmp_path, codec):
    df, q = corpus
    idx = FLAT[codec](spark, _with_dup(df), str(tmp_path / codec))
    got = [r.id for r in shortlist_search(spark, idx, df, q, k=5).collect()]
    assert got == _exact_ids(df, q, 5)
    assert got.count(DUP) == 1


@pytest.mark.parametrize("codec", sorted(COMPOSED))
def test_composed_duplicated_code_is_ranked_once(spark, corpus, composed, codec):
    df, q = corpus
    layouts, clean, _ = composed
    got = [
        r.id
        for r in shortlist_search(
            spark, layouts[codec], None, q, k=5, ivf_index=clean
        ).collect()
    ]
    assert got == _exact_ids(df, q, 5)
    assert got.count(DUP) == 1


@pytest.mark.parametrize("codec", sorted(COMPOSED))
def test_composed_search_honors_ivf_deletes(spark, corpus, composed, codec):
    _, q = corpus
    layouts, _, deleted = composed
    want = [r.id for r in ivf.ivf_search(spark, deleted, q, k=3, search_top_size=4).collect()]
    got = [
        r.id
        for r in shortlist_search(
            spark, layouts[codec], None, q, k=3, ivf_index=deleted
        ).collect()
    ]
    assert DUP not in want
    assert got == want


def test_k_and_dimension_are_checked_once_for_every_layout(spark, corpus, composed):
    df, q = corpus
    layouts, clean, _ = composed
    for idx in layouts.values():
        with pytest.raises(ValueError, match="k must be a positive integer"):
            shortlist_search(spark, idx, df, q, k=0)
        with pytest.raises(ValueError, match=f"query dim 2 != index dim {DIM}"):
            shortlist_search(spark, idx, None, [1.0, 2.0], k=3, ivf_index=clean)


UPSERTS = {
    "pq": lambda s, i, df: pq.pq_upsert(s, i, df),
    "sq": lambda s, i, df: sq.sq_upsert(s, i, df),
    "bq": lambda s, i, df: bq.bq_upsert(s, i, df),
}


@pytest.mark.parametrize("codec", sorted(UPSERTS))
def test_upsert_of_a_wrong_dimension_raises(spark, corpus, tmp_path, codec):
    df, _ = corpus
    idx = FLAT[codec](spark, df.filter(F.col("id") < 40), str(tmp_path / codec))
    bad = spark.createDataFrame([(N, [1.0, 2.0])], "id long, embedding array<double>")
    with pytest.raises(ValueError, match=f"{codec}_upsert batch has vectors whose length != index dim {DIM}"):
        UPSERTS[codec](spark, idx, bad)


def _ends_with_exact_tail(fn: ast.FunctionDef) -> bool:
    """True when ``fn`` orders by ``_order_cols`` and cuts ``.limit(k)``:
    the single-query exact tail ``search.rank_topk`` writes once."""
    calls = [n for n in ast.walk(fn) if isinstance(n, ast.Call)]
    orders = any(
        isinstance(c.func, ast.Name) and c.func.id == "_order_cols" for c in calls
    )
    limits_k = any(
        isinstance(c.func, ast.Attribute)
        and c.func.attr == "limit"
        and len(c.args) == 1
        and isinstance(c.args[0], ast.Name)
        and c.args[0].id == "k"
        for c in calls
    )
    return orders and limits_k


def test_only_search_module_writes_the_exact_tail():
    root = pathlib.Path(pkg.__file__).parent
    found = [
        f"{path.relative_to(root)}:{fn.name}"
        for path in sorted(root.rglob("*.py"))
        for fn in ast.walk(ast.parse(path.read_text()))
        if isinstance(fn, ast.FunctionDef) and _ends_with_exact_tail(fn)
    ]
    assert sorted(found) == ["operators/search.py:rank_topk"], found
