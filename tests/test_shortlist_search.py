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
from ydb_vector_search_simple_api_spark.artifacts import listing
from ydb_vector_search_simple_api_spark.operators import bq, graphann, opq, pq, sq, tombstones, tree
from ydb_vector_search_simple_api_spark.operators import index as ivf
from ydb_vector_search_simple_api_spark.operators.layout import codes_upsert
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


@pytest.mark.parametrize("codec", ["bq", "sq"])
def test_codes_are_stored_under_id_whatever_the_source_column(spark, corpus, tmp_path, codec):
    """The encoders write the id column as ``id``, the name the one
    search reads: a layout built from a ``vec_id`` source searches
    exactly at full shortlist."""
    df, q = corpus
    build = {"bq": bq.build_bq_index, "sq": sq.build_sq_index}[codec]
    idx = build(spark, df.withColumnRenamed("id", "vec_id"), str(tmp_path / codec), id_col="vec_id")
    got = [r.id for r in shortlist_search(spark, idx, df, q, k=5).collect()]
    assert got == _exact_ids(df, q, 5)


UPSERTS = {
    "bq": (FLAT["bq"], codes_upsert),
    "graphann": (lambda s, df, p: graphann.build_knn_graph(s, df, p, m=4), graphann.graphann_upsert),
    "ivf": (lambda s, df, p: ivf.build_ivf_index(s, df, p, n_clusters=2), ivf.ivf_upsert),
    "pq": (FLAT["pq"], codes_upsert),
    "sq": (FLAT["sq"], codes_upsert),
    "tree": (lambda s, df, p: tree.build_kmeans_tree(s, df, p, n_l1=2, fanout=2), tree.tree_upsert),
}


@pytest.mark.parametrize("layout", sorted(UPSERTS))
def test_upsert_of_a_wrong_dimension_raises(spark, corpus, tmp_path, layout):
    """One dimension rule for all six upserts: a batch holding a vector
    of another length than the index dim raises before anything is
    written, so the index directory's file listing is unchanged."""
    df, _ = corpus
    build, upsert = UPSERTS[layout]
    idx = build(spark, df.filter(F.col("id") < 40), str(tmp_path / layout))
    before = listing(idx.path)
    bad = spark.createDataFrame(
        [(N, [1.0, 2.0]), (N + 1, [0.5] * DIM)], "id long, embedding array<double>"
    )
    with pytest.raises(
        ValueError, match=rf"upsert batch holds 1 vector\(s\) whose length is not the index dim {DIM}"
    ):
        upsert(spark, idx, bad)
    assert listing(idx.path) == before


def test_rejected_batch_leaves_the_layout_and_its_tombstones_unchanged(spark, corpus, tmp_path):
    """A rejected batch resurrects nothing either: the tombstoned id it
    carries stays deleted, and no file of the layout changes."""
    df, q = corpus
    idx = ivf.build_ivf_index(spark, df, str(tmp_path / "ivf"), n_clusters=2)
    tombstones.delete_ids(spark, idx.path, [DUP])
    before = listing(idx.path)
    bad = df.filter(F.col("id") == DUP).unionByName(
        spark.createDataFrame([(N, [1.0])], "id long, embedding array<double>")
    )
    with pytest.raises(ValueError, match="index dim"):
        ivf.ivf_upsert(spark, idx, bad)
    assert listing(idx.path) == before
    got = [r.id for r in ivf.ivf_search(spark, idx, q, k=5, search_top_size=2).collect()]
    assert DUP not in got


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
