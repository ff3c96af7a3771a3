"""Property tests for the 5 distance strategies (SURVEY.md §5.2 item 4)."""

from __future__ import annotations

import math
import struct

import numpy as np
import pytest

from ydb_vector_search_simple_api_spark.functions import distance as D


def _eval(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0].v


VEC_A = [1.0, 2.0, 3.0]
VEC_B = [-4.0, 5.5, 0.25]


def test_dot(spark):
    got = _eval(spark, D.dot(VEC_A, VEC_B))
    assert got == pytest.approx(1 * -4 + 2 * 5.5 + 3 * 0.25)


def test_cosine_self_similarity_is_one(spark):
    got = _eval(spark, D.cosine_similarity(VEC_A, VEC_A))
    assert got == pytest.approx(1.0)


def test_cosine_distance_is_one_minus_similarity(spark):
    sim = _eval(spark, D.cosine_similarity(VEC_A, VEC_B))
    dist = _eval(spark, D.cosine_distance(VEC_A, VEC_B))
    assert dist == pytest.approx(1.0 - sim)


def test_symmetry(spark):
    for fn in (D.cosine_similarity, D.euclidean_distance, D.manhattan_distance):
        ab = _eval(spark, fn(VEC_A, VEC_B))
        ba = _eval(spark, fn(VEC_B, VEC_A))
        assert ab == pytest.approx(ba)


def test_euclidean_manhattan_values(spark):
    eu = _eval(spark, D.euclidean_distance(VEC_A, VEC_B))
    ma = _eval(spark, D.manhattan_distance(VEC_A, VEC_B))
    assert eu == pytest.approx(math.sqrt(25 + 12.25 + 7.5625))
    assert ma == pytest.approx(5 + 3.5 + 2.75)


def test_self_distance_zero(spark):
    for fn in (D.euclidean_distance, D.manhattan_distance):
        assert _eval(spark, fn(VEC_A, VEC_A)) == 0.0


def test_dimension_mismatch_is_null(spark):
    """YDB Knn::* return NULL on dim mismatch (SURVEY.md §1.2)."""
    for fn in (
        D.cosine_similarity,
        D.inner_product_similarity,
        D.euclidean_distance,
        D.manhattan_distance,
    ):
        got = _eval(spark, fn([1.0, 2.0], [1.0, 2.0, 3.0]))
        assert got is None


def test_zero_norm_cosine_is_null(spark):
    got = _eval(spark, D.cosine_similarity([0.0, 0.0], VEC_A))
    assert got is None


def test_inner_product_equals_dot(spark):
    ip = _eval(
        spark, D.inner_product_similarity(VEC_A, VEC_B)
    )
    assert ip == pytest.approx(1 * -4 + 2 * 5.5 + 3 * 0.25)


# --------------------------------------- bit-equality with a Python fold

STRATEGY_NAMES = (
    "CosineSimilarity",
    "InnerProductSimilarity",
    "CosineDistance",
    "EuclideanDistance",
    "ManhattanDistance",
)
NAN, INF = float("nan"), float("inf")


def _fold(f, a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc += f(x, y)
    return acc


def _reference(strategy, row, q):
    """The Knn:: score as a left-to-right double fold in pure Python;
    None is SQL NULL (dimension mismatch, zero-norm cosine)."""
    if len(row) != len(q):
        return None
    if strategy == "EuclideanDistance":
        return math.sqrt(_fold(lambda x, y: (x - y) * (x - y), row, q))
    if strategy == "ManhattanDistance":
        return _fold(lambda x, y: abs(x - y), row, q)
    dot = _fold(lambda x, y: x * y, row, q)
    if strategy == "InnerProductSimilarity":
        return dot
    den = math.sqrt(_fold(lambda x, y: x * y, row, row)) * math.sqrt(
        _fold(lambda x, y: x * y, q, q)
    )
    if den == 0:
        return None
    return dot / den if strategy == "CosineSimilarity" else 1.0 - dot / den


def _bits_equal(got, want):
    if got is None or want is None:
        return got is None and want is None
    if math.isnan(got) or math.isnan(want):
        return math.isnan(got) and math.isnan(want)
    return struct.pack("<d", got) == struct.pack("<d", want)


def _rows_and_queries():
    rng = np.random.default_rng(11)
    rows = [rng.standard_normal(8).astype(np.float32) for _ in range(12)]
    rows += [
        np.zeros(8, np.float32),
        np.array([-0.0, 1.5, 0.0, -2.0, -0.0, 3.0, 0.25, -1.0], np.float32),
        np.array([NAN, 1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0], np.float32),
        np.array([INF, 1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0], np.float32),
        np.array([-INF, 1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0], np.float32),
        rng.standard_normal(7).astype(np.float32),  # dimension mismatch
        np.zeros(0, np.float32),
    ]
    rows = [[float(x) for x in r] for r in rows]  # exact float32 values
    queries = [
        [float(x) for x in rng.standard_normal(8)],  # a double query
        [-0.0, 0.5, 0.0, -0.0, 1.0, -2.5, 0.0, 3.0],
        [0.0] * 8,
        [NAN, 1.0, 0.5, 0.0, 0.0, 0.0, 0.0, 0.0],
        [INF, -INF, 0.5, 0.0, 0.0, 0.0, 0.0, 1.0],
        [],
    ]
    return rows, queries


def test_scores_bit_equal_python_left_fold(spark):
    """All five strategies, with the query as a literal vector and as a
    column, equal a Python left fold over float32 rows and a double
    query bit for bit — zero norms, dimension mismatch, the empty
    query, -0.0 and non-finite components included (a NaN or ±inf
    query component has no SQL literal; its plan must still build)."""
    rows, queries = _rows_and_queries()
    df = spark.createDataFrame(list(enumerate(rows)), "id long, embedding array<float>")
    # literal operand: every (query, strategy) score in one select
    cols = {
        (qi, s): D.score_expr(s, "embedding", q)
        for qi, q in enumerate(queries)
        for s in STRATEGY_NAMES
    }
    names = {key: f"s{i}" for i, key in enumerate(cols)}
    got = {
        r.id: r
        for r in df.select("id", *[c.alias(names[key]) for key, c in cols.items()]).collect()
    }
    # column operand: the same scores from a query_vec column
    qdf = spark.createDataFrame(list(enumerate(queries)), "qid long, query_vec array<double>")
    got_col = {
        (r.id, r.qid): r
        for r in df.crossJoin(qdf)
        .select(
            "id",
            "qid",
            *[D.score_expr(s, "embedding", "query_vec").alias(s) for s in STRATEGY_NAMES],
        )
        .collect()
    }
    bad = []
    for (qi, s), name in names.items():
        for i, row in enumerate(rows):
            want = _reference(s, row, queries[qi])
            for form, value in (
                ("literal", got[i][name]),
                ("column", got_col[(i, qi)][s]),
            ):
                if not _bits_equal(value, want):
                    bad.append((s, form, i, qi, value, want))
    assert not bad, bad[:10]


def test_vector_literal_keeps_every_double(spark):
    """A vector literal parses back to the same doubles: repr round
    trips, -0.0 keeps its sign, and non-finite values become casts.
    The empty vector stays ARRAY<DOUBLE>."""
    vals = [0.1, -0.0, 1e-310, 1.7976931348623157e308, NAN, INF, -INF, 3.0]
    got = _eval(spark, D.vector_lit(vals))
    assert all(_bits_equal(g, w) for g, w in zip(got, vals)) and len(got) == len(vals)
    empty = spark.range(1).select(D.vector_lit([]).alias("v"))
    assert empty.schema["v"].dataType.simpleString() == "array<double>"
    assert empty.collect()[0].v == []


def test_column_operand_is_rejected(spark):
    from pyspark.sql import functions as F

    with pytest.raises(TypeError):
        D.score_expr("CosineSimilarity", F.col("embedding"), [1.0])
