"""The 5 KNN distance/similarity strategies as native SQL expressions.

Reference semantics: ``Knn::{strategy}(embedding, $target) -> Float?``
applied in the SELECT list (``/root/reference/app.py:222``); the five
legal strategies are listed in ``env.example:15-17``. YDB's ``Knn::*``
return NULL on dimension mismatch (SURVEY.md §1.2); we reproduce that.

Implementation notes (scale-critical):

* Every score is one Spark SQL expression over ``ArrayType(FloatType)``
  (``zip_with`` + ``aggregate``): it stays inside whole-stage codegen;
  no Python round-trip, no UDF. On a 100 TB scan this is the difference
  between a vectorized JVM pipeline and a per-row Python hop.
* The expression is built as SQL *text* and handed to the JVM in one
  ``F.expr`` call. The Column API costs one py4j round trip per
  function, lambda and list element (``F.lit(list)`` expands to one
  ``lit`` per element on PySpark 4.1.2): ~490 round trips for one
  64-dim cosine, against 3 for the text. The text's cost does not grow
  with the dimension, and the parsed expression is the same tree, so
  plans and scores are unchanged.
* An operand is a column name (backtick-quoted) or a plain vector (one
  ``array(<double>D, ...)`` literal, which Catalyst folds to a
  constant). A ``Column`` operand is rejected: it cannot be spliced
  into text, and building it cost the round trips this form saves.
* All arithmetic is promoted to DOUBLE before accumulation
  (float32 storage, float64 math) and folds left-to-right from
  ``0.0D``, matching the DuckDB oracle formulation in ``oracles.py``
  bit-for-bit; query layers round to 6 decimals before hashing.
* ``zip_with`` pads the shorter array with NULL, so any dimension
  mismatch poisons the accumulation to NULL — the YDB behavior —
  without an explicit length check.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import validate_strategy

#: fold terms over the element pair ``(x, y)`` of :func:`fold_sql`
_PRODUCT = "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)"
_DIFF = "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"


def double_sql(x: float) -> str:
    """One double as SQL text that parses back to the same bits:
    ``repr`` is the shortest round-tripping decimal, and the
    non-finite values (which have no literal) are casts."""
    x = float(x)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return "CAST('Infinity' AS DOUBLE)" if x > 0 else "CAST('-Infinity' AS DOUBLE)"
    return f"{x!r}D"


def vector_sql(vec: Sequence[float]) -> str:
    """A vector as one ARRAY<DOUBLE> literal expression."""
    if not len(vec):  # array() alone is array<void>; keep array<double>
        return "CAST(array() AS ARRAY<DOUBLE>)"
    return f"array({', '.join(double_sql(x) for x in vec)})"


def operand_sql(v) -> str:
    """A distance operand as SQL text: a column name or a plain vector."""
    if isinstance(v, Column):
        raise TypeError(
            "distance operands are column names or plain vectors, not Columns"
        )
    if isinstance(v, str):
        return "`" + v.replace("`", "``") + "`"
    return vector_sql(v)


def fold_sql(a: str, b: str, term: str) -> str:
    """Sum_i term(a[i], b[i]) over two SQL array operands (``term``
    names the pair ``x, y``): a left-to-right fold from ``0.0D``."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> {term}), 0.0D, (acc, v) -> acc + v)"
    )


def _py_l2_norm(vec: Sequence[float]) -> float:
    """Driver-side query-vector norm with the SAME IEEE op sequence as
    the SQL/oracle formulation (left-to-right double fold), so
    precomputing it is bit-identical to evaluating it per row."""
    acc = 0.0
    for x in vec:
        xx = float(x)
        acc += xx * xx
    return acc**0.5


def score_sql(strategy: str, a, b) -> str:
    """``Knn::{strategy}(a, b)`` as SQL text (reference ``app.py:222``).

    Cosine is NULL when either vector has zero norm: ``try_divide`` is
    the division guard (SURVEY.md §7.4) without a CASE WHEN that would
    re-evaluate the norm folds. When ``b`` is a plain vector (the
    query-by-vector path) its norm is folded to a literal driver-side:
    Catalyst does not constant-fold higher-order functions, so leaving
    it symbolic would re-aggregate the literal array once per row."""
    validate_strategy(strategy)
    sa, sb = operand_sql(a), operand_sql(b)
    if strategy == "EuclideanDistance":
        return f"sqrt({fold_sql(sa, sb, f'{_DIFF} * {_DIFF}')})"
    if strategy == "ManhattanDistance":
        return fold_sql(sa, sb, f"abs{_DIFF}")
    dot = fold_sql(sa, sb, _PRODUCT)
    if strategy == "InnerProductSimilarity":
        return dot
    nb = (
        f"sqrt({fold_sql(sb, sb, _PRODUCT)})"
        if isinstance(b, str)
        else double_sql(_py_l2_norm(b))
    )
    cos = f"try_divide({dot}, sqrt({fold_sql(sa, sa, _PRODUCT)}) * {nb})"
    return cos if strategy == "CosineSimilarity" else f"1.0D - {cos}"


def score_expr(strategy: str, embedding, target) -> Column:
    """``Knn::{strategy}(embedding, $TargetEmbedding)`` as a Column
    (reference ``app.py:222``)."""
    return F.expr(score_sql(strategy, embedding, target))


def vector_lit(vec: Sequence[float]) -> Column:
    """A query vector as an ARRAY<DOUBLE> literal column."""
    return F.expr(vector_sql(vec))


def dot(a, b) -> Column:
    """Sum_i a[i]*b[i] in double precision, left-to-right fold."""
    return score_expr("InnerProductSimilarity", a, b)


def l2_norm(a) -> Column:
    sa = operand_sql(a)
    return F.expr(f"sqrt({fold_sql(sa, sa, _PRODUCT)})")


def inner_product_similarity(a, b) -> Column:
    """Knn::InnerProductSimilarity — the raw dot product."""
    return score_expr("InnerProductSimilarity", a, b)


def cosine_similarity(a, b) -> Column:
    """Knn::CosineSimilarity; NULL on a zero norm or a dimension mismatch."""
    return score_expr("CosineSimilarity", a, b)


def cosine_distance(a, b) -> Column:
    """Knn::CosineDistance = 1 - CosineSimilarity."""
    return score_expr("CosineDistance", a, b)


def euclidean_distance(a, b) -> Column:
    """Knn::EuclideanDistance = sqrt(Sum_i (a[i]-b[i])^2)."""
    return score_expr("EuclideanDistance", a, b)


def manhattan_distance(a, b) -> Column:
    """Knn::ManhattanDistance = Sum_i |a[i]-b[i]|."""
    return score_expr("ManhattanDistance", a, b)
