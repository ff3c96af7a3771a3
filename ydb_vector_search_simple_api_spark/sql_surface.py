"""SQL-string query surface: the reference's YQL template, on Spark SQL.

The reference's only query "IR" is a templated YQL string
(``/root/reference/app.py:165-227``) that invokes the server-side
``Knn::`` UDF namespace (``app.py:222``) and binds the query vector as
a declared parameter (``app.py:199-210``, bound at ``app.py:246``).
This module reproduces that surface natively:

* ``register_knn_functions`` — a ``knn_*`` SQL function namespace via
  Spark 4 SQL scalar UDFs (``CREATE FUNCTION ... RETURN <expr>``).
  These are pure expressions: Catalyst inlines the body into the plan,
  so a SQL-surface query keeps the exact physical shape of the library
  path — whole-stage-codegen scoring + ``TakeOrderedAndProject`` —
  with no Python boundary and no JVM UDF jar.
* ``prepare_search_query`` — the template twin of the reference's
  ``prepare_search_query`` (``app.py:165-227``): ``SELECT 4 columns +
  knn_*(embedding, :TargetEmbedding) AS score FROM {table} [WHERE
  conjunctive equality] ORDER BY score {DESC|ASC} LIMIT k``.
* ``sql_search`` — assemble + execute with named-parameter binding
  (``spark.sql(query, args=...)``), the ``DECLARE $embedding``/
  ``$TargetEmbedding`` twin.

Parity divergences (deliberate, same policy as the library path):

* Filter values and the query vector are **bound named parameters**,
  never interpolated — the reference's f-string injection bug
  (``app.py:177-181``) is not reproduced.
* NULL scores sort LAST in both directions (see
  ``operators/search.py:_order_cols`` for the rationale), and ties
  break on ``id`` so the k-boundary is deterministic.
* The ANN index path (``VIEW {index}`` + ``PRAGMA``, ``app.py:186-196``)
  is not expressible as a SQL string here; index-backed search stays on
  the library API (``operators/index.py`` / ``tree.py``).

Scale note: the flat template scores the wide ``store`` view (the
reference-literal shape); :func:`prepare_search_query_narrow` is the
scale-shaped alternative — a CTE that scores the narrow vector table,
takes top-k, and joins metadata on k rows, compiling to the SAME
physical plan as the library path (TakeOrderedAndProject on the
narrow scan + broadcast join; plan-asserted). Result-identical to
both the flat template and ``exact_search``.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession

from .config import (
    DEFAULT_K,
    FILTERABLE_FIELDS,
    STRATEGIES,
    sort_descending,
    validate_strategy,
)
from .functions.distance import score_sql
from .sources.store import load_store_df


#: strategy name (reference env.example:15-17) -> SQL function name.
KNN_FUNCTION_NAMES: dict[str, str] = {
    "CosineSimilarity": "knn_cosine_similarity",
    "InnerProductSimilarity": "knn_inner_product_similarity",
    "CosineDistance": "knn_cosine_distance",
    "EuclideanDistance": "knn_euclidean_distance",
    "ManhattanDistance": "knn_manhattan_distance",
}


def register_knn_functions(spark: SparkSession) -> None:
    """Register the ``knn_*`` SQL function namespace (idempotent).

    Each is a Spark SQL scalar UDF over two ``ARRAY<FLOAT>`` args
    returning DOUBLE, whose body is the library path's own score text
    (``functions/distance.py:score_sql``), so both surfaces score with
    one formulation. Catalyst inlines the body, so calls stay inside
    whole-stage codegen (verified by ``tests/test_sql_surface.py``'s
    plan assertions)."""
    for strategy, name in KNN_FUNCTION_NAMES.items():
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}"
            f"(a ARRAY<FLOAT>, b ARRAY<FLOAT>) RETURNS DOUBLE"
            f" RETURN {score_sql(strategy, 'a', 'b')}"
        )


def register_store_view(
    spark: SparkSession, sf_dir: str, table: str = "store"
) -> None:
    """Register the reference's 5-column store shape as a temp view
    (``FROM {YDB_TABLE}``, reference ``app.py:223``; shape §1.1)."""
    load_store_df(spark, sf_dir).createOrReplaceTempView(table)


def prepare_search_query(
    strategy: str = "CosineSimilarity",
    k: int = DEFAULT_K,
    filter: Mapping[str, str] | None = None,
    table: str = "store",
    round_digits: int | None = None,
) -> str:
    """Assemble the search statement — the twin of the reference's
    ``prepare_search_query`` (``app.py:165-227``).

    Like the reference, this is pure string assembly over validated
    identifiers; unlike it, every *value* (query vector, filter
    values) is a named parameter (``:TargetEmbedding``, ``:f_title``,
    ...) bound at execution, so no user data is ever interpolated."""
    validate_strategy(strategy)
    if not isinstance(k, int) or isinstance(k, bool) or k < 1:
        raise ValueError("k must be a positive integer")  # app.py:368-370
    flt = dict(filter or {})
    bad = set(flt) - set(FILTERABLE_FIELDS)
    if bad:
        raise ValueError(
            f"Unfilterable field(s) {sorted(bad)}; allowed: {FILTERABLE_FIELDS}"
        )

    score = f"{KNN_FUNCTION_NAMES[strategy]}(embedding, :TargetEmbedding)"
    if round_digits is not None:
        # + 0.0 canonicalizes IEEE -0.0 (same as the library path)
        score = f"ROUND({score}, {int(round_digits)}) + 0.0D"
    where = ""
    if flt:
        # field names are validated against FILTERABLE_FIELDS above;
        # values bind as :f_{field} (reference interpolates, app.py:177-181)
        conds = " AND ".join(f"{field} = :f_{field}" for field in sorted(flt))
        where = f"\nWHERE {conds}"
    direction = "DESC" if sort_descending(strategy) else "ASC"
    return (
        "SELECT id, title, vendor, description,\n"
        f"       {score} AS score\n"
        f"FROM {table}{where}\n"
        f"ORDER BY score {direction} NULLS LAST, id ASC\n"
        f"LIMIT {k}"
    )


def sql_search(
    spark: SparkSession,
    sf_dir: str,
    query_vec: Sequence[float],
    k: int = DEFAULT_K,
    strategy: str = "CosineSimilarity",
    filter: Mapping[str, str] | None = None,
    round_digits: int | None = None,
    table: str = "store",
) -> DataFrame:
    """Execute a search through the SQL-string surface: register the
    ``knn_*`` functions and the store view, assemble the template, and
    run it with bound parameters — end-to-end the reference's
    ``execute_search`` flow (``app.py:230-264``) minus the network.

    Result is identical (rows, ordering, scores) to
    ``operators/search.py:exact_search`` with the same arguments —
    pinned by ``tests/test_sql_surface.py`` across all 5 strategies.
    """
    register_knn_functions(spark)
    register_store_view(spark, sf_dir, table=table)
    query = prepare_search_query(
        strategy=strategy, k=k, filter=filter, table=table, round_digits=round_digits
    )
    args: dict[str, object] = {"TargetEmbedding": [float(x) for x in query_vec]}
    for field, value in (filter or {}).items():
        args[f"f_{field}"] = value
    return spark.sql(query, args=args)


__all__ = [
    "KNN_FUNCTION_NAMES",
    "STRATEGIES",
    "prepare_search_query",
    "register_knn_functions",
    "register_store_view",
    "sql_search",
]


def register_table_functions(spark: SparkSession) -> None:
    """Register the table-function half of the SQL surface (Spark 4
    Python UDTFs, Arrow-optimized): ``chunk_text(text, chunk_size,
    stride)`` — the SQL-callable twin of
    ``operators.textual.chunk_documents`` (same tokenizer: whitespace
    runs over trim(lower(text)); same chunk grid: a chunk every
    ``stride`` tokens, ``chunk_size`` long, tail chunks shorter).

    A UDTF is the compat/exploration path: rows cross into Python per
    invocation (Arrow-batched, but still off the JVM). The library
    operator's pure-codegen slice grid remains the 100 TB hot path —
    result-identical, pinned in tests/test_sql_surface.py."""
    from pyspark.sql.functions import udtf

    @udtf(
        returnType="chunk_id int, chunk_text string, n_chunk_tokens int",
        useArrow=True,
    )
    class ChunkText:
        def eval(self, text: str, chunk_size: int, stride: int):
            if text is None or chunk_size is None or stride is None:
                return
            if chunk_size < 1 or stride < 1:
                return
            toks = text.strip().lower().split()
            if not toks:
                return
            for cid, start in enumerate(range(0, len(toks), stride)):
                ch = toks[start : start + chunk_size]
                yield cid, " ".join(ch), len(ch)

    spark.udtf.register("chunk_text", ChunkText)


def prepare_search_query_narrow(
    strategy: str = "CosineSimilarity",
    k: int = DEFAULT_K,
    filter: Mapping[str, str] | None = None,
    round_digits: int | None = None,
) -> str:
    """The SCALE-SHAPED template: score the narrow vector table, top-k
    FIRST, then join document metadata — the same physical plan as the
    library path (``operators/search.py:exact_search``), expressed as
    pure SQL over the physical ``documents``/``embeddings`` views
    (``sources.store.register_views``). This removes the flat
    template's one scale caveat (wide-row scoring); results are
    identical to :func:`prepare_search_query` (tested)."""
    validate_strategy(strategy)
    if not isinstance(k, int) or isinstance(k, bool) or k < 1:
        raise ValueError("k must be a positive integer")
    flt = dict(filter or {})
    bad = set(flt) - set(FILTERABLE_FIELDS)
    if bad:
        raise ValueError(
            f"Unfilterable field(s) {sorted(bad)}; allowed: {FILTERABLE_FIELDS}"
        )
    score = f"{KNN_FUNCTION_NAMES[strategy]}(embedding, :TargetEmbedding)"
    if round_digits is not None:
        score = f"ROUND({score}, {int(round_digits)}) + 0.0D"
    # logical filter fields -> physical documents columns (ColumnMap
    # defaults; the view carries physical names)
    phys = {"title": "source", "vendor": "lang", "description": "text"}
    where = ""
    if flt:
        conds = " AND ".join(f"{phys[f]} = :f_{f}" for f in sorted(flt))
        where = (
            f"\n  WHERE vec_id IN (SELECT doc_id FROM documents WHERE {conds})"
        )
    direction = "DESC" if sort_descending(strategy) else "ASC"
    return (
        "WITH topk AS (\n"
        f"  SELECT vec_id AS id, {score} AS score\n"
        f"  FROM embeddings{where}\n"
        f"  ORDER BY score {direction} NULLS LAST, id ASC\n"
        f"  LIMIT {k}\n"
        ")\n"
        "SELECT t.id AS id, d.source AS title, d.lang AS vendor,\n"
        "       d.text AS description, t.score AS score\n"
        "FROM topk t JOIN documents d ON d.doc_id = t.id\n"
        f"ORDER BY t.score {direction} NULLS LAST, t.id ASC"
    )


def sql_search_narrow(
    spark: SparkSession,
    sf_dir: str,
    query_vec: Sequence[float],
    k: int = DEFAULT_K,
    strategy: str = "CosineSimilarity",
    filter: Mapping[str, str] | None = None,
    round_digits: int | None = None,
) -> DataFrame:
    """Execute the scale-shaped SQL template (see
    :func:`prepare_search_query_narrow`)."""
    from .sources.store import register_views

    register_knn_functions(spark)
    register_views(spark, sf_dir)
    query = prepare_search_query_narrow(
        strategy=strategy, k=k, filter=filter, round_digits=round_digits
    )
    args: dict[str, object] = {"TargetEmbedding": [float(x) for x in query_vec]}
    for field, value in (filter or {}).items():
        args[f"f_{field}"] = value
    return spark.sql(query, args=args)


def prepare_bm25_query(n_terms: int, k: int = 10, k1: float = 1.2, b: float = 0.75) -> str:
    """BM25 top-k as PURE Spark SQL over the ``documents`` view — the
    SQL-surface twin of ``operators.ranking.bm25_topk`` (same narrow
    per-term array-count formulation, same decimal-summed
    contributions, bit-identical results — tested and sharing the
    bm25 oracle family). Terms are BOUND parameters ``:t0..:tN``
    (values, never interpolated — the injection-safe contract of the
    whole SQL surface)."""
    if n_terms < 1:
        raise ValueError("n_terms must be >= 1")
    if not isinstance(k, int) or isinstance(k, bool) or k < 1:
        raise ValueError("k must be a positive integer")
    terms_arr = "array(" + ", ".join(f":t{i}" for i in range(n_terms)) + ")"
    # constants folded in Python so the SQL carries the exact doubles
    # the library path uses (k1+1, 1-b)
    idf = "ln(1.0D + (s.n_docs - CAST(df AS DOUBLE) + 0.5D) / (CAST(df AS DOUBLE) + 0.5D))"
    tfn = (
        f"CAST(tf AS DOUBLE) * {k1 + 1.0!r}D / "
        f"(CAST(tf AS DOUBLE) + {k1!r}D * "
        f"({1.0 - b!r}D + {b!r}D * CAST(dl AS DOUBLE) / s.avgdl))"
    )
    return f"""
WITH toks AS (
  SELECT doc_id, split(trim(lower(text)), '\\\\s+') AS t FROM documents
),
per_term AS (
  SELECT doc_id, dl, s.token AS token, s.tf AS tf FROM (
    SELECT doc_id, CAST(size(t) AS BIGINT) AS dl,
           explode(transform(array_sort(array_distinct({terms_arr})),
                             x -> named_struct(
                               'token', x,
                               'tf', CAST(size(filter(t, y -> y = x)) AS BIGINT))))
             AS s
    FROM toks)
  WHERE s.tf > 0
),
stats AS (
  SELECT CAST(count(1) AS DOUBLE) AS n_docs,
         CAST(sum(size(t)) AS DOUBLE) / CAST(count(1) AS DOUBLE) AS avgdl
  FROM toks
),
dfreq AS (SELECT token, count(1) AS df FROM per_term GROUP BY token),
scored AS (
  SELECT p.doc_id,
         ROUND(CAST(sum(CAST(ROUND({idf} * {tfn}, 9) AS DECIMAL(20,9)))
                    AS DOUBLE), 6) + 0.0D AS score
  FROM per_term p JOIN dfreq USING (token) CROSS JOIN stats s
  GROUP BY p.doc_id
)
SELECT doc_id, score,
       CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rk
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def sql_bm25_topk(
    spark: SparkSession,
    sf_dir: str,
    terms: Sequence[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Execute the BM25 SQL template with bound term parameters."""
    from .sources.store import register_views

    register_views(spark, sf_dir)
    uniq = sorted(set(terms))
    query = prepare_bm25_query(len(uniq), k=k, k1=k1, b=b)
    args = {f"t{i}": t for i, t in enumerate(uniq)}
    return spark.sql(query, args=args)
