"""Lexical ranking + hybrid fusion — the retrieval surface a vector
store alone lacks.

The reference serves pure vector top-k (``app.py:212-227``); real
retrieval stacks pair that with lexical BM25 and fuse the two ranked
lists. Public-knowledge basis: Robertson/Spärck Jones BM25 with the
Lucene idf form ``ln(1 + (N - df + 0.5)/(df + 0.5))``, and reciprocal
rank fusion (Cormack, Clarke & Buettcher 2009): ``score(d) =
Σ 1/(kk + rank_i(d))``.

Determinism contract (same as the decimal-sum operators): per-term
BM25 contributions are rounded to 9 decimals and summed as
DECIMAL(20,9), so document scores are independent of aggregation
order; the final score rounds to 6. The RRF sum is two doubles in a
fixed expression order.

Scale shape: the term table is a broadcast literal, so tf extraction
is a narrow explode + broadcast-semi-join; the only corpus-sized
shuffles are the per-(doc, term) count and the per-doc sum. The
corpus-global scalars (N, avgdl) and the per-term document
frequencies ride broadcasts. The rank-fusion join moves 2 x pool
rows, never the corpus.
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import sort_descending, validate_strategy
from ..functions import text as TXT
from ..functions.distance import score_expr
from ..artifacts import persisted
from ..sources.store import load_documents, load_embeddings

#: deterministic gate query (terms present in the synthetic corpus)
QUERY_TERMS: tuple[str, ...] = ("vector", "hash", "stream")


def bm25_scores(
    docs: DataFrame,
    terms: Sequence[str],
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 score per document for a fixed bag of query terms.
    Documents matching no term are absent (score would be 0).
    Output: (doc_id, score)."""
    if not terms:
        raise ValueError("terms must be non-empty")
    # per-doc term frequencies as a NARROW array expression (count
    # matches inside the token array per query term) instead of
    # exploding the whole token stream and shuffling it — the query
    # has |terms| entries, so the fan-out is |terms| rows per doc and
    # the only corpus-sized exchanges left are two scan-aggregations
    # (measured 2.9 s → sub-second at sf0.1)
    toks = TXT.tokens(text_col)
    terms_arr = F.array(*[F.lit(t) for t in sorted(set(terms))])
    tf_structs = F.transform(
        terms_arr,
        lambda t: F.struct(
            t.alias("token"),
            F.size(F.filter(toks, lambda x: x == t)).cast("bigint").alias("tf"),
        ),
    )
    per_term = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.size(toks).cast("bigint").alias("dl"),
            F.explode(tf_structs).alias("s"),
        )
        .select("doc_id", "dl", F.col("s.token").alias("token"), F.col("s.tf").alias("tf"))
        .filter(F.col("tf") > 0)
    )
    stats = docs.select(F.size(toks).cast("bigint").alias("dl")).agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avgdl"
        ),
    )
    tf = per_term
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df").cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    # constants pre-folded in Python so both engines parse the exact
    # same double literals (k1+1, 1-b)
    tfn = (
        F.col("tf").cast("double")
        * F.lit(k1 + 1.0)
        / (
            F.col("tf").cast("double")
            + F.lit(k1)
            * (
                F.lit(1.0 - b)
                + F.lit(b) * F.col("dl").cast("double") / F.col("avgdl")
            )
        )
    )
    contrib = F.round(idf * tfn, 9).cast("decimal(20,9)")
    return (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(contrib).alias("s"))
        .select(
            "doc_id",
            (F.round(F.col("s").cast("double"), 6) + F.lit(0.0)).alias("score"),
        )
    )


_LEX_META_FILE = "_lexical_meta.json"


@dataclass(frozen=True)
class LexicalIndex:
    """Persisted BM25 state: a postings table + corpus stats, built
    once offline so the serving path never rescans the corpus (the
    ``build_ivf_index`` pattern applied to the lexical half).

    Layout under ``path``:
      * ``postings/`` — (token, doc_id, tf, dl) parquet, range-
        partitioned and sorted by token so a term lookup prunes to a
        handful of row groups via min/max stats + the pushed
        ``token IN (...)`` filter;
      * ``dfreq/`` — (token, df) parquet, same layout;
      * ``_lexical_meta.json`` — k1/b and the corpus scalars
        (n_docs, avgdl) the scoring formula needs.
    """

    path: str
    k1: float
    b: float
    n_docs: float
    avgdl: float


def build_lexical_index(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> LexicalIndex:
    """Offline lexical-index build: tokenize once, persist postings +
    document frequencies + corpus stats. ``bm25_scores_indexed`` over
    the result is bit-for-bit equal to the recompute ``bm25_scores``
    (asserted in tests/test_ranking.py and by the shared SQL oracle).

    Scale shape: ONE corpus tokenize (the explode is the build cost,
    paid once), one (doc, token) count shuffle, one per-token count;
    serving reads only the query terms' row groups."""
    toks = TXT.tokens(text_col)
    per_doc = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).cast("bigint").alias("dl"),
        toks.alias("toks"),
    )
    postings = (
        per_doc.select("doc_id", "dl", F.explode("toks").alias("token"))
        .groupBy("token", "doc_id", "dl")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        .repartitionByRange(F.col("token"))
        .sortWithinPartitions("token", "doc_id")
    )
    postings.write.mode("overwrite").parquet(os.path.join(out_dir, "postings"))
    dfreq = (
        spark.read.parquet(os.path.join(out_dir, "postings"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .repartitionByRange(F.col("token"))
        .sortWithinPartitions("token")
    )
    dfreq.write.mode("overwrite").parquet(os.path.join(out_dir, "dfreq"))
    # the same stats aggregation bm25_scores computes inline — the
    # doubles stored here are the exact doubles the recompute path sees
    stats = per_doc.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avgdl"
        ),
    ).collect()[0]
    meta = {
        "k1": k1,
        "b": b,
        "n_docs": float(stats.n_docs),
        "avgdl": float(stats.avgdl),
    }
    with open(os.path.join(out_dir, _LEX_META_FILE), "w") as f:
        json.dump(meta, f)
    return LexicalIndex(path=out_dir, **meta)


def load_lexical_index(path: str) -> LexicalIndex:
    with open(os.path.join(path, _LEX_META_FILE)) as f:
        meta = json.load(f)
    return LexicalIndex(path=path, **meta)


def bm25_scores_indexed(
    spark: SparkSession, index: LexicalIndex, terms: Sequence[str]
) -> DataFrame:
    """BM25 from the persisted postings — the serving path. Reads only
    the query terms' postings (pushed IN-filter over the token-sorted
    parquet); corpus scalars come from the index metadata, so no
    corpus-sized scan happens per request. Output (doc_id, score),
    bit-for-bit equal to :func:`bm25_scores` on the indexed corpus."""
    if not terms:
        raise ValueError("terms must be non-empty")
    from . import tombstones

    uniq = sorted(set(terms))
    # explicit projection: streaming-built generations carry a
    # batch_id partition dir (idempotent replay layout) that serving
    # must not leak into the scoring schema
    post = (
        spark.read.parquet(os.path.join(index.path, "postings"))
        .filter(F.col("token").isin(uniq))
        .select("token", "doc_id", "tf", "dl")
    )
    # deletes flow through the same tombstone machinery as the vector
    # layouts (operators/tombstones.py): the doc-id set is anti-joined
    # out of the term postings before scoring, so a taken-down document
    # disappears from lexical/hybrid serving without a postings rewrite.
    # Corpus stats (n_docs/avgdl/df) stay FROZEN until a rebuild — the
    # standard LSM trade (deletes are small by contract); surviving
    # docs keep their exact pre-delete scores (pinned in
    # tests/test_tombstones.py).
    post = tombstones.apply_tombstones(spark, index.path, post, id_col="doc_id")
    dfreq = spark.read.parquet(os.path.join(index.path, "dfreq")).filter(
        F.col("token").isin(uniq)
    )
    idf = F.log(
        F.lit(1.0)
        + (F.lit(index.n_docs) - F.col("df").cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    tfn = (
        F.col("tf").cast("double")
        * F.lit(index.k1 + 1.0)
        / (
            F.col("tf").cast("double")
            + F.lit(index.k1)
            * (
                F.lit(1.0 - index.b)
                + F.lit(index.b) * F.col("dl").cast("double") / F.lit(index.avgdl)
            )
        )
    )
    contrib = F.round(idf * tfn, 9).cast("decimal(20,9)")
    return (
        post.join(F.broadcast(dfreq), "token")
        .groupBy("doc_id")
        .agg(F.sum(contrib).alias("s"))
        .select(
            "doc_id",
            (F.round(F.col("s").cast("double"), 6) + F.lit(0.0)).alias("score"),
        )
    )


def bm25_topk_indexed(
    spark: SparkSession,
    index: LexicalIndex,
    terms: Sequence[str] = QUERY_TERMS,
    k: int = 10,
) -> DataFrame:
    """Top-k BM25 through the persisted index. Output
    (doc_id, score, rk) — same contract as :func:`bm25_topk`."""
    scored = bm25_scores_indexed(spark, index, terms)
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= k)
        .select("doc_id", "score", "rk")
    )


def bm25_topk(
    spark: SparkSession,
    sf_dir: str,
    terms: Sequence[str] = QUERY_TERMS,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Gate entry: top-k documents by BM25 for the fixed query terms.
    Output (doc_id, score, rk)."""
    scored = bm25_scores(load_documents(spark, sf_dir), terms, k1=k1, b=b)
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= k)
        .select("doc_id", "score", "rk")
    )


def hybrid_rrf_topk(
    spark: SparkSession,
    sf_dir: str,
    query_vec: Sequence[float],
    terms: Sequence[str] = QUERY_TERMS,
    k: int = 10,
    pool: int = 50,
    kk: int = 60,
    strategy: str = "CosineSimilarity",
    lexical_index: LexicalIndex | None = None,
) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of the BM25 top-``pool``
    and the vector top-``pool`` lists. rrf = 1/(kk + r_bm25) +
    1/(kk + r_vec), missing list membership contributes 0; ties broken
    by doc_id. Output (doc_id, rrf, rk).

    The fusion join moves 2·pool rows; each candidate list is produced
    by its native top-k machinery (decimal-summed BM25; codegen vector
    scoring + TakeOrdered), so the hybrid inherits both scale paths.
    With ``lexical_index`` set, the BM25 half reads the persisted
    postings instead of rescanning the corpus — the serving contract
    (bit-identical lists, so the fusion is unchanged)."""
    if lexical_index is not None:
        bm = bm25_topk_indexed(spark, lexical_index, terms, k=pool).select(
            "doc_id", F.col("rk").alias("r_bm")
        )
    else:
        bm = bm25_topk(spark, sf_dir, terms, k=pool).select(
            "doc_id", F.col("rk").alias("r_bm")
        )
    score = F.round(
        score_expr(strategy, "embedding", list(query_vec)), 9
    )
    direction = (
        F.col("vscore").desc_nulls_last()
        if sort_descending(strategy)
        else F.col("vscore").asc_nulls_last()
    )
    vec = (
        load_embeddings(spark, sf_dir)
        .select(F.col("vec_id").alias("doc_id"), score.alias("vscore"))
        .orderBy(direction, F.col("doc_id").asc())
        .limit(pool)
    )
    wv = Window.orderBy(direction, F.col("doc_id").asc())
    vec = vec.withColumn("r_vec", F.row_number().over(wv).cast("bigint")).select(
        "doc_id", "r_vec"
    )
    fused = (
        bm.join(vec, "doc_id", "full_outer")
        .select(
            "doc_id",
            (
                F.round(
                    F.coalesce(
                        F.lit(1.0) / (F.lit(float(kk)) + F.col("r_bm").cast("double")),
                        F.lit(0.0),
                    )
                    + F.coalesce(
                        F.lit(1.0) / (F.lit(float(kk)) + F.col("r_vec").cast("double")),
                        F.lit(0.0),
                    ),
                    6,
                )
                + F.lit(0.0)
            ).alias("rrf"),
        )
    )
    w = Window.orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
    return (
        fused.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= k)
        .select("doc_id", "rrf", "rk")
    )


def mmr_rerank(
    spark: SparkSession,
    sf_dir: str,
    query_vec: Sequence[float],
    k: int = 10,
    pool: int = 50,
    lam: float = 0.7,
    strategy: str = "CosineSimilarity",
) -> DataFrame:
    """Maximal-marginal-relevance diversification (Carbonell &
    Goldstein 1998) of the vector top-``pool``: greedily pick
    ``argmax λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s)`` so near-duplicate
    hits don't crowd the result page.

    Serving-path shape (same contract as the documented query-batch
    joins): the cluster computes the top-``pool`` candidates —
    codegen scoring + TakeOrderedAndProject, corpus-sized work stays
    distributed — and only the k-bound candidate block (``pool`` rows
    of id/score/vector) crosses to the driver for the inherently
    sequential greedy loop, which is O(pool²·dim) on ≤50 rows. Ties
    break by doc_id; scores round to 6 first so selection is
    partition-invariant. Output (doc_id, mmr, rk)."""
    import numpy as np

    if not 0.0 <= lam <= 1.0:
        raise ValueError("lam must be in [0, 1]")
    score = F.round(
        score_expr(strategy, "embedding", list(query_vec)), 6
    ) + F.lit(0.0)
    direction = (
        F.col("rel").desc_nulls_last()
        if sort_descending(strategy)
        else F.col("rel").asc_nulls_last()
    )
    cand = (
        load_embeddings(spark, sf_dir)
        .select(
            F.col("vec_id").alias("doc_id"), score.alias("rel"), "embedding"
        )
        .orderBy(direction, F.col("doc_id").asc())
        .limit(pool)
        .collect()
    )
    if not cand:
        return spark.createDataFrame([], "doc_id long, mmr double, rk long")
    ids = [r.doc_id for r in cand]
    rel = np.array([r.rel if r.rel is not None else -np.inf for r in cand])
    # the greedy maximizes lam*rel − penalty, which assumes HIGHER rel
    # = more relevant; for the distance strategies lower is better, so
    # negate (the pool was already selected in the right direction)
    if not sort_descending(strategy):
        rel = np.where(np.isfinite(rel), -rel, rel)
    # pairwise cosine with EXACT sequential folds (left-to-right adds,
    # dot/(na*nb) factorization) — the same IEEE op sequence DuckDB's
    # list_sum fold executes, so the greedy's inputs are bit-identical
    # across engines and the whole loop is oracle-checkable (a BLAS
    # matmul here differs in the last ulp and would make the gate
    # flaky at the 1e-9 rounding boundaries)
    import math

    def _seq_dot(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        return s

    V = [[float(x) for x in r.embedding] for r in cand]
    norms = [math.sqrt(_seq_dot(v, v)) for v in V]
    m = len(V)
    sim = [[0.0] * m for _ in range(m)]
    for i in range(m):
        for j in range(i + 1, m):
            nn = norms[i] * norms[j]
            c = _seq_dot(V[i], V[j]) / nn if nn != 0 else 0.0
            sim[i][j] = sim[j][i] = c

    selected: list[int] = []
    remaining = list(range(len(ids)))
    out = []
    while remaining and len(selected) < k:
        best_i, best_val = None, None
        for i in remaining:
            penalty = max((sim[i][j] for j in selected), default=0.0)
            val = round(lam * rel[i] - (1.0 - lam) * penalty, 9)
            # deterministic: strictly-greater wins; ties keep the
            # lowest doc_id (remaining is scanned in doc_id-free pool
            # order, so compare explicitly)
            if (
                best_val is None
                or val > best_val
                or (val == best_val and ids[i] < ids[best_i])
            ):
                best_i, best_val = i, val
        selected.append(best_i)
        remaining.remove(best_i)
        # +0.0 normalizes IEEE -0.0 (the oracle's `mmr + 0.0` twin)
        out.append((ids[best_i], float(best_val) + 0.0, len(selected)))
    return spark.createDataFrame(out, "doc_id long, mmr double, rk long")


def rag_context(
    spark: SparkSession,
    sf_dir: str,
    query_vec: Sequence[float],
    k: int = 10,
    budget_tokens: int = 256,
    strategy: str = "CosineSimilarity",
) -> DataFrame:
    """RAG context assembly: vector top-k -> greedy token-budget cut in
    rank order — the serving-side step that turns retrieval into an
    LLM prompt context. Output (rk, doc_id, score, n_tokens,
    cum_tokens, included): every top-k candidate with its running
    token total; ``included=1`` marks the prefix that fits the budget
    (whole-document greedy, no mid-doc truncation — the packing twin
    chunks first when that matters; see curation.pack_chunks).

    Scale shape: scoring + top-k is the flagship plan (codegen fold +
    TakeOrderedAndProject); the text column is read for exactly k rows
    via the k-row-broadcast metadata join; the running sum windows
    over k rows."""
    from ..sources.store import load_documents

    validate_strategy(strategy)
    score = F.round(
        score_expr(strategy, "embedding", list(query_vec)), 6
    ) + F.lit(0.0)
    direction = (
        F.col("score").desc_nulls_last()
        if sort_descending(strategy)
        else F.col("score").asc_nulls_last()
    )
    topk = (
        load_embeddings(spark, sf_dir)
        .select(F.col("vec_id").alias("doc_id"), score.alias("score"))
        .orderBy(direction, F.col("doc_id").asc())
        .limit(k)
    )
    docs = load_documents(spark, sf_dir).select(
        "doc_id", TXT.token_count("text").cast("bigint").alias("n_tokens")
    )
    # k-row broadcast build side, corpus probe side (the serving
    # contract shared with exact_search's metadata join)
    joined = F.broadcast(topk).join(docs, "doc_id", "inner")
    w = Window.orderBy(direction, F.col("doc_id").asc())
    cum = F.sum("n_tokens").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        joined.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .withColumn("cum_tokens", cum.cast("bigint"))
        .withColumn(
            "included",
            (F.col("cum_tokens") <= F.lit(budget_tokens)).cast("int"),
        )
        .select("rk", "doc_id", "score", "n_tokens", "cum_tokens", "included")
    )


#: default phrase for the gate entry (two common corpus tokens).
PHRASE_TERMS = ("table", "hash")


def phrase_match_positions(docs: DataFrame, phrase: Sequence[str]) -> DataFrame:
    """Exact phrase search: (doc_id, n_matches, first_pos) for docs
    containing ``phrase`` as consecutive tokens (1-based positions).

    Scale shape — ZERO shuffle: the match test is one array lambda per
    document (``filter(sequence(1, len-m+1), i -> tok[i]=w1 AND ...)``)
    evaluated inside whole-stage codegen during the scan; no token
    explode, no positional self-join, nothing leaves the map side
    until the (matching-docs-only) rows are returned. The same
    formulation serves from a positional-postings store by replacing
    the scan with the phrase terms' posting lists (the
    bm25_topk_indexed pattern); at corpus scale the array form IS the
    verify stage either way.
    """
    import functools
    import operator

    m = len(phrase)
    if m < 1:
        raise ValueError("phrase must be non-empty")
    toks = TXT.tokens("text")

    def _match_at(i):
        return functools.reduce(
            operator.and_,
            [
                F.element_at(F.col("t"), i + F.lit(j)) == F.lit(w)
                for j, w in enumerate(phrase)
            ],
        )

    hits = F.filter(
        F.sequence(F.lit(1), F.greatest(F.size("t") - F.lit(m - 1), F.lit(0))),
        _match_at,
    )
    out = (
        docs.select("doc_id", toks.alias("t"))
        .filter(F.size("t") >= m)
        .select("doc_id", hits.alias("hits"))
        .filter(F.size("hits") > 0)
    )
    return out.select(
        "doc_id",
        F.size("hits").cast("bigint").alias("n_matches"),
        F.element_at("hits", 1).cast("bigint").alias("first_pos"),
    )


def phrase_search(
    spark: SparkSession, sf_dir: str, phrase: Sequence[str] = PHRASE_TERMS
) -> DataFrame:
    """Gate entry: exact phrase occurrences of the fixed query phrase
    over the documents table."""
    return phrase_match_positions(load_documents(spark, sf_dir), phrase)


def build_positional_postings(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """Offline positional-postings build for phrase serving:
    (token, doc_id, positions array<int>, dl) parquet, range-
    partitioned + sorted by token (the ``build_lexical_index``
    layout), so a phrase lookup reads ONLY its terms' row groups via
    min/max stats + the pushed ``token IN (...)`` filter. One corpus
    tokenize, one (doc, token) shuffle — paid once at build."""
    toks = TXT.tokens(text_col)
    per_doc = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).cast("bigint").alias("dl"),
        F.posexplode(toks).alias("pos0", "token"),
    )
    postings = (
        per_doc.groupBy("token", "doc_id", "dl")
        .agg(
            F.sort_array(F.collect_list((F.col("pos0") + 1).cast("int"))).alias(
                "positions"
            )
        )
        .repartitionByRange(F.col("token"))
        .sortWithinPartitions("token", "doc_id")
    )
    postings.write.mode("overwrite").parquet(os.path.join(out_dir, "postings"))
    return out_dir


def phrase_search_indexed(
    spark: SparkSession, index_dir: str, phrase: Sequence[str] = PHRASE_TERMS
) -> DataFrame:
    """Phrase serving from the positional store: read the phrase
    terms' posting lists only, join them per document, and verify
    adjacency with array predicates — output identical to
    :func:`phrase_match_positions` over the indexed corpus (shared
    oracle).

    Plan shape: m-1 equi-joins on doc_id over term-pruned scans (the
    rarest-term list could drive; Catalyst reorders), then ONE array
    lambda filters the anchor positions — no explode of position
    lists, no window."""
    m = len(phrase)
    if m < 1:
        raise ValueError("phrase must be non-empty")
    post = spark.read.parquet(os.path.join(index_dir, "postings"))
    uniq = sorted(set(phrase))
    post = post.filter(F.col("token").isin(uniq)).select(
        "token", "doc_id", "positions"
    )
    base = post.filter(F.col("token") == phrase[0]).select(
        "doc_id", F.col("positions").alias("p0")
    )
    for j, w in enumerate(phrase[1:], start=1):
        side = post.filter(F.col("token") == w).select(
            "doc_id", F.col("positions").alias(f"p{j}")
        )
        base = base.join(side, "doc_id")
    hits = F.filter(
        F.col("p0"),
        lambda p: (
            # consecutive containment in every later term's list
            F.aggregate(
                F.array(
                    *[
                        F.array_contains(F.col(f"p{j}"), p + F.lit(j)).cast("int")
                        for j in range(1, m)
                    ]
                )
                if m > 1
                else F.array(F.lit(1)),
                F.lit(1),
                lambda acc, x: acc * x,
            )
            == F.lit(1)
        ),
    )
    out = base.select("doc_id", hits.alias("hits")).filter(F.size("hits") > 0)
    return out.select(
        "doc_id",
        F.size("hits").cast("bigint").alias("n_matches"),
        F.element_at("hits", 1).cast("bigint").alias("first_pos"),
    )


def phrase_search_store(
    spark: SparkSession, sf_dir: str, phrase: Sequence[str] = PHRASE_TERMS
) -> DataFrame:
    """Gate entry: phrase serving through the positional store built
    once (``artifacts.persisted``) — shares ``phrase_search``'s
    oracle, proving store path == scan path."""
    return persisted(
        "pospost", sf_dir, {},
        lambda out: build_positional_postings(spark, load_documents(spark, sf_dir), out),
        lambda path: phrase_search_indexed(spark, path, phrase),
    )
