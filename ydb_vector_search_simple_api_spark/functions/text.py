"""Text-analysis Column expressions for the training-data pipeline.

All hot-path functions are pure ``pyspark.sql.functions`` compositions
(JVM-side, codegen-friendly — no Python in the scan). Each has an
exact DuckDB formulation in ``oracles_text.py`` for the correctness
gate; that constrains the designs to deterministic, engine-portable
semantics (md5 for hashing, explicit tie-breaks, double math).

North-star extension scope (BASELINE.json): the reference itself has
no text operators; these are the operators a 100 TB LLM-data pipeline
needs (token stats, quality scoring, language ID, fingerprints,
shingles for dedup).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(col) -> Column:
    """Whitespace tokenization of trimmed, lowercased text."""
    return F.split(F.trim(F.lower(_c(col))), r"\s+")


def token_count(col) -> Column:
    return F.size(tokens(col))


def distinct_token_count(col) -> Column:
    return F.size(F.array_distinct(tokens(col)))


def char_count(col) -> Column:
    return F.length(_c(col))


def avg_token_length(col) -> Column:
    """Mean token length in double math (NULL for empty docs)."""
    t = tokens(col)
    total = F.aggregate(
        F.transform(t, lambda x: F.length(x).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.when(F.size(t) > 0, total / F.size(t).cast("double"))


def type_token_ratio(col) -> Column:
    """Lexical diversity: distinct tokens / tokens (double)."""
    t = tokens(col)
    return F.when(
        F.size(t) > 0,
        F.size(F.array_distinct(t)).cast("double") / F.size(t).cast("double"),
    )


#: tiny built-in stopword profiles for the language-ID heuristic; word
#: lists are the classic high-frequency function words per language.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "is", "in", "that", "it", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "por", "con", "los"),
    "de": ("der", "die", "und", "das", "ist", "von", "mit", "den", "ein", "zu"),
    "fr": ("le", "la", "et", "les", "des", "un", "une", "dans", "est", "que"),
}


def stopword_count(col, words: tuple[str, ...]) -> Column:
    """How many tokens (with multiplicity) fall in the given word set."""
    t = tokens(col)
    return F.aggregate(
        t,
        F.lit(0),
        lambda acc, x: acc + F.when(x.isin(*words), 1).otherwise(0),
    )


def stopword_ratio(col, words: tuple[str, ...] | None = None) -> Column:
    words = words or LANG_STOPWORDS["en"]
    t = tokens(col)
    return F.when(
        F.size(t) > 0,
        stopword_count(col, words).cast("double") / F.size(t).cast("double"),
    )


def lang_id(col) -> Column:
    """Heuristic language ID: argmax of per-language stopword counts,
    ties broken by fixed language order (en, es, de, fr); 'und' when no
    profile matches at all. Deterministic and SQL-portable by design —
    the DuckDB oracle uses the same CASE chain."""
    scores = {lang: stopword_count(col, ws) for lang, ws in LANG_STOPWORDS.items()}
    en, es, de, fr = scores["en"], scores["es"], scores["de"], scores["fr"]
    best = F.greatest(en, es, de, fr)
    return (
        F.when(best <= 0, F.lit("und"))
        .when(en == best, F.lit("en"))
        .when(es == best, F.lit("es"))
        .when(de == best, F.lit("de"))
        .otherwise(F.lit("fr"))
    )


def normalized_text(col) -> Column:
    """Canonical form for exact dedup: lowercase, trim, collapse runs
    of whitespace to single spaces."""
    return F.regexp_replace(F.trim(F.lower(_c(col))), r"\s+", " ")


def content_fingerprint(col) -> Column:
    """md5 of the normalized text — the exact-dedup key."""
    return F.md5(normalized_text(col))


def token_set_fingerprint(col) -> Column:
    """md5 over the sorted distinct token set — catches word-order
    shuffles that exact dedup misses."""
    return F.md5(
        F.array_join(F.array_sort(F.array_distinct(tokens(col))), " ")
    )


def shingles_from_tokens(tok_col, n: int = 3) -> Column:
    """Word n-gram shingles from a token-array column.

    Built as a zip_with/slice chain — gram i is grown by zipping the
    array with itself shifted j places — so the token input is
    referenced only ~n times TOTAL, not n times PER GRAM. This matters
    because Catalyst has no let-binding: optimizer rewrites (projection
    collapse, inferred-filter pushdown through exchanges) re-inline the
    input expression at every reference, and with per-gram element_at
    references one shingling used to re-run the regex split O(grams*n)
    times per row. With this shape a full re-inline costs ~n extra
    splits per row — bounded no matter where Catalyst moves it."""
    t = _c(tok_col)
    acc = t
    for j in range(1, n):
        shifted = F.slice(t, j + 1, F.greatest(F.size(t) - j, F.lit(0)))
        # zip_with pads the shorter side with NULL and concat_ws skips
        # NULLs, so tail entries hold partial grams — sliced off below
        acc = F.zip_with(acc, shifted, lambda a, b: F.concat_ws(" ", a, b))
    return F.slice(acc, 1, F.greatest(F.size(t) - (n - 1), F.lit(0)))


def shingles(col, n: int = 3) -> Column:
    """Word n-gram shingles (space-joined), [] for docs shorter than n.
    The unit of MinHash / Jaccard near-dup detection. Convenience form
    over raw text — for bulk pipelines prefer
    :func:`shingles_from_tokens` over a materialized token column."""
    return shingles_from_tokens(tokens(col), n)


def quality_score(col) -> Column:
    """Composite [0,1] quality heuristic: rewards lexical diversity,
    mid-range length and a sane stopword rate. Weights are arbitrary
    but fixed; double math for oracle parity."""
    t = tokens(col)
    n = F.size(t).cast("double")
    ttr = type_token_ratio(col)
    stop = stopword_ratio(col)
    len_term = F.when(n >= 32.0, F.lit(1.0)).otherwise(n / 32.0)
    stop_term = F.when(stop > 0.5, F.lit(0.0)).otherwise(F.lit(1.0) - stop)
    return F.when(
        F.size(t) > 0, (ttr + len_term + stop_term) / F.lit(3.0)
    ).otherwise(F.lit(0.0))


#: BPE-ish pre-tokenization pattern (GPT-2-style, ASCII-simplified,
#: lowercased input): contraction suffixes, space-prefixed letter runs,
#: digit runs, punctuation runs, residual whitespace. RE2-safe (no
#: lookaround) so the DuckDB oracle can run the IDENTICAL pattern.
BPE_ISH_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s']+|'|\s+"


def bpe_ish_token_count(col) -> Column:
    """Subword-ish token count: number of BPE-style pre-token matches.
    The real BPE merge step is vocabulary-dependent; pre-tokenization
    count is the standard cheap proxy a pipeline uses for budgeting."""
    return F.regexp_count(F.lower(_c(col)), F.lit(BPE_ISH_PATTERN))


def char_kgram_hashes(col, k: int = 8) -> Column:
    """md5 of every overlapping character k-gram (the rolling-hash
    layer of winnowing). ``col`` should be a MATERIALIZED string
    column: each element references it once (cheap attribute read)."""
    t = _c(col)
    return F.when(
        F.length(t) >= k,
        F.transform(
            F.sequence(F.lit(1), F.length(t) - k + 1),
            lambda i: F.md5(F.substring(t, i, F.lit(k))),
        ),
    ).otherwise(F.array().cast("array<string>"))


def winnow_mins(hashes_col, window: int = 4) -> Column:
    """Winnowing (Schleimer et al., SIGMOD'03): the distinct minima of
    every sliding window over the k-gram hash sequence — the document
    fingerprint set. Guarantees any shared substring of length
    >= k + window - 1 yields a shared fingerprint. ``hashes_col`` must
    be a MATERIALIZED array column (every window slices it; Catalyst
    has no let-binding, so an unmaterialized expression would re-hash
    the document once per window)."""
    h = _c(hashes_col)
    mins = F.transform(
        F.sequence(F.lit(1), F.size(h) - window + 1),
        lambda j: F.array_min(F.slice(h, j, window)),
    )
    # empty-of-same-type without naming the element type
    empty = F.filter(h, lambda _: F.lit(False))
    return F.sort_array(
        F.array_distinct(
            F.when(F.size(h) >= window, mins)
            .when(F.size(h) > 0, F.array(F.array_min(h)))
            .otherwise(empty)
        )
    )

