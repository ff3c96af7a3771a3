"""Text-analysis functions: language ID on real text, fingerprint
invariances, quality bounds."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ydb_vector_search_simple_api_spark.functions import text as TXT

SF_SMALL = "/root/testdata/sf0.001"


def _one(spark, text, col):
    return spark.createDataFrame([(text,)], ["text"]).select(col.alias("v")).head().v


def test_lang_id_real_sentences(spark):
    cases = {
        "the cat is in the house and it is warm": "en",
        "el perro y el gato en la casa de los abuelos": "es",
        "der hund und die katze sind in das haus von den kindern": "de",
        "le chien et le chat dans les maisons des voisins": "fr",
        "zzz qqq xxx": "und",
    }
    for sentence, expected in cases.items():
        got = _one(spark, sentence, TXT.lang_id(F.col("text")))
        assert got == expected, f"{sentence!r} -> {got}, want {expected}"


def test_token_counts(spark):
    assert _one(spark, "  Foo bar   baz  ", TXT.token_count(F.col("text"))) == 3
    assert _one(spark, "a a a b", TXT.distinct_token_count(F.col("text"))) == 2


def test_type_token_ratio(spark):
    assert _one(spark, "a a b b", TXT.type_token_ratio(F.col("text"))) == pytest.approx(0.5)


def test_content_fingerprint_normalizes_whitespace_and_case(spark):
    a = _one(spark, "Hello   World", TXT.content_fingerprint(F.col("text")))
    b = _one(spark, "hello world", TXT.content_fingerprint(F.col("text")))
    c = _one(spark, "hello worlds", TXT.content_fingerprint(F.col("text")))
    assert a == b != c


def test_token_set_fingerprint_order_insensitive(spark):
    a = _one(spark, "alpha beta gamma", TXT.token_set_fingerprint(F.col("text")))
    b = _one(spark, "gamma alpha beta beta", TXT.token_set_fingerprint(F.col("text")))
    c = _one(spark, "alpha beta delta", TXT.token_set_fingerprint(F.col("text")))
    assert a == b != c


def test_shingles(spark):
    got = _one(spark, "a b c d", TXT.shingles(F.col("text"), 3))
    assert got == ["a b c", "b c d"]
    assert _one(spark, "a b", TXT.shingles(F.col("text"), 3)) == []


def test_quality_bounds(spark):
    for text in ("a", "the the the the", "a rich and varied vocabulary of many words"):
        q = _one(spark, text, TXT.quality_score(F.col("text")))
        assert 0.0 <= q <= 1.0
    rich = _one(
        spark,
        "a rich varied vocabulary containing many distinct informative words "
        "spread across this reasonably long and diverse example sentence here",
        TXT.quality_score(F.col("text")),
    )
    junk = _one(spark, "the the the the the the", TXT.quality_score(F.col("text")))
    assert rich > junk


def test_winnowing_shared_substring_guarantee(spark):
    """Winnowing guarantee: docs sharing a substring of length
    >= k + window - 1 share at least one fingerprint."""
    from ydb_vector_search_simple_api_spark.functions import text as TXT
    from pyspark.sql import functions as F

    k, w = 8, 4
    shared = "the quick brown fox jumps over the lazy dog"
    rows = [
        (1, "AAAA " + shared + " BBBB"),
        (2, "cccc dddd " + shared + " eeee"),
        (3, "completely unrelated content with zero overlap at all 123"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    hashed = df.select(
        "doc_id", TXT.char_kgram_hashes("text", k).alias("h")
    ).repartition(2, "doc_id")
    fps = {
        r.doc_id: set(r.fps)
        for r in hashed.select(
            "doc_id", TXT.winnow_mins(F.col("h"), w).alias("fps")
        ).collect()
    }
    assert fps[1] & fps[2], "shared substring must yield a shared fingerprint"
    assert not (fps[1] & fps[3])
    assert not (fps[2] & fps[3])


def test_bpe_ish_token_count_examples(spark):
    from ydb_vector_search_simple_api_spark.functions import text as TXT

    rows = [(1, "don't stop"), (2, "abc123 x-y"), (3, "hello,  world!")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: r.n
        for r in df.select("doc_id", TXT.bpe_ish_token_count("text").alias("n")).collect()
    }
    # don / 't / ' stop' ; 'abc' / '123' / ' x' / '-' / 'y' ; 'hello' / ',' / ' ' / ' world' / '!'
    assert got == {1: 3, 2: 5, 3: 5}


def test_chunking_covers_and_overlaps(spark):
    from ydb_vector_search_simple_api_spark.operators import textual as T

    C, S = 16, 12
    chunks = T.chunk_documents(spark, SF_SMALL, chunk_size=C, stride=S).collect()
    stats = {
        r.doc_id: r.n_tokens
        for r in T.text_stats(spark, SF_SMALL).collect()
    }
    by_doc: dict = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(stats)
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r.chunk_id)
        n = stats[doc_id]
        # chunk grid: ids 0..floor((n-1)/S); all full-size except maybe tail
        assert [r.chunk_id for r in rows] == list(range((n - 1) // S + 1))
        for r in rows:
            start = r.chunk_id * S
            assert r.n_chunk_tokens == min(C, n - start)
        # consecutive chunks overlap by C - S tokens
        for a, b in zip(rows, rows[1:]):
            ta, tb = a.chunk_text.split(" "), b.chunk_text.split(" ")
            if len(ta) == C:
                assert ta[S:] == tb[: C - S]


def test_tfidf_top_terms_contract(spark):
    from ydb_vector_search_simple_api_spark.operators import textual as T

    rows = T.tfidf_top_terms(spark, SF_SMALL, top_n=3).collect()
    per_doc: dict = {}
    for r in rows:
        per_doc.setdefault(r.doc_id, []).append(r)
    assert len(per_doc) > 0
    for doc_id, rs in per_doc.items():
        ranks = sorted(r.rk for r in rs)
        assert ranks == list(range(1, len(rs) + 1)) and len(rs) <= 3
        # ranking follows (tfidf DESC, token ASC)
        ordered = sorted(rs, key=lambda r: (-r.tfidf, r.token))
        assert [r.rk for r in ordered] == ranks
        # a term appearing in every document has idf 0 -> never a top term
        assert all(r.tfidf > 0 for r in rs)


def test_winnowing_flat_keeps_hash_below_barrier_only(spark):
    """Regression pin: no filter may be pushed below the repartition
    barrier — that re-inlines the winnowing fold into the scan stage
    (40x slowdown). Below the Exchange only the k-gram hashing may
    appear."""
    from ydb_vector_search_simple_api_spark.operators import textual as T

    plan = (
        T.winnowing_digest(spark, SF_SMALL)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" in plan
    below = plan.split("Exchange", 1)[1]
    assert "array_min" not in below  # the window-minima fold
    # physical Filter nodes print as "Filter (cond)"; the scan line's
    # "PushedFilters: []" labels are not matches
    assert "Filter (" not in below


def test_winnow_fingerprints_kernel_guarantees():
    """The numpy winnowing kernel behind winnowing_digest_arrow and
    incremental_dedup_arrow, without Spark: a shared substring of at
    least k+w-1 bytes yields a shared fingerprint; input shorter than
    k yields nothing; with fewer than ``window`` k-grams the result is
    their single minimum."""
    import numpy as np

    from ydb_vector_search_simple_api_spark.operators.textual import (
        winnow_fingerprints,
    )

    k, w = 8, 4
    rng = np.random.default_rng(7)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz "))
    rand = lambda n: "".join(rng.choice(letters, n))
    for _ in range(50):
        shared = rand(k + w - 1)
        a = rand(int(rng.integers(0, 40))) + shared + rand(int(rng.integers(0, 40)))
        b = rand(int(rng.integers(0, 40))) + shared + rand(int(rng.integers(0, 40)))
        fa, fb = winnow_fingerprints(a, k, w), winnow_fingerprints(b, k, w)
        assert np.intersect1d(fa, fb).size > 0, (a, b)
        assert fa.dtype == np.uint64 and np.all(np.diff(fa.astype(object)) > 0)

    empty = winnow_fingerprints("a" * (k - 1), k, w)
    assert empty.size == 0 and empty.dtype == np.uint64

    text = "abcdefghij"  # 3 k-grams < window
    grams = []
    for i in range(len(text) - k + 1):
        h = 0
        for byte in text[i : i + k].encode():
            h = (h * 1099511628211 + byte) % 2**64
        grams.append(h)
    got = winnow_fingerprints(text, k, w)
    assert got.tolist() == [min(grams)]


def test_winnowing_arrow_guarantee_and_speed_shape(spark):
    """Arrow winnowing: same guarantee, same n_fps GEOMETRY as the
    expression form (count of distinct window minima depends only on
    hash-tie structure; distinct hashes => identical counts with
    overwhelming probability on real text)."""
    from ydb_vector_search_simple_api_spark.operators import textual as TX

    a = {r.doc_id: r.n_fps for r in TX.winnowing_digest(spark, SF_SMALL).collect()}
    c = {r.doc_id: r.n_fps for r in TX.winnowing_digest_arrow(spark, SF_SMALL).collect()}
    assert set(a) == set(c)
    import statistics

    assert abs(statistics.mean(a.values()) - statistics.mean(c.values())) < 0.1 * max(
        1, statistics.mean(a.values())
    )
    # determinism
    c2 = {r.doc_id: r.fps_md5 for r in TX.winnowing_digest_arrow(spark, SF_SMALL).collect()}
    c3 = {r.doc_id: r.fps_md5 for r in TX.winnowing_digest_arrow(spark, SF_SMALL).collect()}
    assert c2 == c3
