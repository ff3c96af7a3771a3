"""Dedup operators: planted near-dups must be found; approximate ops
are verified against their exact twins (SURVEY.md §5.2 model)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ydb_vector_search_simple_api_spark.operators import dedup
from ydb_vector_search_simple_api_spark.sources.store import load_documents, load_embeddings

from conftest import SF_SMALL


@pytest.fixture(scope="module")
def docs(spark):
    return load_documents(spark, SF_SMALL)


@pytest.fixture(scope="module")
def exact_pairs(spark, docs):
    rows = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.8).collect()
    return {(r.id_a, r.id_b): r.jaccard for r in rows}


def test_planted_near_dups_found(exact_pairs):
    """The driver testdata plants high-Jaccard document pairs."""
    assert len(exact_pairs) >= 10
    assert all(j >= 0.8 for j in exact_pairs.values())


def test_exact_dedup_no_false_groups(docs):
    """No two distinct sf0.001 texts are byte-identical, so every
    group has exactly one member."""
    groups = dedup.exact_dup_groups(docs).collect()
    assert len(groups) == docs.count()
    assert all(g.n_copies == 1 for g in groups)


def test_exact_dedup_finds_planted_copies(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "different text")],
        ["doc_id", "text"],
    )
    groups = {g.text_hash: g for g in dedup.exact_dup_groups(df).collect()}
    assert len(groups) == 2  # normalization merges 1 and 2
    big = next(g for g in groups.values() if g.n_copies == 2)
    assert big.keep_id == 1


def test_minhash_lsh_matches_exact(docs, exact_pairs):
    """LSH candidates + exact verification: precision 1.0 by
    construction; on this data recall is 1.0 too (sigs of 0.98-Jaccard
    pairs collide in at least one of 8 bands with near-certainty)."""
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.minhash_lsh_pairs(docs, n=3, threshold=0.8).collect()
    }
    assert set(got) == set(exact_pairs)
    for pair, j in got.items():
        assert j == pytest.approx(exact_pairs[pair])


def test_prefix_filter_join_is_lossless(docs, exact_pairs):
    """Prefix filtering (SSJoin/PPJoin) is exact by construction:
    identical output to the full inverted-index join, pair for pair,
    score for score — it prunes the JOIN, never the answer. Also pin
    a lower threshold, where prefixes are longer and the size filter
    does more of the work."""
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_prefix_pairs(docs, n=3, threshold=0.8).collect()
    }
    assert got == exact_pairs
    lo_exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    }
    lo_got = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_prefix_pairs(docs, n=3, threshold=0.5).collect()
    }
    assert lo_got == lo_exact


def test_doc_freq_cap_is_subset(docs, exact_pairs):
    capped = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.8, doc_freq_cap=50).collect()
    }
    assert capped <= set(exact_pairs)


def test_simhash_identical_and_near(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the river bank"),
            (2, "the quick brown fox jumps over the lazy dog near the river bank"),
            (3, "a completely unrelated sentence about spark query optimization plans"),
        ],
        ["doc_id", "text"],
    )
    hashes = {r.id: r.simhash for r in dedup.simhash(df).collect()}
    assert hashes[1] == hashes[2]
    assert hashes[1] != hashes[3]
    pairs = dedup.simhash_pairs(df, max_hamming=3).collect()
    assert {(p.id_a, p.id_b) for p in pairs} >= {(1, 2)}
    assert all(p.hamming == 0 for p in pairs if (p.id_a, p.id_b) == (1, 2))


def test_neardup_cosine_blocked_subset(spark):
    """Same-cluster blocking returns a subset of the exact pairs, and
    within-block pairs carry identical scores."""
    embs = load_embeddings(spark, SF_SMALL)
    exact = {
        (r.id_a, r.id_b): r.cosine
        for r in dedup.neardup_cosine_pairs(embs, threshold=0.4).collect()
    }
    blocked_input = embs.select(
        F.col("vec_id").alias("id"), "embedding", F.col("label").alias("cluster")
    )
    blocked = {
        (r.id_a, r.id_b): r.cosine
        for r in dedup.neardup_cosine_blocked(
            blocked_input, cluster_col="cluster", threshold=0.4
        ).collect()
    }
    assert set(blocked) <= set(exact)
    assert len(blocked) > 0
    for pair, c in blocked.items():
        assert c == pytest.approx(exact[pair])


def test_srp_cosine_pairs_matches_exact_on_neardups(spark):
    import numpy as np

    rng = np.random.RandomState(0)
    rows = []
    vid = 0
    for _ in range(12):  # 12 clusters of 3 near-identical vectors
        base = rng.randn(32)
        base /= np.linalg.norm(base)
        for _ in range(3):
            v = base + rng.randn(32) * 0.02
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.neardup_cosine_pairs(df, threshold=0.95).collect()
    }
    lsh_rows = dedup.srp_cosine_pairs(df, threshold=0.95, dim=32).collect()
    lsh = {(r.id_a, r.id_b) for r in lsh_rows}
    # verification makes precision exact; banding makes recall ~1 here
    assert lsh <= exact
    assert len(lsh) >= 0.9 * len(exact) > 0
    # determinism: same seed, same buckets, same result
    again = {
        (r.id_a, r.id_b) for r in dedup.srp_cosine_pairs(df, threshold=0.95, dim=32).collect()
    }
    assert again == lsh


def test_srp_dim_is_required(spark):
    df = load_documents(spark, SF_SMALL)  # lazy; never executed
    with pytest.raises(ValueError, match="dim is required"):
        dedup.srp_cosine_pairs(df.selectExpr("doc_id AS vec_id", "array(1.0) AS embedding"))


def test_simhash_pigeonhole_guard(spark):
    df = load_documents(spark, SF_SMALL)  # lazy; never executed
    with pytest.raises(ValueError, match="pigeonhole"):
        dedup.simhash_pairs(df, max_hamming=4, band_bits=16)
    with pytest.raises(ValueError, match="divide 64"):
        dedup.simhash_pairs(df, max_hamming=3, band_bits=24)
    # max_hamming=4 works with narrower bands (8 bands of 8 bits)
    dedup.simhash_pairs(df, max_hamming=4, band_bits=8)


def test_minhash_md5_matches_exact(docs, exact_pairs):
    """The md5-hashed (engine-portable, oracle-checkable) variant has
    the same precision/recall contract as the xxhash64 one."""
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.minhash_lsh_pairs(
            docs, n=3, threshold=0.8, hasher="md5"
        ).collect()
    }
    assert set(got) == set(exact_pairs)
    for pair, j in got.items():
        assert j == pytest.approx(exact_pairs[pair])


def test_minhash_unknown_hasher_rejected(docs):
    with pytest.raises(ValueError, match="unknown hasher"):
        dedup.minhash_lsh_pairs(docs, hasher="sha1")


def test_chunk_dedup_first_occurrence_election(spark):
    """Corpus-wide: a chunk survives only at its smallest
    (doc_id, chunk_id); later copies are dropped, including copies
    WITHIN one document."""
    import hashlib

    from ydb_vector_search_simple_api_spark.operators.dedup import chunk_dedup_df

    ch = spark.createDataFrame(
        [
            (1, 0, "alpha beta"),
            (1, 1, "gamma delta"),
            (2, 0, "alpha beta"),      # cross-doc copy -> dropped
            (2, 1, "epsilon zeta"),
            (3, 0, "alpha beta"),      # dropped
            (3, 1, "alpha beta"),      # within-doc copy -> dropped too
        ],
        ["doc_id", "chunk_id", "chunk_text"],
    )
    rows = {r.doc_id: r for r in chunk_dedup_df(ch).collect()}
    assert (rows[1].n_chunks, rows[1].n_dropped) == (2, 0)
    assert (rows[2].n_chunks, rows[2].n_dropped) == (2, 1)
    assert (rows[3].n_chunks, rows[3].n_dropped) == (2, 2)
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert rows[1].clean_md5 == md5("alpha beta gamma delta")
    assert rows[2].clean_md5 == md5("epsilon zeta")
    # every chunk dropped -> hash of the empty string (oracle COALESCE)
    assert rows[3].clean_md5 == md5("")


def test_chunk_dedup_finds_real_duplicates(spark):
    """The synthetic corpus carries duplicate 32-token windows; the
    operator must drop at least one and conserve chunk counts."""
    from ydb_vector_search_simple_api_spark.operators.dedup import chunk_dedup_stats
    from ydb_vector_search_simple_api_spark.operators.textual import chunk_documents

    out = chunk_dedup_stats(spark, SF_SMALL)
    agg = out.groupBy().sum("n_chunks", "n_dropped").head()
    n_chunks, n_dropped = agg[0], agg[1]
    assert n_chunks == chunk_documents(spark, SF_SMALL, 32, 32).count()
    assert 0 < n_dropped < n_chunks


def test_simhash_arrow_and_hof_folds_agree(spark):
    from ydb_vector_search_simple_api_spark.sources.store import load_documents

    d = load_documents(spark, SF_SMALL)
    a = {r.id: (r.simhash, r.n_tokens) for r in dedup.simhash(d, impl="arrow").collect()}
    b = {r.id: (r.simhash, r.n_tokens) for r in dedup.simhash(d, impl="hof").collect()}
    assert a == b and len(a) == 500
    import pytest as _pytest

    with _pytest.raises(ValueError, match="impl"):
        dedup.simhash(d, impl="nope")


def test_incremental_dedup_planted_duplicate(spark):
    """A doc duplicated verbatim across the side boundary must be
    flagged exact-dup with every fingerprint shared."""
    from ydb_vector_search_simple_api_spark.operators import dedup as D

    rows = D.incremental_dedup(spark, SF_SMALL).collect()
    assert rows, "incoming batch should be non-empty"
    # sides are disjoint and incoming ~10% of corpus
    from ydb_vector_search_simple_api_spark.sources.store import load_documents

    n_docs = load_documents(spark, SF_SMALL).count()
    assert 0 < len(rows) < n_docs * 0.2
    for r in rows:
        assert r.n_shared_fps >= 0
        # exact duplicates by content must share all their fingerprints
        # (any doc long enough to have fingerprints)
    exact = [r for r in rows if r.is_exact_dup]
    near = [r for r in rows if r.n_shared_fps > 0]
    # the synthetic corpus contains repeated template text: the probe
    # must find SOME near-dup evidence or the operator is vacuous
    assert near, "expected shared fingerprints in the synthetic corpus"
    assert all(r.n_shared_fps > 0 for r in exact if r.n_shared_fps is not None)


def test_incremental_dedup_arrow_agrees_with_md5_form(spark):
    from ydb_vector_search_simple_api_spark.operators import dedup as D

    a = {r.doc_id: r for r in D.incremental_dedup(spark, SF_SMALL).collect()}
    b = {r.doc_id: r for r in D.incremental_dedup_arrow(spark, SF_SMALL).collect()}
    assert set(a) == set(b)
    for did in a:
        # exact-dup path is hash-independent => identical
        assert a[did].is_exact_dup == b[did].is_exact_dup
        # near-dup evidence: presence/absence agrees (which minima are
        # distinct can differ by hash, counts stay in the same regime)
        assert (a[did].n_shared_fps > 0) == (b[did].n_shared_fps > 0)
    # determinism
    b2 = {r.doc_id: r for r in D.incremental_dedup_arrow(spark, SF_SMALL).collect()}
    assert {k: (v.is_exact_dup, v.n_shared_fps) for k, v in b.items()} == {
        k: (v.is_exact_dup, v.n_shared_fps) for k, v in b2.items()
    }


def test_fingerprint_store_upsert_extends_membership(spark, tmp_path):
    """After upserting a batch, its docs screen as exact dups; before,
    they don't. The store path must equal the recompute path."""
    from pyspark.sql import functions as F
    from ydb_vector_search_simple_api_spark.operators import dedup as D
    from ydb_vector_search_simple_api_spark.sources.store import load_documents

    d = load_documents(spark, SF_SMALL).select("doc_id", "text")
    first = d.filter(F.col("doc_id") < 300)
    batch = d.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 350))
    store = str(tmp_path / "store")
    D.build_fingerprint_store(spark, first, store)

    pre = {r.doc_id: r for r in D.screen_against_store(spark, batch, store).collect()}
    # most of the new batch should not be exact dups of the first 300
    assert sum(1 for r in pre.values() if not r.is_exact_dup) > 0

    D.fingerprint_store_upsert(spark, batch, store)
    post = {r.doc_id: r for r in D.screen_against_store(spark, batch, store).collect()}
    # after upsert, every batch doc's own hash is in the store
    assert all(r.is_exact_dup for r in post.values())
    assert all(r.n_shared_fps > 0 for r in post.values() if r.n_shared_fps is not None)


def test_fingerprint_store_compact_preserves_screens(spark, tmp_path):
    """Round 11: upserting the SAME batch twice plants duplicate rows;
    compaction rewrites DISTINCT and shrinks the store, and a screen
    returns the identical table before and after (membership
    semantics)."""
    from pyspark.sql import functions as F
    from ydb_vector_search_simple_api_spark.operators import dedup as D
    from ydb_vector_search_simple_api_spark.sources.store import load_documents

    d = load_documents(spark, SF_SMALL).select("doc_id", "text")
    first = d.filter(F.col("doc_id") < 300)
    batch = d.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 350))
    probe = d.filter(F.col("doc_id") >= 350)
    store = str(tmp_path / "store")
    D.build_fingerprint_store(spark, first, store)
    D.fingerprint_store_upsert(spark, batch, store)
    D.fingerprint_store_upsert(spark, batch, store)  # plant duplicates

    n_fps_churned = spark.read.parquet(f"{store}/fps").count()
    pre = {
        r.doc_id: tuple(r)
        for r in D.screen_against_store(spark, probe, store).collect()
    }
    stats = D.fingerprint_store_compact(spark, store)
    assert stats["n_fps"] < n_fps_churned  # duplicates actually removed
    post = {
        r.doc_id: tuple(r)
        for r in D.screen_against_store(spark, probe, store).collect()
    }
    assert post == pre and len(pre) > 0


def test_best_quality_election(spark):
    """Per exact-content group: the survivor has max quality (tie min
    doc_id), counts cover the corpus, and the election is a hash
    aggregation (no window)."""
    from ydb_vector_search_simple_api_spark.functions import text as TXT
    from ydb_vector_search_simple_api_spark.plans import checks
    from ydb_vector_search_simple_api_spark.sources.store import load_documents

    df = dedup.best_quality_election(spark, SF_SMALL)
    rows = df.collect()
    docs = load_documents(spark, SF_SMALL).select(
        "doc_id",
        TXT.content_fingerprint("text").alias("h"),
        (F.round(TXT.quality_score("text"), 6) + F.lit(0.0)).alias("q"),
    ).collect()
    by_hash: dict = {}
    for r in docs:
        by_hash.setdefault(r.h, []).append((r.q, r.doc_id))
    assert sum(r.group_size for r in rows) == len(docs)
    assert len(rows) == len(by_hash)
    for r in rows:
        grp = by_hash[r.content_hash]
        want = max(grp, key=lambda t: (t[0], -t[1]))
        assert (r.quality, r.doc_id) == want
        assert r.group_size == len(grp)
    assert "Window" not in checks.simple_plan(df)


def test_duplicate_spans_planted(spark):
    """Plant a verbatim 10-token passage in two docs and a clean doc;
    with k=8 the island must cover exactly the 10 shared tokens in
    both carriers and nothing in the clean doc."""
    passage = " ".join(f"p{i}" for i in range(10))  # 10 unique tokens
    docs = spark.createDataFrame(
        [
            (1, f"a1 a2 a3 {passage} a4 a5"),
            (2, f"b1 b2 {passage} b3 b4 b5 b6"),
            (3, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11 c12"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup.duplicate_spans(docs, k=8).collect()}
    assert out[1].n_dup_spans == 1 and out[1].dup_tokens == 10
    assert out[2].n_dup_spans == 1 and out[2].dup_tokens == 10
    assert out[3].n_dup_spans == 0 and out[3].dup_tokens == 0
    assert out[1].total_tokens == 15 and out[1].dup_frac == round(10 / 15, 6)

    # within-doc repetition also counts (total occurrences >= 2)
    rep = spark.createDataFrame(
        [(7, f"{passage} x1 x2 x3 {passage}")],
        "doc_id long, text string",
    )
    r7 = dedup.duplicate_spans(rep, k=8).collect()[0]
    assert r7.n_dup_spans == 2 and r7.dup_tokens == 20

    # spans shorter than k are invisible — the documented approximation
    short = spark.createDataFrame(
        [(8, "s1 s2 q1 q2 q3 q4 q5 s3"), (9, "t1 q1 q2 q3 q4 q5 t2 t3")],
        "doc_id long, text string",
    )
    for r in dedup.duplicate_spans(short, k=8).collect():
        assert r.n_dup_spans == 0


def test_remove_duplicate_spans_keeps_first_occurrence(spark):
    """Keep-first semantics: the lower doc_id retains the passage
    verbatim, the higher one loses exactly the shared window; a
    cleaned doc's digest equals md5 of its expected surviving text."""
    import hashlib

    passage = " ".join(f"p{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            (1, f"a1 a2 a3 {passage} a4 a5"),
            (2, f"b1 b2 {passage} b3 b4 b5 b6"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup.remove_duplicate_spans(docs, k=8).collect()}
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    # doc 1 is canonical everywhere -> untouched
    assert out[1].removed_tokens == 0
    assert out[1].kept_md5 == md5(f"a1 a2 a3 {passage} a4 a5")
    # doc 2 loses the 10 shared tokens, keeps its frame
    assert out[2].removed_tokens == 10
    assert out[2].kept_md5 == md5("b1 b2 b3 b4 b5 b6")

    # within-doc repeat: second copy stripped, first kept
    rep = spark.createDataFrame(
        [(7, f"{passage} x1 x2 x3 {passage}")],
        "doc_id long, text string",
    )
    r7 = dedup.remove_duplicate_spans(rep, k=8).collect()[0]
    assert r7.removed_tokens == 10
    assert r7.kept_md5 == md5(f"{passage} x1 x2 x3")


def test_duplicate_char_spans_planted(spark):
    """Char-grain exact-substring dedup (Lee et al. unit below token
    grain): plant a 50-char verbatim passage that crosses token
    boundaries mid-word; with k=40 the islands must cover exactly the
    shared characters in both carriers and nothing in the clean doc.
    Crucially, a duplicate that starts mid-token (invisible to the
    token form at this k) IS caught."""
    passage = "the_quick_brown_fox_jumps_over_the_lazy_dog_twice"  # 49 chars
    assert len(passage) == 49
    # frame with DIFFERING adjacent chars on each side so the shared
    # substring is exactly the passage (a shared space would extend it)
    docs = spark.createDataFrame(
        [
            (1, f"AAA.{passage},BBB"),
            (2, f"CCCCC-{passage}_DDDDD"),
            (3, "a clean document with no repeated fifty char runs at all!"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup.duplicate_char_spans(docs, k=40).collect()}
    # island = every k-window inside the 49-char passage; the merged
    # span is exactly the passage (windows outside include unique
    # framing chars, so they are not hot)
    assert out[1].n_dup_spans == 1 and out[1].dup_chars == 49
    assert out[2].n_dup_spans == 1 and out[2].dup_chars == 49
    assert out[3].n_dup_spans == 0 and out[3].dup_chars == 0
    assert out[1].total_chars == len(f"AAA.{passage},BBB")
    assert out[1].dup_frac == round(49 / out[1].total_chars, 6)

    # sub-token-boundary duplication: one long token shared between
    # docs — zero shared TOKENS at k_tok=8, but the char form sees it
    blob = "x" * 60
    subtok = spark.createDataFrame(
        [(4, f"alpha {blob}beta gamma"), (5, f"delta epsilon {blob}zeta")],
        "doc_id long, text string",
    )
    tok = {r.doc_id: r for r in dedup.duplicate_spans(subtok, k=8).collect()}
    assert tok[4].dup_tokens == 0 and tok[5].dup_tokens == 0
    ch = {r.doc_id: r for r in dedup.duplicate_char_spans(subtok, k=40).collect()}
    assert ch[4].dup_chars >= 60 and ch[5].dup_chars >= 60

    # runs shorter than k are invisible — the documented threshold
    short = spark.createDataFrame(
        [(8, "pad " + "y" * 30 + " tail one"), (9, "lead " + "y" * 30 + " end two")],
        "doc_id long, text string",
    )
    for r in dedup.duplicate_char_spans(short, k=40).collect():
        assert r.n_dup_spans == 0


def test_remove_duplicate_char_spans_keeps_first_occurrence(spark):
    """Keep-first semantics at char grain, and the complement-segment
    fold reassembly digest equals md5 of the expected surviving
    string (computed in Python)."""
    import hashlib

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    passage = "the_quick_brown_fox_jumps_over_the_lazy_dog_twice"  # 49 chars
    docs = spark.createDataFrame(
        [
            (1, f"AAA.{passage},BBB"),
            (2, f"CCCCC-{passage}_DDDDD"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in dedup.remove_duplicate_char_spans(docs, k=40).collect()
    }
    # doc 1 canonical -> untouched
    assert out[1].removed_chars == 0
    assert out[1].kept_md5 == md5(f"AAA.{passage},BBB")
    # doc 2 loses exactly the passage, keeps its frame
    assert out[2].removed_chars == 49
    assert out[2].kept_md5 == md5("CCCCC-_DDDDD")

    # within-doc repeat: second copy stripped, first kept
    rep = spark.createDataFrame(
        [(7, f"{passage}-MID-{passage}")],
        "doc_id long, text string",
    )
    r7 = dedup.remove_duplicate_char_spans(rep, k=40).collect()[0]
    assert r7.removed_chars == 49
    assert r7.kept_md5 == md5(f"{passage}-MID-")

    # a doc that is ENTIRELY a duplicate cleans to the empty string
    full = spark.createDataFrame(
        [(10, passage), (11, passage)],
        "doc_id long, text string",
    )
    o = {r.doc_id: r for r in dedup.remove_duplicate_char_spans(full, k=40).collect()}
    assert o[10].removed_chars == 0 and o[10].kept_md5 == md5(passage)
    assert o[11].removed_chars == 49 and o[11].kept_md5 == md5("")


def test_span_ops_every_shingle_hot_at_two_partitions(spark):
    """Worst case for the span family: N identical docs plus one clean
    doc, so every shingle of the identical docs is hot, all N copies of
    each window share one hash key and the hot set is as large as the
    stream. At two shuffle partitions the detection ops must cover the
    identical docs whole, the removal ops must keep the lowest doc_id
    whole and empty the rest, and the clean doc stays untouched."""
    import hashlib

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    n = 40
    dup_text = " ".join(f"w{i}" for i in range(30))
    clean_text = " ".join(f"c{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(i, dup_text) for i in range(1, n + 1)] + [(n + 1, clean_text)],
        "doc_id long, text string",
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        for op, k, unit in (
            (dedup.duplicate_spans, 8, "tokens"),
            (dedup.duplicate_char_spans, 40, "chars"),
        ):
            out = {r.doc_id: r for r in op(docs, k=k).collect()}
            assert len(out) == n + 1
            for i in range(1, n + 1):
                assert out[i].dup_frac == 1.0, (op.__name__, i)
                assert out[i].n_dup_spans == 1
                assert out[i][f"dup_{unit}"] == out[i][f"total_{unit}"]
            assert out[n + 1].n_dup_spans == 0 and out[n + 1].dup_frac == 0.0
        for op, k, unit in (
            (dedup.remove_duplicate_spans, 8, "tokens"),
            (dedup.remove_duplicate_char_spans, 40, "chars"),
        ):
            out = {r.doc_id: r for r in op(docs, k=k).collect()}
            assert len(out) == n + 1
            assert out[1][f"removed_{unit}"] == 0
            assert out[1].kept_md5 == md5(dup_text)
            for i in range(2, n + 1):
                assert out[i].kept_md5 == md5(""), (op.__name__, i)
                assert out[i][f"removed_{unit}"] == out[i][f"total_{unit}"]
            assert out[n + 1][f"removed_{unit}"] == 0
            assert out[n + 1].kept_md5 == md5(clean_text)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_neardup_edit_distance_planted_pairs(spark, docs, exact_pairs):
    """Banded candidates + exact Levenshtein: every emitted pair truly
    clears the relative-distance cut (precision 1.0 by construction),
    planted near-dups surface, and a hand-built twin on a tiny frame
    pins the distance/ratio math."""
    rows = dedup.neardup_edit_distance(docs, max_rel_dist=0.2).collect()
    assert rows, "planted near-dups must be found"
    for r in rows:
        assert r.id_a < r.id_b
        assert 0.0 <= r.rel_dist <= 0.2
    # near-dup (high-Jaccard) planted pairs with small char edits are
    # a subset of the banded candidates; most should pass the cut
    found = {(r.id_a, r.id_b) for r in rows}
    assert len(found & set(exact_pairs)) >= 0.5 * len(exact_pairs)

    df = spark.createDataFrame(
        [(1, "aaaa bbbb cccc dddd eeee"), (2, "aaaa bbbb cccc dddd eeeX"),
         (3, "totally different words here now")],
        ["doc_id", "text"],
    )
    got = dedup.neardup_edit_distance(
        df, n=2, num_hashes=8, bands=8, max_rel_dist=0.3
    ).collect()
    assert [(r.id_a, r.id_b, r.dist) for r in got] == [(1, 2, 1)]
    assert got[0].rel_dist == round(1 / 24, 6)


def test_prefix_filter_lossless_at_roundup_threshold(spark, docs):
    """Regression: thresholds whose double product rounds UP past an
    exact integer (0.56 * 25 = 14.000000000000002 in IEEE doubles, so
    an unslacked ceil gives 15, shortening the prefix by one and
    risking dropped true pairs). With the 1e-9 round-DOWN slack the
    prefix bound stays at the mathematical value and the join remains
    lossless at arbitrary thresholds, not just the pinned 0.8."""
    # expression-level pin of the hazard: ceil must yield 14, not 15
    bound = (
        spark.range(1)
        .select(
            F.ceil(F.lit(0.56) * F.lit(25) - F.lit(1e-9)).alias("a"),
            F.ceil(F.lit(0.56) * F.lit(25)).alias("raw"),
        )
        .head()
    )
    assert bound.raw == 15  # the unslacked hazard is real on this host
    assert bound.a == 14  # slacked bound = mathematical ceil

    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.56).collect()
    }
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_prefix_pairs(
            docs, n=3, threshold=0.56
        ).collect()
    }
    assert got == exact


def test_oph_lsh_matches_exact_on_planted_pairs(docs, exact_pairs):
    """One-permutation signature, same banding + exact verify: on the
    planted near-dups (J ~ 0.98) recall is 1.0 like the k-hash form,
    precision 1.0 by construction, scores identical to the exact
    join's."""
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.oph_lsh_pairs(docs, n=3, threshold=0.8).collect()
    }
    assert set(got) == set(exact_pairs)
    for pair, j in got.items():
        assert j == pytest.approx(exact_pairs[pair])


def test_oph_signature_densification(spark):
    """Signatures are fully densified (no nulls) even when a doc has
    fewer shingles than bins; identical docs get identical signatures;
    a one-shingle doc fills every bin via rotation."""
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "x y z")],
        ["doc_id", "text"],
    )
    sh = dedup.shingled_table(df, n=3)
    sig = {r.id: r.sig for r in dedup.oph_signatures(sh, 16).collect()}
    assert all(v is not None for s in sig.values() for v in s)
    assert sig[1] == sig[2]
    assert sig[1] != sig[3]


def test_oph_divisibility_guard(docs):
    with pytest.raises(ValueError):
        dedup.oph_lsh_pairs(docs, num_bins=16, bands=7)


def test_containment_catches_subset_duplicate_jaccard_misses(spark):
    """A 6-token quote embedded verbatim in a 60-token page:
    containment 1.0, Jaccard ~0.07 — the asymmetric-dup case."""
    quote = "to be or not to be"
    page = quote + " " + " ".join(f"filler{i}" for i in range(54))
    df = spark.createDataFrame(
        [(1, quote), (2, page), (3, "an unrelated third document entirely")],
        ["doc_id", "text"],
    )
    cont = {
        (r.id_a, r.id_b): r.containment
        for r in dedup.ngram_containment_pairs(df, n=3, threshold=0.8).collect()
    }
    assert cont == {(1, 2): 1.0}
    jac = dedup.ngram_jaccard_pairs(df, n=3, threshold=0.8).count()
    assert jac == 0  # invisible to the symmetric score


def test_containment_superset_of_jaccard_at_same_threshold(docs, exact_pairs):
    """c(A,B) >= J(A,B) always (min <= union), so the containment
    pair set at threshold t contains the Jaccard pair set at t."""
    cont = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_containment_pairs(docs, n=3, threshold=0.8).collect()
    }
    assert set(exact_pairs) <= cont


def test_paragraph_dedup_keep_first(spark):
    """Corpus-wide keep-first at paragraph grain: a paragraph survives
    only at its lowest (doc_id, idx) occurrence; docs reassemble from
    survivors in original order."""
    import hashlib

    from ydb_vector_search_simple_api_spark.operators.dedup import (
        paragraph_dedup,
    )

    docs = {
        1: ["boiler", "unique one", "boiler"],   # intra-doc repeat too
        2: ["boiler", "unique two"],
        3: ["unique three", "boiler", "unique two"],
    }
    df = spark.createDataFrame(
        [(i, "\n\n".join(ps)) for i, ps in docs.items()], ["doc_id", "ptext"]
    )
    got = {r.doc_id: r for r in paragraph_dedup(df).collect()}

    seen: set[str] = set()
    for i in sorted(docs):
        kept = []
        for p in docs[i]:
            if p not in seen:
                seen.add(p)
                kept.append(p)
        want_md5 = hashlib.md5("\n\n".join(kept).encode()).hexdigest()
        r = got[i]
        assert r.n_paras == len(docs[i])
        assert r.n_kept == len(kept)
        assert r.clean_md5 == want_md5


def test_paragraph_dedup_docs_headers_footers_deduped(spark):
    """Over the augmented corpus: exactly 5 headers + 3 footers
    survive corpus-wide; every doc keeps its own (unique) body."""
    from conftest import SF_SMALL

    from ydb_vector_search_simple_api_spark.operators.dedup import (
        paragraph_dedup_docs,
    )

    rows = paragraph_dedup_docs(spark, SF_SMALL).collect()
    assert all(r.n_paras == 3 for r in rows)
    total_kept = sum(r.n_kept for r in rows)
    n_unique_bodies = len(
        {r.clean_md5 for r in rows}
    )  # md5 over distinct survivor sets
    assert n_unique_bodies == len(rows)  # bodies unique -> all differ
    # kept = one per distinct paragraph: 5 headers + 3 footers + bodies
    from ydb_vector_search_simple_api_spark.sources.store import load_documents

    n_distinct_bodies = (
        load_documents(spark, SF_SMALL).select("text").distinct().count()
    )
    assert total_kept == n_distinct_bodies + 5 + 3


def test_lsh_calibration_report_properties(spark):
    from tests.conftest import SF_SMALL
    from ydb_vector_search_simple_api_spark.operators.dedup import (
        lsh_calibration_report,
    )

    rows = sorted(
        lsh_calibration_report(spark, SF_SMALL).collect(), key=lambda r: r.bands
    )
    assert [r.bands for r in rows] == [2, 4, 8, 16]
    truth = rows[0].n_truth
    prev_cand = 0
    prev_rec = 0.0
    for r in rows:
        # more bands -> more (or equal) candidates and recall
        assert r.n_candidates >= prev_cand
        assert r.recall is None or r.recall >= prev_rec
        prev_cand, prev_rec = r.n_candidates, r.recall or 0.0
        # verification is exact: never more verified than truth,
        # never more verified than candidates
        assert r.n_verified <= truth and r.n_verified <= r.n_candidates
        assert r.n_truth == truth
    # bands == num_hashes (rows=1) is the full-recall endpoint
    assert rows[-1].recall == 1.0
