"""Corpus-statistical text operators (textual.py additions)."""

from __future__ import annotations

from conftest import SF_SMALL


def test_unigram_logprob_orders_by_rarity(spark):
    """A doc made of corpus-frequent tokens must outscore a doc with
    rarer tokens; every mean log-prob is negative."""
    from ydb_vector_search_simple_api_spark.operators.textual import unigram_logprob

    rows = unigram_logprob(spark, SF_SMALL).collect()
    assert all(r.mean_logprob < 0 for r in rows)
    by_score = sorted(rows, key=lambda r: r.mean_logprob)
    assert by_score[0].mean_logprob < by_score[-1].mean_logprob


def test_unigram_logprob_plan_broadcasts_freq_table(spark):
    """The vocabulary-sized frequency table and the single-row total
    must both broadcast; the token stream itself never shuffles for
    the join (its only exchanges key the two aggregations)."""
    from ydb_vector_search_simple_api_spark.operators.textual import unigram_logprob

    plan = (
        unigram_logprob(spark, SF_SMALL)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("BroadcastHashJoin") >= 1
    assert "BroadcastNestedLoopJoin" in plan  # the single-row total
    assert "SortMergeJoin" not in plan
    assert "EvalPython" not in plan


def test_normalize_markup_roundtrip(spark):
    # tags/entities/case/whitespace removed; modulo spaces the cleaned
    # text equals original + the deterministic tail (a tag boundary can
    # split a word, so compare space-insensitively)
    from pyspark.sql import functions as F

    from ydb_vector_search_simple_api_spark.operators import textual

    d = textual.attach_markup(
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    )
    norm = d.select(
        "doc_id", "text",
        textual.normalize_text_expr(F.col("raw_html")).alias("norm"),
    )
    expected = F.concat(
        F.col("text"), F.lit(" & tail"),
        (F.col("doc_id") % 97).cast("string"), F.lit(" <eof>"),
    )
    bad = norm.filter(
        F.translate(F.col("norm"), " ", "") != F.translate(expected, " ", "")
    ).count()
    assert bad == 0
    # no entities / uppercase / runs-of-space survive (note: "<eof>"
    # DOES survive — it is decoded &lt;eof&gt; CONTENT, not markup)
    assert (
        norm.filter(
            F.col("norm").rlike("&[a-z]+;|[A-Z]|  |<div|<b>|<br")
        ).count()
        == 0
    )


def test_extract_urls_one_per_doc(spark):
    from ydb_vector_search_simple_api_spark.operators import textual

    u = textual.extract_urls(spark, SF_SMALL).collect()
    assert len(u) == 500
    assert all(r.url == f"http://ex{r.doc_id % 7}.example.com/p{r.doc_id}" for r in u)


def test_bigram_logprob_counts(spark):
    from pyspark.sql import functions as F

    from ydb_vector_search_simple_api_spark.functions import text as TXT
    from ydb_vector_search_simple_api_spark.operators import textual

    out = {r.doc_id: r for r in textual.bigram_logprob(spark, SF_SMALL).collect()}
    toks = {
        r.doc_id: r.n
        for r in spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("doc_id", F.size(TXT.tokens("text")).alias("n"))
        .collect()
    }
    for doc_id, n in toks.items():
        if n >= 2:
            assert out[doc_id].n_bigrams == n - 1
            # conditional log-probs are <= 0
            assert out[doc_id].mean_bigram_logprob <= 0.0
        else:
            assert doc_id not in out


def test_readability_formula_replay(spark):
    from ydb_vector_search_simple_api_spark.operators import textual as TX

    rows = TX.readability(spark, SF_SMALL).collect()
    assert rows
    for r in rows[:50]:
        assert r.n_words > 0 and r.n_sentences >= 1
        expect = round(
            206.835
            - 1.015 * (r.n_words / r.n_sentences)
            - 84.6 * (r.n_syllables / r.n_words),
            6,
        )
        assert abs(r.flesch - expect) < 1e-9


def test_bpe_pair_counts_top_ranked(spark):
    from ydb_vector_search_simple_api_spark.operators import textual as TX

    rows = TX.bpe_pair_counts(spark, SF_SMALL, top_n=30).collect()
    assert 0 < len(rows) <= 30
    ns = [r.n for r in rows]
    assert ns == sorted(ns, reverse=True)
    assert all(len(r.pair) == 2 for r in rows)
    assert [r.rk for r in rows] == list(range(1, len(rows) + 1))


def test_weak_labels_majority_and_agreement(spark):
    from ydb_vector_search_simple_api_spark.operators import textual as TX
    from ydb_vector_search_simple_api_spark.sources.store import load_documents
    import re

    rows = {r.doc_id: r for r in TX.weak_labels(spark, SF_SMALL).collect()}
    docs = load_documents(spark, SF_SMALL).select("doc_id", "text").collect()
    rules = TX.WEAK_LABEL_RULES
    checked = 0
    for d in docs[:100]:
        votes = [lab for _, pat, lab in rules if re.search(pat, d.text.lower())]
        r = rows[d.doc_id]
        assert r.n_votes == len(votes)
        if votes:
            from collections import Counter

            c = Counter(votes)
            best = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            assert r.label == best[0]
            assert abs(r.agreement - round(best[1] / len(votes), 6)) < 1e-9
        else:
            assert r.label is None and r.agreement == 0.0
        checked += 1
    assert checked == 100


def test_augment_dropout_deterministic_and_bounded(spark):
    from ydb_vector_search_simple_api_spark.operators import textual as TX

    a = TX.augment_token_dropout(spark, SF_SMALL, rate=0.15).collect()
    b = TX.augment_token_dropout(spark, SF_SMALL, rate=0.15).collect()
    assert a == b  # deterministic
    drop_total = sum(r.n_tokens - r.n_kept for r in a)
    tok_total = sum(r.n_tokens for r in a)
    assert 0.10 < drop_total / tok_total < 0.20  # ~rate
    # rate=0 keeps everything
    z = TX.augment_token_dropout(spark, SF_SMALL, rate=0.0).collect()
    assert all(r.n_kept == r.n_tokens for r in z)


def test_entity_cooccurrence_bounds(spark):
    from ydb_vector_search_simple_api_spark.operators import textual as TX

    rows = TX.entity_cooccurrence(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert r.entity_a < r.entity_b
        assert r.n_both > 0 and r.lift > 0
    keys = [(r.entity_a, r.entity_b) for r in rows]
    assert len(keys) == len(set(keys))


def test_lang_quality_matrix_shares(spark):
    from collections import defaultdict
    from ydb_vector_search_simple_api_spark.operators import textual as TX

    rows = TX.lang_quality_matrix(spark, SF_SMALL).collect()
    assert rows
    per_lang = defaultdict(float)
    for r in rows:
        per_lang[r.lang] += r.lang_share
    for lang, tot in per_lang.items():
        assert abs(tot - 1.0) < 1e-4, lang


def test_top_tokens_per_lang_ranks(spark):
    from collections import defaultdict
    from ydb_vector_search_simple_api_spark.operators import textual as TX

    rows = TX.top_tokens_per_lang(spark, SF_SMALL, top_n=5).collect()
    per = defaultdict(list)
    for r in rows:
        per[r.lang].append(r.rk)
    for lang, rks in per.items():
        assert sorted(rks) == list(range(1, len(rks) + 1))
        assert max(rks) <= 5


def test_perplexity_buckets_tile_invariants(spark):
    """Per-source tiling: tile sizes within a source differ by at most
    one; bucket 1 holds the most fluent docs (scores are
    non-increasing across bucket boundaries); keep == bucket < 3."""
    from collections import Counter

    from ydb_vector_search_simple_api_spark.operators import textual as T

    rows = T.perplexity_buckets(spark, SF_SMALL).collect()
    assert rows
    sizes = Counter((r.source, r.bucket) for r in rows)
    by_src = {}
    for (src, b), n in sizes.items():
        by_src.setdefault(src, {})[b] = n
    for src, buckets in by_src.items():
        assert set(buckets) == {1, 2, 3}
        assert max(buckets.values()) - min(buckets.values()) <= 1
    for src in by_src:
        per = sorted(
            (r for r in rows if r.source == src),
            key=lambda r: (r.bucket, -r.mean_bigram_logprob),
        )
        scores_by_bucket = {}
        for r in per:
            scores_by_bucket.setdefault(r.bucket, []).append(r.mean_bigram_logprob)
        assert min(scores_by_bucket[1]) >= max(scores_by_bucket[3])
    assert all(r.keep == (r.bucket < 3) for r in rows)


def test_source_divergence_bounds_and_extremes(spark):
    """JS is 0 for identical distributions, ln 2 for disjoint ones,
    and in [0, ln 2] on the real corpus."""
    import math

    from ydb_vector_search_simple_api_spark.operators import textual as T

    rows = T.source_divergence(spark, SF_SMALL).collect()
    assert rows
    ln2 = math.log(2.0)
    assert all(-1e-9 <= r.js_divergence <= ln2 + 1e-9 for r in rows)
    assert all(r.source_a < r.source_b for r in rows)

    # planted extremes via a temp parquet corpus
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        docs = spark.createDataFrame(
            [
                (1, "x y z x", "en", "same_a", 7),
                (2, "x y z x", "en", "same_b", 7),
                (3, "q r s t", "en", "other", 7),
            ],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        docs.write.parquet(f"{d}/documents.parquet")
        out = {
            (r.source_a, r.source_b): r.js_divergence
            for r in T.source_divergence(spark, d).collect()
        }
        assert abs(out[("same_a", "same_b")]) < 1e-6
        assert abs(out[("other", "same_a")] - ln2) < 1e-6


def test_script_profile_discriminates_scripts(spark):
    """Real multi-script texts get the right counts and dominant
    script; no-profiled-script text routes to 'other'."""
    from ydb_vector_search_simple_api_spark.operators.textual import (
        SCRIPT_CLASSES,
        script_profile,
    )
    import tempfile

    rows = [
        (1, "Hello plain latin text", "en", "s", 22),
        (2, "Привет большой мир", "ru", "s", 18),
        (3, "你好世界你好世界 ok", "zh", "s", 11),
        (4, "مرحبا بالعالم الكبير", "ar", "s", 20),
        (5, "12345 !?.", "xx", "s", 9),
    ]
    tmp = tempfile.mkdtemp(prefix="svs_script_")
    spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    ).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    got = {r.doc_id: r for r in script_profile(spark, tmp).collect()}
    assert got[1].dominant_script == "latin" and got[1].latin == 19
    assert got[2].dominant_script == "cyrillic" and got[2].latin == 0
    assert got[3].dominant_script == "han" and got[3].han == 8
    assert got[3].latin == 2  # the trailing 'ok'
    assert got[4].dominant_script == "arabic"
    assert got[5].dominant_script == "other"
    assert set(got[1].asDict()) == {
        "doc_id", "dominant_script", *[n for n, _, _ in SCRIPT_CLASSES]
    }


def test_compression_signals_orders_repetition(spark):
    """Repetitive text compresses harder (lower ratio) than diverse
    text; sizes are exact; empty text yields NULL ratio."""
    import tempfile
    import zlib

    from ydb_vector_search_simple_api_spark.operators.textual import (
        compression_signals,
    )

    diverse = "the quick brown fox jumps over a lazy dog near riverbanks"
    spam = "buy now " * 16
    rows = [
        (1, diverse, "en", "s", len(diverse)),
        (2, spam, "en", "s", len(spam)),
        (3, "", "en", "s", 0),
    ]
    tmp = tempfile.mkdtemp(prefix="svs_zratio_")
    spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    ).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    got = {r.doc_id: r for r in compression_signals(spark, tmp).collect()}
    assert got[2].compression_ratio < got[1].compression_ratio
    for i, text in ((1, diverse), (2, spam)):
        assert got[i].n_bytes == len(text.encode())
        assert got[i].n_zlib_bytes == len(zlib.compress(text.encode(), 6))
    assert got[3].compression_ratio is None


def test_heavy_hitters_match_exact_topk(spark):
    """Two-pass MG candidates + exact count == the direct groupBy
    top-k, row for row (deterministic (cnt DESC, token ASC) cut)."""
    from ydb_vector_search_simple_api_spark.operators.textual import (
        heavy_hitters_topk,
        token_frequencies,
    )

    exact = [tuple(r) for r in token_frequencies(spark, SF_SMALL, top_n=25).collect()]
    got = [tuple(r) for r in heavy_hitters_topk(spark, SF_SMALL, k=25).collect()]
    assert got == exact


def test_mg_eviction_keeps_superset_and_bound(spark):
    """Exercise the decrement path with a capacity far below the
    vocabulary: a token with global count > N/(capacity+1) must
    survive, and every kept estimate undershoots its true count by at
    most N/(capacity+1) (the merged-summary MG guarantee)."""
    from pyspark.sql import functions as F

    from ydb_vector_search_simple_api_spark.operators.textual import mg_candidates

    # skewed stream: 'hot' 400x, 'warm' 120x, 80 singletons, 2 partitions
    rows = (
        [("hot",)] * 400 + [("warm",)] * 120 + [(f"cold{i}",) for i in range(80)]
    )
    tok = spark.createDataFrame(rows, ["token"]).repartition(2)
    n_total = len(rows)
    capacity = 8
    got: dict[str, int] = {}
    for r in mg_candidates(tok, capacity=capacity).collect():
        got[r.token] = got.get(r.token, 0) + r.est  # sum partition summaries
    true = {"hot": 400, "warm": 120, **{f"cold{i}": 1 for i in range(80)}}
    bound = n_total / (capacity + 1)
    assert "hot" in got and "warm" in got  # both clear the N/(c+1) bar
    for token, est in got.items():
        assert est <= true[token]
        assert true[token] - est <= bound
    # per-partition summaries: at most capacity entries per partition
    assert len(got) <= 2 * capacity


def test_kneser_ney_scores_negative_and_complete(spark):
    """Every multi-token doc gets a negative mean log-prob, same doc
    coverage as the raw bigram MLE table."""
    from ydb_vector_search_simple_api_spark.operators.textual import (
        bigram_logprob,
        kneser_ney_logprob,
    )

    kn = {r.doc_id: r.mean_kn_logprob for r in kneser_ney_logprob(spark, SF_SMALL).collect()}
    mle = {r.doc_id for r in bigram_logprob(spark, SF_SMALL).collect()}
    assert set(kn) == mle
    assert all(v < 0 for v in kn.values())


def test_kneser_ney_continuation_effect(spark, tmp_path):
    """The KN signature: a word seen only after ONE context
    ('francisco' after 'san') earns a lower continuation probability
    than a word following many contexts ('okay'), even at equal
    token frequency — raw MLE cannot tell the probe docs apart."""
    from ydb_vector_search_simple_api_spark.operators.textual import (
        bigram_logprob,
        kneser_ney_logprob,
    )

    rows = [(i, "san francisco") for i in range(10)]
    rows += [(100 + i, f"ctx{i} okay") for i in range(10)]
    # probe docs: one fresh context each, bigram count 1, c1(prev)=1
    rows += [(900, "proa francisco"), (901, "prob okay")]
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    kn = {
        r.doc_id: r.mean_kn_logprob
        for r in kneser_ney_logprob(spark, str(tmp_path)).collect()
    }
    mle = {
        r.doc_id: r.mean_bigram_logprob
        for r in bigram_logprob(spark, str(tmp_path)).collect()
    }
    assert mle[900] == mle[901]  # MLE blind: both are 1/1 bigrams
    assert kn[901] > kn[900]  # KN: 'okay' follows 10 contexts


def test_kneser_ney5_matches_bruteforce(spark, tmp_path):
    """The full interpolated 5-gram KN recursion (BOS×4/EOS padding,
    Chen-Goodman continuation cascade) must equal an independent
    brute-force Python implementation of the same model on a planted
    corpus, doc for doc to the ROUND(6) contract."""
    import math
    from collections import Counter, defaultdict

    import pytest

    from ydb_vector_search_simple_api_spark.operators.textual import (
        kneser_ney5_logprob,
    )

    texts = {
        1: "the cat sat on the mat",
        2: "the cat sat on the hat",
        3: "a dog ran over the mat",
        4: "the cat sat on the mat again and again",
        5: "completely different words here now",
    }
    spark.createDataFrame(
        list(texts.items()), ["doc_id", "text"]
    ).write.parquet(str(tmp_path / "documents.parquet"))

    D = 0.75
    BOS, EOS = "<s>", "</s>"
    grams = Counter()
    doc_grams = {}
    for did, txt in texts.items():
        toks = [BOS] * 4 + txt.lower().split() + [EOS]
        gs = [tuple(toks[i : i + 5]) for i in range(len(toks) - 4)]
        doc_grams[did] = gs
        grams.update(gs)
    # cascade of type counts
    def level_down(tbl):
        out = Counter()
        for k in tbl:
            out[k[1:]] += 1
        return out
    c5 = grams
    kn4 = level_down(c5)
    kn3 = level_down(kn4)
    kn2 = level_down(kn3)
    kn1 = level_down(kn2)
    def ctx_of(tbl):
        tot, types = defaultdict(int), defaultdict(int)
        for k, v in tbl.items():
            tot[k[:-1]] += v
            types[k[:-1]] += 1
        return tot, types
    ctx5, n1p5 = ctx_of(c5)
    ctx4, n1p4 = ctx_of(kn4)
    ctx3, n1p3 = ctx_of(kn3)
    ctx2, n1p2 = ctx_of(kn2)
    tot1 = sum(kn1.values())

    def p_of(g):
        p1 = kn1[g[4:]] / tot1
        p2 = max(kn2[g[3:]] - D, 0.0) / ctx2[g[3:4]] + (
            (D * n1p2[g[3:4]]) / ctx2[g[3:4]]
        ) * p1
        p3 = max(kn3[g[2:]] - D, 0.0) / ctx3[g[2:4]] + (
            (D * n1p3[g[2:4]]) / ctx3[g[2:4]]
        ) * p2
        p4 = max(kn4[g[1:]] - D, 0.0) / ctx4[g[1:4]] + (
            (D * n1p4[g[1:4]]) / ctx4[g[1:4]]
        ) * p3
        return max(c5[g] - D, 0.0) / ctx5[g[:4]] + (
            (D * n1p5[g[:4]]) / ctx5[g[:4]]
        ) * p4

    expect = {}
    for did, gs in doc_grams.items():
        s = sum(round(math.log(p_of(g)), 9) for g in gs)
        expect[did] = (len(gs), round(s / len(gs), 6))

    got = {
        r.doc_id: (r.n_grams, r.mean_kn5_logprob)
        for r in kneser_ney5_logprob(spark, str(tmp_path)).collect()
    }
    assert got.keys() == expect.keys()
    for did in expect:
        assert got[did][0] == expect[did][0]
        assert got[did][1] == pytest.approx(expect[did][1], abs=2e-6), did
    # total probability mass at one planted context sums to ~1 over
    # the observed continuations + everything else via interpolation:
    # spot-check the model is a proper distribution over g5 for a
    # fully-seen context
    ctx = ("the", "cat", "sat", "on")
    vocab = set(k[4] for k in c5) | {EOS}
    mass = 0.0
    for w in vocab:
        g = ctx + (w,)
        p1 = kn1.get((w,), 0) / tot1
        p2 = max(kn2.get(g[3:], 0) - D, 0.0) / ctx2[g[3:4]] + (
            (D * n1p2[g[3:4]]) / ctx2[g[3:4]]
        ) * p1
        p3 = max(kn3.get(g[2:], 0) - D, 0.0) / ctx3[g[2:4]] + (
            (D * n1p3[g[2:4]]) / ctx3[g[2:4]]
        ) * p2
        p4 = max(kn4.get(g[1:], 0) - D, 0.0) / ctx4[g[1:4]] + (
            (D * n1p4[g[1:4]]) / ctx4[g[1:4]]
        ) * p3
        mass += max(c5.get(g, 0) - D, 0.0) / ctx5[ctx] + (
            (D * n1p5[ctx]) / ctx5[ctx]
        ) * p4
    # not exactly 1.0 only because the unseen-word tail is the
    # unigram remainder; over the observed vocab it must be close
    assert 0.9 < mass <= 1.0 + 1e-9


def test_kneser_ney5_modified_matches_bruteforce(spark, tmp_path):
    """Modified KN (per-level D1/D2/D3+ from count-of-counts,
    count-class selection, matching backoff mass) equals an
    independent Python implementation on a planted corpus."""
    import math
    from collections import Counter, defaultdict

    import pytest

    from ydb_vector_search_simple_api_spark.operators.textual import (
        kneser_ney5_modified_logprob,
    )

    texts = {
        1: "the cat sat on the mat",
        2: "the cat sat on the hat",
        3: "a dog ran over the mat",
        4: "the cat sat on the mat again and again",
        5: "completely different words here now",
        6: "the cat sat on the mat",  # exact repeat: creates count-2 grams
    }
    spark.createDataFrame(
        list(texts.items()), ["doc_id", "text"]
    ).write.parquet(str(tmp_path / "documents.parquet"))

    BOS, EOS = "<s>", "</s>"
    grams = Counter()
    doc_grams = {}
    for did, txt in texts.items():
        toks = [BOS] * 4 + txt.lower().split() + [EOS]
        gs = [tuple(toks[i : i + 5]) for i in range(len(toks) - 4)]
        doc_grams[did] = gs
        grams.update(gs)

    def level_down(tbl):
        out = Counter()
        for k in tbl:
            out[k[1:]] += 1
        return out

    c5 = grams
    kn4 = level_down(c5)
    kn3 = level_down(kn4)
    kn2 = level_down(kn3)
    kn1 = level_down(kn2)
    tot1 = sum(kn1.values())

    def ctx_of(tbl):
        tot, nd1, nd2, nd3 = (
            defaultdict(int), defaultdict(int), defaultdict(int),
            defaultdict(int),
        )
        for k, v in tbl.items():
            tot[k[:-1]] += v
            if v == 1:
                nd1[k[:-1]] += 1
            elif v == 2:
                nd2[k[:-1]] += 1
            else:
                nd3[k[:-1]] += 1
        return tot, nd1, nd2, nd3

    def discounts(tbl):
        cc = Counter(tbl.values())
        n1, n2, n3, n4 = cc[1], cc[2], cc[3], cc[4]
        y = n1 / (n1 + 2.0 * n2) if (n1 + 2 * n2) > 0 else 0.0
        d1 = max(1.0 - 2.0 * y * (n2 / n1), 0.0) if n1 > 0 and (n1 + 2 * n2) > 0 else 0.5
        d2 = max(2.0 - 3.0 * y * (n3 / n2), 0.0) if n2 > 0 and n1 > 0 else 1.0
        d3 = max(3.0 - 4.0 * y * (n4 / n3), 0.0) if n3 > 0 and n1 > 0 else 1.5
        return d1, d2, d3

    levels = {
        5: (c5, *ctx_of(c5), *discounts(c5)),
        4: (kn4, *ctx_of(kn4), *discounts(kn4)),
        3: (kn3, *ctx_of(kn3), *discounts(kn3)),
        2: (kn2, *ctx_of(kn2), *discounts(kn2)),
    }

    def p_of(g):
        p = kn1[g[4:]] / tot1
        for lvl, off in ((2, 3), (3, 2), (4, 1), (5, 0)):
            tbl, tot, nd1, nd2, nd3, d1, d2, d3 = levels[lvl]
            key, ctx = g[off:], g[off:-1]
            c = tbl[key]
            dsel = d1 if c == 1 else d2 if c == 2 else d3
            gamma = (d1 * nd1[ctx] + d2 * nd2[ctx] + d3 * nd3[ctx]) / tot[ctx]
            p = max(c - dsel, 0.0) / tot[ctx] + gamma * p
        return p

    expect = {}
    for did, gs in doc_grams.items():
        s = sum(round(math.log(p_of(g)), 9) for g in gs)
        expect[did] = (len(gs), round(s / len(gs), 6))

    got = {
        r.doc_id: (r.n_grams, r.mean_mkn5_logprob)
        for r in kneser_ney5_modified_logprob(spark, str(tmp_path)).collect()
    }
    assert got.keys() == expect.keys()
    for did in expect:
        assert got[did][0] == expect[did][0]
        assert got[did][1] == pytest.approx(expect[did][1], abs=2e-6), did
    # the repeated doc pair must carry identical scores, and the
    # count-2 grams must make this model differ from the fixed-D one
    assert got[1] == got[6]


def test_kneser_ney5_corpus_coverage(spark):
    """Every document scores (padding guarantees full contexts), all
    means negative, n_grams == token count + 1."""
    from ydb_vector_search_simple_api_spark.functions import text as TXT
    from ydb_vector_search_simple_api_spark.operators.textual import (
        kneser_ney5_logprob,
    )
    from ydb_vector_search_simple_api_spark.sources.store import (
        load_documents,
    )

    got = {
        r.doc_id: r
        for r in kneser_ney5_logprob(spark, SF_SMALL).collect()
    }
    docs = {
        r.doc_id: r.n_toks
        for r in load_documents(spark, SF_SMALL)
        .select("doc_id", TXT.token_count("text").alias("n_toks"))
        .collect()
    }
    assert set(got) == set(docs)
    for did, r in got.items():
        assert r.n_grams == docs[did] + 1
        assert r.mean_kn5_logprob < 0


def test_lang_id_confusion_shares_sum_to_one(spark):
    from collections import defaultdict

    from ydb_vector_search_simple_api_spark.operators.textual import (
        lang_id_confusion,
    )

    rows = lang_id_confusion(spark, SF_SMALL).collect()
    per = defaultdict(float)
    n_docs = 0
    for r in rows:
        per[r.lang] += r.recall
        n_docs += r.n
    assert n_docs == 500
    for lang, tot in per.items():
        assert abs(tot - 1.0) < 1e-4, lang


def test_zipf_fit_slope_negative_and_planted_power_law(spark, tmp_path):
    """Corpus slope is negative; a synthetic exact power-law corpus
    recovers slope ≈ -1."""
    from ydb_vector_search_simple_api_spark.operators.textual import zipf_fit

    # the synthetic corpus has a ~31-word vocabulary and a nearly flat
    # frequency profile — the diagnostic should SAY so (slope near 0,
    # far from a natural-text -1)
    r = zipf_fit(spark, SF_SMALL).collect()[0]
    assert r.n_fit > 10 and -0.5 < r.slope < 0

    # tokens w1..w60 with freq ~ round(1000/rank): ln-ln slope ~ -1
    words = []
    for rank in range(1, 61):
        words += [f"w{rank:03d}"] * max(1, round(1000 / rank))
    docs = [(i, " ".join(words[i::50]), "en", "synth", 10) for i in range(50)]
    spark.createDataFrame(
        docs, ["doc_id", "text", "lang", "source", "n_chars"]
    ).write.parquet(str(tmp_path / "documents.parquet"))
    r2 = zipf_fit(spark, str(tmp_path), top_n=60).collect()[0]
    assert -1.1 < r2.slope < -0.9


def test_heaps_fit_beta_in_range_and_saturating_vocab_reads_low(spark, tmp_path):
    from ydb_vector_search_simple_api_spark.operators.textual import heaps_fit

    r = heaps_fit(spark, SF_SMALL).collect()[0]
    assert r.n_points == 10
    # the synthetic corpus has a tiny fixed vocabulary: beta near 0
    # (vocab saturates immediately) — the diagnostic should say so
    assert 0.0 <= r.beta < 0.3

    # growing-vocabulary corpus: each doc introduces fresh tokens ->
    # beta well above the saturating case
    docs = [
        (i, " ".join(f"t{i}_{j}" for j in range(20)), "en", "synth", 10)
        for i in range(100)
    ]
    spark.createDataFrame(
        docs, ["doc_id", "text", "lang", "source", "n_chars"]
    ).write.parquet(str(tmp_path / "documents.parquet"))
    r2 = heaps_fit(spark, str(tmp_path)).collect()[0]
    assert r2.beta > 0.9  # V == N exactly -> beta ~ 1


# -------------------------------------------------------- label model


def test_label_model_reweights_by_accuracy(spark, tmp_path):
    """Corpus where the 'query'(db) rule is reliable and the
    'stream'(infra) rule is noise: on a doc where both fire once, the
    weighted vote must pick the high-accuracy rule's label even
    though the raw vote is tied (majority would tie-break
    alphabetically to 'db' here, so plant the reverse too)."""
    from ydb_vector_search_simple_api_spark.operators.textual import label_model

    rows = []
    did = 0
    # 30 docs where query+join agree (db majority, both rules accurate)
    for _ in range(30):
        rows.append((did, "query join table", "en", "s", 1)); did += 1
    # 30 docs where stream fires alongside a db majority -> stream
    # rule's vote disagrees with majority, tanking its accuracy
    for _ in range(30):
        rows.append((did, "query join stream", "en", "s", 1)); did += 1
    # probe doc: stream vs vector (one vote each). vector only ever
    # fired... make vector accurate: 20 docs vector-only (majority ml)
    for _ in range(20):
        rows.append((did, "vector embedding", "en", "s", 1)); did += 1
    probe = did
    rows.append((did, "stream vector", "en", "s", 1)); did += 1
    docs = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {r.doc_id: r for r in label_model(spark, str(tmp_path)).collect()}
    # weighted vote on the probe: accurate 'vector'(ml) beats noisy
    # 'stream'(infra); raw majority would have tie-broken to 'infra'
    assert out[probe].label == "ml"
    assert out[probe].n_votes == 2
    # dominant pattern keeps its label
    assert out[0].label == "db"


def test_gopher_quality_rules(spark, tmp_path):
    """Each Gopher rule flips the keep flag on a planted doc."""
    good = " ".join(
        ["the", "be", "to", "of", "and"] + ["word"] * 60
    )  # 65 words, mwl in range, all alpha, 5 req stopwords
    docs = {
        1: good,
        2: "the be " + " ".join(["word"] * 10),  # too few words
        3: " ".join(["the", "be"] + ["#"] * 63),  # symbol ratio + alpha
        4: " ".join(["supercalifragilistic"] * 60),  # mwl > 10, 0 stopwords
    }
    spark.createDataFrame(list(docs.items()), ["doc_id", "text"]).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    from ydb_vector_search_simple_api_spark.operators.textual import (
        gopher_quality_report,
    )

    r = {x.doc_id: x for x in gopher_quality_report(spark, str(tmp_path)).collect()}
    assert r[1].gopher_keep
    assert r[1].n_req_stopwords == 5
    assert not r[2].gopher_keep and r[2].n_words == 12
    assert not r[3].gopher_keep and r[3].symbol_ratio > 0.1
    assert not r[4].gopher_keep and r[4].mean_word_len > 10


def test_line_dedup_brute_force(spark):
    """CCNet-style corpus-wide line dedup: equality with a driver-side
    brute-force recompute over the same augmentation (corpus line
    counts -> drop EVERY occurrence of a >=2-count line -> digest),
    plus the planted-boilerplate property: every lorem-carrying doc
    (doc_id % 17 == 0) loses that injected line because other docs
    carry the identical string."""
    import hashlib
    from collections import Counter

    from ydb_vector_search_simple_api_spark.operators.textual import (
        attach_lines,
        line_dedup,
    )
    from ydb_vector_search_simple_api_spark.sources.store import (
        load_documents,
    )

    out = {r.doc_id: r for r in line_dedup(spark, SF_SMALL).collect()}
    aug = {
        r.doc_id: r.ltext.split("\n")
        for r in attach_lines(load_documents(spark, SF_SMALL))
        .select("doc_id", "ltext")
        .collect()
    }
    counts = Counter(l for lines in aug.values() for l in lines)
    lorem = "lorem ipsum dolor sit amet consectetur adipiscing elit."
    assert counts[lorem] >= 2  # the planted boilerplate IS corpus-hot
    n_removed_docs = 0
    for did, r in out.items():
        lines = aug[did]
        kept = [l for l in lines if counts[l] < 2]
        assert r.n_lines == len(lines)
        assert r.n_dup_lines == len(lines) - len(kept)
        assert r.kept_md5 == hashlib.md5("\n".join(kept).encode()).hexdigest()
        if did % 17 == 0:
            assert r.n_dup_lines >= 1  # the lorem line is gone
        n_removed_docs += r.n_dup_lines > 0
    assert 0 < n_removed_docs  # non-degenerate
    assert any(r.n_dup_lines == 0 for r in out.values())


def test_line_dedup_store_equals_batch(spark, tmp_path):
    """VERDICT r10 #4: build(existing) + upsert(incoming) then screen
    the corpus against the store == batch line_dedup — the count fold
    is associative and hotness is threshold-at-read; cross-split hot
    lines (once in each split) must come out hot."""
    from pyspark.sql import functions as F

    from ydb_vector_search_simple_api_spark.operators.sampling import (
        _draw,
        _threshold_hex,
    )
    from ydb_vector_search_simple_api_spark.operators.textual import (
        line_dedup,
        line_dedup_from_store,
        line_hash_store_build,
        line_hash_store_upsert,
    )
    from ydb_vector_search_simple_api_spark.sources.store import (
        load_documents,
    )

    docs = load_documents(spark, SF_SMALL).select("doc_id", "text")
    thr = _threshold_hex(0.9)
    path = str(tmp_path / "linestore")
    line_hash_store_build(
        spark, docs.filter(_draw(F.col("doc_id")) < F.lit(thr)), path
    )
    line_hash_store_upsert(
        spark, docs.filter(_draw(F.col("doc_id")) >= F.lit(thr)), path
    )
    got = {
        r.doc_id: tuple(r)
        for r in line_dedup_from_store(spark, docs, path).collect()
    }
    want = {r.doc_id: tuple(r) for r in line_dedup(spark, SF_SMALL).collect()}
    assert got == want and len(want) > 0


def test_stream_line_dedup_drained_equals_batch(spark):
    """The on-arrival twin: per-shard count folds into the store, the
    drained screen equals batch line_dedup row-for-row."""
    from ydb_vector_search_simple_api_spark.operators.textual import (
        line_dedup,
    )
    from ydb_vector_search_simple_api_spark.streaming.curation_ingest import (
        stream_line_hash_ingest,
    )

    got = {
        r.doc_id: tuple(r)
        for r in stream_line_hash_ingest(spark, SF_SMALL).collect()
    }
    want = {r.doc_id: tuple(r) for r in line_dedup(spark, SF_SMALL).collect()}
    assert got == want


def test_c4_line_filter_rules(spark):
    """The C4 rules over the deterministic augmentation: lorem pages
    rejected, policy lines never in the kept stream, unpunctuated or
    short lines dropped, kept_md5 reconstructs exactly."""
    import hashlib

    from ydb_vector_search_simple_api_spark.operators.textual import (
        attach_lines,
        c4_line_filter,
    )
    from ydb_vector_search_simple_api_spark.sources.store import (
        load_documents,
    )

    out = {r.doc_id: r for r in c4_line_filter(spark, SF_SMALL).collect()}
    aug = {
        r.doc_id: r.ltext
        for r in attach_lines(load_documents(spark, SF_SMALL))
        .select("doc_id", "ltext")
        .collect()
    }
    assert set(out) == set(aug)
    n_keep = 0
    for did, r in out.items():
        lines = aug[did].split("\n")
        assert r.n_lines == len(lines)
        kept = [
            l
            for l in lines
            if len(l.split(" ")) >= 5
            and l[-1:] in ('.', '!', '?', '"')
            and "privacy policy" not in l
            and "terms of use" not in l
            and "cookie policy" not in l
        ]
        assert r.n_kept == len(kept)
        assert r.kept_md5 == hashlib.md5("\n".join(kept).encode()).hexdigest()
        assert r.has_lorem_ipsum == (did % 17 == 0)
        assert r.has_brace == (did % 23 == 0)
        assert r.n_policy_lines == (1 if did % 13 == 0 else 0)
        assert r.c4_keep == (
            not r.has_lorem_ipsum and not r.has_brace and r.n_kept >= 3
        )
        n_keep += int(r.c4_keep)
    assert 0 < n_keep < len(out)  # rules have real variance here
