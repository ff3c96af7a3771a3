"""API-behavior parity: the validation matrix of app.py:314-390
(SURVEY.md §5.2 item 6)."""

from __future__ import annotations

import sys

import pytest
from pyspark.sql import functions as F

from ydb_vector_search_simple_api_spark import api
from ydb_vector_search_simple_api_spark.config import SearchConfig
from ydb_vector_search_simple_api_spark.operators import index as ivf
from ydb_vector_search_simple_api_spark.sources.store import load_embeddings

from conftest import SF_SMALL


@pytest.fixture(scope="module")
def qvec(spark):
    row = load_embeddings(spark, SF_SMALL).filter(F.col("vec_id") == 0).head()
    return [float(x) for x in row.embedding]


@pytest.fixture(scope="module")
def engine(spark):
    return api.VectorSearchEngine(spark, SF_SMALL)


def test_health():
    assert api.health() == ({"status": "ok"}, 200)


def test_engine_probe(engine):
    assert engine.healthy()


def test_config_echo(engine):
    payload, code = api.config_echo(engine)
    assert code == 200
    assert payload["search_strategy"] == "CosineSimilarity"
    assert payload["index_enabled"] is False


def test_empty_body(engine):
    for body in (None, {}):
        payload, code = api.search_request(engine, body)
        assert code == 400 and payload["error"] == "Request body is required"


def test_neither_embedding_nor_query(engine):
    payload, code = api.search_request(engine, {"k": 4})
    assert code == 400
    assert payload["error"] == "Either 'embedding' or 'query' field is required"


def test_both_embedding_and_query(engine, qvec):
    payload, code = api.search_request(engine, {"embedding": qvec, "query": "hi"})
    assert code == 400
    assert payload["error"] == "Provide either 'embedding' or 'query', not both"


def test_embedding_must_be_list(engine):
    payload, code = api.search_request(engine, {"embedding": "not-a-list"})
    assert code == 400 and "must be a list" in payload["error"]


def test_query_must_be_nonempty(engine):
    for q in ("", "   ", 42):
        payload, code = api.search_request(engine, {"query": q})
        assert code == 400 and payload["error"] == "query must be a non-empty string"


def test_k_validation(engine, qvec):
    for k in (0, -1, 2.5, "4", True):
        payload, code = api.search_request(engine, {"embedding": qvec, "k": k})
        assert code == 400 and payload["error"] == "k must be a positive integer"


def test_top_size_validation(engine, qvec):
    payload, code = api.search_request(
        engine, {"embedding": qvec, "index_tree_search_top_size": 0}
    )
    assert code == 400
    assert payload["error"] == "index_tree_search_top_size must be a positive integer"


def test_query_without_embedding_url_is_501(engine):
    payload, code = api.search_request(engine, {"query": "find me"})
    assert code == 501 and "EMBEDDING_API_URL is not configured" in payload["error"]


def test_query_with_failing_api_is_502(spark):
    eng = api.VectorSearchEngine(
        spark,
        SF_SMALL,
        embed_fn=lambda q: (_ for _ in ()).throw(RuntimeError("Embedding API request failed: boom")),
    )
    payload, code = api.search_request(eng, {"query": "find me"})
    assert code == 502 and "Embedding API request failed" in payload["error"]


def test_successful_search_default_k(engine, qvec):
    payload, code = api.search_request(engine, {"embedding": qvec})
    assert code == 200
    assert payload["count"] == 4  # default k (app.py:363)
    assert payload["search_time_ms"] > 0
    top = payload["results"][0]
    assert set(top) == {"id", "title", "vendor", "description", "score"}
    assert top["id"] == 0 and top["score"] == pytest.approx(1.0)


def test_search_with_filter(engine, qvec):
    payload, code = api.search_request(
        engine, {"embedding": qvec, "k": 5, "filter": {"vendor": "fr"}}
    )
    assert code == 200
    assert all(r["vendor"] == "fr" for r in payload["results"])


def test_filter_with_index_rejected_in_strict_mode(spark, qvec, tmp_path):
    embs = load_embeddings(spark, SF_SMALL).select(
        F.col("vec_id").alias("id"), "embedding"
    )
    idx = ivf.build_ivf_index(spark, embs, str(tmp_path / "ivf"), n_clusters=4)
    eng = api.VectorSearchEngine(
        spark, SF_SMALL, config=SearchConfig(index_enabled=True), index=idx
    )
    payload, code = api.search_request(
        eng, {"embedding": qvec, "filter": {"vendor": "fr"}}
    )
    # reference: ValueError escapes to the catch-all -> 500 (app.py:170-172, 388-390)
    assert code == 500
    assert payload["error"] == "Unable to use filter with enabled vector index."


def test_index_engine_searches(spark, qvec, tmp_path):
    embs = load_embeddings(spark, SF_SMALL).select(
        F.col("vec_id").alias("id"), "embedding"
    )
    idx = ivf.build_ivf_index(spark, embs, str(tmp_path / "ivf2"), n_clusters=4)
    eng = api.VectorSearchEngine(
        spark, SF_SMALL, config=SearchConfig(index_enabled=True), index=idx
    )
    payload, code = api.search_request(
        eng, {"embedding": qvec, "k": 3, "index_tree_search_top_size": 4}
    )
    assert code == 200 and payload["count"] == 3
    assert payload["results"][0]["id"] == 0


def _as_tuples(results):
    return [(r["id"], round(r["score"], 9)) for r in results]


@pytest.fixture(scope="module")
def ivf_engine_nonstrict(spark, tmp_path_factory):
    embs = load_embeddings(spark, SF_SMALL).select(
        F.col("vec_id").alias("id"), "embedding"
    )
    idx = ivf.build_ivf_index(
        spark, embs, str(tmp_path_factory.mktemp("ivf_ns") / "ivf"), n_clusters=4
    )
    return api.VectorSearchEngine(
        spark,
        SF_SMALL,
        config=SearchConfig(index_enabled=True, strict_filter_index_exclusion=False),
        index=idx,
    )


def test_nonstrict_filtered_ivf_full_width_matches_exact(
    spark, qvec, ivf_engine_nonstrict
):
    """config.py's non-strict contract: the filter is APPLIED after
    cluster pruning (not dropped). At full width filtered-IVF must
    equal exact_search with the same filter."""
    eng = ivf_engine_nonstrict
    flt = {"vendor": "fr"}
    got, _ = eng.search(qvec, k=5, filter=flt, search_top_size=4)  # full width
    exact = api.VectorSearchEngine(spark, SF_SMALL)
    want, _ = exact.search(qvec, k=5, filter=flt)
    assert _as_tuples(got) == _as_tuples(want)
    assert all(r["vendor"] == "fr" for r in got)


def test_nonstrict_filtered_ivf_pruned_width_honors_filter(
    qvec, ivf_engine_nonstrict
):
    """Even at pruned width (approximate recall), every returned row
    must pass the filter — the bug was returning UNfiltered top-k."""
    got, _ = ivf_engine_nonstrict.search(
        qvec, k=5, filter={"vendor": "fr"}, search_top_size=1
    )
    assert all(r["vendor"] == "fr" for r in got)


def test_nonstrict_filtered_search_via_http_layer(qvec, ivf_engine_nonstrict):
    payload, code = api.search_request(
        ivf_engine_nonstrict,
        {"embedding": qvec, "k": 3, "filter": {"vendor": "fr"},
         "index_tree_search_top_size": 4},
    )
    assert code == 200
    assert payload["count"] == 3
    assert all(r["vendor"] == "fr" for r in payload["results"])


@pytest.fixture(scope="module")
def tree_engine(spark, tmp_path_factory):
    from ydb_vector_search_simple_api_spark.operators import tree as kmt

    embs = load_embeddings(spark, SF_SMALL).select(
        F.col("vec_id").alias("id"), "embedding"
    )
    idx = kmt.build_kmeans_tree(
        spark, embs, str(tmp_path_factory.mktemp("kmt_eng") / "tree"),
        n_l1=3, fanout=3,
    )
    return api.VectorSearchEngine(
        spark,
        SF_SMALL,
        config=SearchConfig(index_enabled=True, strict_filter_index_exclusion=False),
        index=idx,
    )


def test_tree_engine_searches(spark, qvec, tree_engine):
    """The engine serves through the two-level tree index (the
    YDB-shaped one) — full width == exact."""
    got, _ = tree_engine.search(qvec, k=5, search_top_size=9)  # >= n_leaves
    want, _ = api.VectorSearchEngine(spark, SF_SMALL).search(qvec, k=5)
    assert _as_tuples(got) == _as_tuples(want)


def test_tree_engine_filtered_full_width_matches_exact(spark, qvec, tree_engine):
    flt = {"vendor": "fr"}
    got, _ = tree_engine.search(qvec, k=5, filter=flt, search_top_size=9)
    want, _ = api.VectorSearchEngine(spark, SF_SMALL).search(qvec, k=5, filter=flt)
    assert _as_tuples(got) == _as_tuples(want)


@pytest.fixture(scope="module")
def gann_engine(spark, tmp_path_factory):
    from ydb_vector_search_simple_api_spark.operators import graphann as gann

    embs = load_embeddings(spark, SF_SMALL).select(
        F.col("vec_id").alias("id"), "embedding"
    )
    idx = gann.build_knn_graph(
        spark, embs, str(tmp_path_factory.mktemp("gann_eng") / "graph"), m=8
    )
    return api.VectorSearchEngine(
        spark,
        SF_SMALL,
        config=SearchConfig(index_enabled=True, strict_filter_index_exclusion=False),
        index=idx,
    )


def test_gann_engine_searches(spark, qvec, gann_engine):
    """The engine serves through the graph-ANN index (5th shape) —
    the width knob is the beam; beam >= corpus == exact."""
    got, _ = gann_engine.search(qvec, k=5, search_top_size=500)
    want, _ = api.VectorSearchEngine(spark, SF_SMALL).search(qvec, k=5)
    assert _as_tuples(got) == _as_tuples(want)


def test_gann_engine_filtered_full_beam_matches_exact(spark, qvec, gann_engine):
    flt = {"vendor": "fr"}
    got, _ = gann_engine.search(qvec, k=5, filter=flt, search_top_size=500)
    want, _ = api.VectorSearchEngine(spark, SF_SMALL).search(qvec, k=5, filter=flt)
    assert _as_tuples(got) == _as_tuples(want)


def test_tree_engine_strict_mode_rejects_filter(spark, qvec, tree_engine):
    eng = api.VectorSearchEngine(
        spark,
        SF_SMALL,
        config=SearchConfig(index_enabled=True),  # strict default
        index=tree_engine.index,
    )
    payload, code = api.search_request(
        eng, {"embedding": qvec, "filter": {"vendor": "fr"}}
    )
    assert code == 500
    assert payload["error"] == "Unable to use filter with enabled vector index."


def test_unknown_filter_keys_silently_ignored(engine, qvec):
    """Reference reads only title/vendor/description from the filter
    object and ignores other keys (app.py:176-181)."""
    payload, code = api.search_request(
        engine, {"embedding": qvec, "k": 2, "filter": {"bogus": "x"}}
    )
    assert code == 200 and payload["count"] == 2


@pytest.fixture(scope="module")
def bq_engine(spark, tmp_path_factory):
    from ydb_vector_search_simple_api_spark.operators import bq as bq_mod

    embs = load_embeddings(spark, SF_SMALL).select(
        F.col("vec_id").alias("id"), "embedding"
    )
    idx = bq_mod.build_bq_index(
        spark, embs, str(tmp_path_factory.mktemp("bq_eng") / "bq")
    )
    return api.VectorSearchEngine(
        spark,
        SF_SMALL,
        config=SearchConfig(index_enabled=True, strict_filter_index_exclusion=False),
        index=idx,
    )


def test_bq_engine_full_shortlist_matches_exact(spark, qvec, bq_engine):
    """Third index shape behind the engine: the sign-bit table. Its
    width knob is the Hamming shortlist; >= corpus => exact."""
    got, _ = bq_engine.search(qvec, k=5, search_top_size=500)
    want, _ = api.VectorSearchEngine(spark, SF_SMALL).search(qvec, k=5)
    assert _as_tuples(got) == _as_tuples(want)


def test_bq_engine_filtered_full_shortlist_matches_exact(spark, qvec, bq_engine):
    flt = {"vendor": "fr"}
    got, _ = bq_engine.search(qvec, k=5, filter=flt, search_top_size=500)
    want, _ = api.VectorSearchEngine(spark, SF_SMALL).search(qvec, k=5, filter=flt)
    assert _as_tuples(got) == _as_tuples(want)
    assert all(r["vendor"] == "fr" for r in got)


def test_bq_engine_pruned_shortlist_honors_filter(qvec, bq_engine):
    got, _ = bq_engine.search(qvec, k=5, filter={"vendor": "fr"}, search_top_size=50)
    assert all(r["vendor"] == "fr" for r in got)


def test_bq_engine_strict_mode_rejects_filter(spark, qvec, bq_engine):
    import dataclasses

    strict = dataclasses.replace(
        bq_engine, config=SearchConfig(index_enabled=True)
    )
    with pytest.raises(ValueError, match="Unable to use filter"):
        strict.search(qvec, k=3, filter={"vendor": "fr"})


def test_hybrid_plus_filter_is_400_even_in_strict_index_mode(spark, qvec):
    """Review finding: the strict filter×index 500 must NOT shadow the
    hybrid+filter 400 (the hybrid path never touches the index)."""
    from ydb_vector_search_simple_api_spark import api
    from ydb_vector_search_simple_api_spark.config import SearchConfig

    eng = api.VectorSearchEngine(
        spark,
        SF_SMALL,
        config=SearchConfig(index_enabled=True, strict_filter_index_exclusion=True),
        index=object.__new__(type("FakeIdx", (), {})),  # truthy placeholder
    )
    # engine.index must satisfy isinstance checks only if search runs;
    # the 400 must short-circuit before any engine call
    payload, code = api.search_request(
        eng,
        {
            "embedding": qvec,
            "k": 2,
            "hybrid_terms": ["vector"],
            "filter": {"vendor": "fr"},
        },
    )
    assert code == 400
    assert "hybrid_terms cannot be combined with filter" in payload["error"]


# ------------------------------------------- documents in serving plans


def _documents_scans(df) -> list[str]:
    """Formatted-plan detail blocks of every scan of documents.parquet."""
    import re

    from ydb_vector_search_simple_api_spark.plans import checks

    blocks = re.split(r"\n(?=\(\d+\) )", checks.formatted_plan(df))
    return [
        b for b in blocks
        if b.splitlines()[0].lstrip("(0123456789) ").startswith("Scan")
        and "documents.parquet" in b
    ]


def _assert_reads_no_documents(df):
    """An unfiltered serving plan ranks ids only: its metadata is a
    point read after the collect, so no file of documents is scanned
    (and none can be shipped whole as a broadcast build side)."""
    from ydb_vector_search_simple_api_spark.plans import checks

    assert "documents.parquet" not in checks.formatted_plan(df), (
        checks.formatted_plan(df)
    )


def _assert_reads_documents_for_filter_only(df):
    """A filtered serving plan reads documents only for the filter's id
    set: every documents scan pushes the filter's equality and reads
    the id and the filtered column, never a metadata column."""
    scans = _documents_scans(df)
    assert scans
    for block in scans:
        assert "EqualTo(lang,fr)" in block, block
        assert "ReadSchema: struct<doc_id:bigint,lang:string>" in block, block


def test_ivf_engine_plan_reads_no_documents(qvec, ivf_engine_nonstrict):
    _assert_reads_no_documents(
        ivf_engine_nonstrict.search_df(qvec, k=5, search_top_size=4)
    )


def test_ivf_engine_filtered_plan_reads_documents_for_filter_only(
    qvec, ivf_engine_nonstrict
):
    _assert_reads_documents_for_filter_only(
        ivf_engine_nonstrict.search_df(
            qvec, k=5, filter={"vendor": "fr"}, search_top_size=4
        )
    )


def test_tree_engine_plan_reads_no_documents(qvec, tree_engine):
    _assert_reads_no_documents(tree_engine.search_df(qvec, k=5, search_top_size=9))


def test_bq_engine_plan_reads_no_documents(qvec, bq_engine):
    _assert_reads_no_documents(bq_engine.search_df(qvec, k=5, search_top_size=500))


def test_exact_engine_plans_read_documents_for_filter_only(engine, qvec):
    _assert_reads_no_documents(engine.search_df(qvec, k=5))
    _assert_reads_documents_for_filter_only(
        engine.search_df(qvec, k=5, filter={"vendor": "fr"})
    )


def test_hybrid_plan_reads_no_metadata_column(engine, qvec):
    """The lexical half of hybrid search scans the documents' text; the
    title column (``source``) is read only for metadata, which is now a
    point read, so no documents scan in the plan reads it."""
    scans = _documents_scans(engine.search_hybrid_df(qvec, ["vector", "hash"], k=5))
    assert scans
    for block in scans:
        assert "source" not in block, block


# ------------------------------------------------------- batch search


def test_search_batch_matches_single_searches(spark, engine):
    embs_df = load_embeddings(spark, SF_SMALL).filter(F.col("vec_id") < 3)
    batch = [[float(x) for x in r.embedding] for r in embs_df.collect()]
    got, _ = engine.search_batch(batch, k=5)
    assert len(got) == 3
    for qv, rows in zip(batch, got):
        single, _ = engine.search(qv, k=5)
        # the batch scores come from BLAS, the single search's from the
        # sequential SQL fold: equal ids, scores within 1e-9
        assert [r["id"] for r in rows] == [r["id"] for r in single]
        assert [r["score"] for r in rows] == pytest.approx(
            [r["score"] for r in single], abs=1e-9
        )
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        assert set(rows[0]) == {
            "id", "title", "vendor", "description", "score", "rank"
        }


def test_search_batch_through_ivf_engine(spark, qvec, ivf_engine_nonstrict):
    """Indexed engine routes the batch through the pruned routed-
    blocked join; at full width it equals the exact batch."""
    got, _ = ivf_engine_nonstrict.search_batch([qvec, qvec], k=5,
                                               search_top_size=4)
    exact, _ = api.VectorSearchEngine(spark, SF_SMALL).search_batch(
        [qvec, qvec], k=5
    )
    assert [[r["id"] for r in q] for q in got] == [
        [r["id"] for r in q] for q in exact
    ]


def test_search_batch_request_validation(engine, qvec):
    cases = [
        (None, "Request body is required"),
        ({}, "Request body is required"),
        ({"embeddings": []}, "non-empty list"),
        ({"embeddings": "x"}, "non-empty list"),
        ({"embeddings": [[]]}, "non-empty list"),
        ({"embeddings": [qvec], "k": 0}, "positive integer"),
        ({"embeddings": [qvec], "k": True}, "positive integer"),
        ({"embeddings": [qvec], "filter": {"vendor": "fr"}}, "not supported"),
        (
            {"embeddings": [qvec] * (api.MAX_BATCH_QUERIES + 1)},
            "at most",
        ),
    ]
    for body, frag in cases:
        payload, code = api.search_batch_request(engine, body)
        assert code == 400 and frag in payload["error"], (body, payload)
    payload, code = api.search_batch_request(
        engine, {"embeddings": [qvec, qvec], "k": 2}
    )
    assert code == 200 and payload["count"] == 2
    assert all(len(q) == 2 for q in payload["results"])
    assert payload["search_time_ms"] > 0


# --------------------------------------------------- result cache


def test_result_cache_hits_and_evicts(spark, qvec):
    eng = api.VectorSearchEngine(spark, SF_SMALL, result_cache_size=2)
    calls = {"n": 0}
    orig = eng.search_df

    def counting(*a, **kw):
        calls["n"] += 1
        return orig(*a, **kw)

    eng.search_df = counting
    r1, _ = eng.search(qvec, k=3)
    r2, _ = eng.search(qvec, k=3)  # hit
    assert calls["n"] == 1 and r2 == r1
    # mutating a returned result must not poison the cache
    r2[0]["title"] = "mutated"
    r3, _ = eng.search(qvec, k=3)
    assert calls["n"] == 1 and r3 == r1
    # different k misses
    eng.search(qvec, k=4)
    assert calls["n"] == 2
    # capacity 2: a third distinct key evicts the LRU entry (k=3)
    eng.search(qvec, k=5)
    assert calls["n"] == 3
    eng.search(qvec, k=3)
    assert calls["n"] == 4
    # clear drops everything
    eng.clear_result_cache()
    eng.search(qvec, k=5)
    assert calls["n"] == 5


def test_result_cache_disabled_by_default(spark, qvec):
    eng = api.VectorSearchEngine(spark, SF_SMALL)
    calls = {"n": 0}
    orig = eng.search_df

    def counting(*a, **kw):
        calls["n"] += 1
        return orig(*a, **kw)

    eng.search_df = counting
    eng.search(qvec, k=3)
    eng.search(qvec, k=3)
    assert calls["n"] == 2


def test_search_batch_through_tree_engine(spark, qvec, tree_engine):
    """Tree-indexed engines route the batch through the tree's
    routed-blocked join; at full width == exact batch."""
    got, _ = tree_engine.search_batch([qvec], k=5, search_top_size=9)
    exact, _ = api.VectorSearchEngine(spark, SF_SMALL).search_batch(
        [qvec], k=5
    )
    assert [r["id"] for r in got[0]] == [r["id"] for r in exact[0]]


@pytest.fixture(scope="module")
def sq_engine(spark, tmp_path_factory):
    from ydb_vector_search_simple_api_spark.operators import sq as sq_mod

    embs = load_embeddings(spark, SF_SMALL).select(
        F.col("vec_id").alias("id"), "embedding"
    )
    idx = sq_mod.build_sq_index(
        spark, embs, str(tmp_path_factory.mktemp("sq_eng") / "sq")
    )
    return api.VectorSearchEngine(
        spark,
        SF_SMALL,
        config=SearchConfig(index_enabled=True, strict_filter_index_exclusion=False),
        index=idx,
    )


def test_sq_engine_full_shortlist_matches_exact(spark, qvec, sq_engine):
    """Fourth index shape behind the engine: the int8 code table. Its
    width knob is the rerank shortlist; >= corpus => exact."""
    got, _ = sq_engine.search(qvec, k=5, search_top_size=500)
    want, _ = api.VectorSearchEngine(spark, SF_SMALL).search(qvec, k=5)
    assert _as_tuples(got) == _as_tuples(want)


def test_sq_engine_filtered_and_pruned(spark, qvec, sq_engine):
    flt = {"vendor": "fr"}
    got, _ = sq_engine.search(qvec, k=5, filter=flt, search_top_size=500)
    want, _ = api.VectorSearchEngine(spark, SF_SMALL).search(qvec, k=5, filter=flt)
    assert _as_tuples(got) == _as_tuples(want)
    pruned, _ = sq_engine.search(qvec, k=5, filter=flt, search_top_size=50)
    assert all(r["vendor"] == "fr" for r in pruned)


@pytest.fixture(scope="module")
def opq_engine(spark, tmp_path_factory):
    from ydb_vector_search_simple_api_spark.operators import opq as opq_mod

    embs = load_embeddings(spark, SF_SMALL).select(
        F.col("vec_id").alias("id"), "embedding"
    )
    idx = opq_mod.build_opq_index(
        spark, embs, str(tmp_path_factory.mktemp("opq_eng") / "opq"),
        m=8, nbits=8, normalize=True,
    )
    return api.VectorSearchEngine(
        spark,
        SF_SMALL,
        config=SearchConfig(index_enabled=True, strict_filter_index_exclusion=False),
        index=idx,
    )


def test_opq_engine_full_shortlist_matches_exact(spark, qvec, opq_engine):
    """Sixth index shape behind the engine: rotated-ADC codes. Width
    knob is the rerank shortlist (the BQ/SQ contract); >= corpus =>
    exact because the rerank reads the ORIGINAL vectors."""
    got, _ = opq_engine.search(qvec, k=5, search_top_size=500)
    want, _ = api.VectorSearchEngine(spark, SF_SMALL).search(qvec, k=5)
    assert _as_tuples(got) == _as_tuples(want)


def test_opq_engine_filtered_and_pruned(spark, qvec, opq_engine):
    flt = {"vendor": "fr"}
    got, _ = opq_engine.search(qvec, k=5, filter=flt, search_top_size=500)
    want, _ = api.VectorSearchEngine(spark, SF_SMALL).search(qvec, k=5, filter=flt)
    assert _as_tuples(got) == _as_tuples(want)
    pruned, _ = opq_engine.search(qvec, k=5, filter=flt, search_top_size=50)
    assert all(r["vendor"] == "fr" for r in pruned)


def test_ivf_search_df_root_is_take_ordered(qvec, ivf_engine_nonstrict, monkeypatch):
    """The post-join re-sort carries limit(k): the plan root is a
    TakeOrderedAndProject, with no range-partitioning exchange (whose
    sampling job and shuffle a bare ORDER BY would run per request).
    The driver-side cap is forced to 0, so the request takes the Spark
    plan."""
    from ydb_vector_search_simple_api_spark.operators import layout
    from ydb_vector_search_simple_api_spark.plans import checks

    monkeypatch.setattr(layout, "DRIVER_SEARCH_CAP", 0)
    df = ivf_engine_nonstrict.search_df(qvec, k=5, search_top_size=4)
    plan = checks.simple_plan(df)
    ops = [
        ln.strip().lstrip("+-: ").strip()
        for ln in plan.split("== Physical Plan ==")[1].splitlines()
        if ln.strip()
    ]
    ops = [op for op in ops if not op.startswith("AdaptiveSparkPlan")]
    assert ops[0].startswith("TakeOrderedAndProject"), plan
    assert "rangepartitioning" not in plan, plan


# ------------------------------------------- result cache under threads


def _hammer(eng, queries, n_threads, rounds):
    """Every thread runs every query ``rounds`` times, in a
    thread-specific order; returns (errors, {query index: results})."""
    import threading

    errors, seen = [], {}
    lock = threading.Lock()
    start = threading.Barrier(n_threads)

    def run(t):
        try:
            start.wait()
            for r in range(rounds):
                for i in range(len(queries)):
                    qi = (i + t + r) % len(queries)
                    q, k = queries[qi]
                    got, _ = eng.search(q, k=k)
                    with lock:
                        seen.setdefault(qi, []).append(got)
        except Exception as e:  # noqa: BLE001 - collected for the assert
            errors.append(e)

    threads = [threading.Thread(target=run, args=(t,)) for t in range(n_threads)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return errors, seen


def test_result_cache_is_thread_safe(spark):
    """Many threads hitting, missing and evicting one small cache: no
    exception, and every reply equals the backend's answer. The
    backend is a stub, so the cache's own bookkeeping is what is
    hammered; without the lock, threads die of KeyError."""

    class Row(dict):
        def asDict(self):
            return dict(self)

    class Result:
        def __init__(self, rows):
            self.rows = rows

        def collect(self):
            return [Row(r) for r in self.rows]

    def backend(embedding, k, filter=None, search_top_size=None):
        return Result([{"id": int(embedding[0]) * 100 + j, "score": -j} for j in range(k)])

    eng = api.VectorSearchEngine(spark, SF_SMALL, result_cache_size=3)
    eng.search_df = backend
    # the stub's rows are the replies: no documents metadata to attach
    eng._with_metadata = lambda rows: [r.asDict() for r in rows]
    queries = [([float(i), 1.0], 1 + i % 3) for i in range(7)]
    # switch threads far more often than the default 5 ms, so a
    # check-then-act window in the cache is actually interleaved
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        errors, seen = _hammer(eng, queries, n_threads=8, rounds=400)
    finally:
        sys.setswitchinterval(interval)
    assert not errors, errors[:3]
    for qi, replies in seen.items():
        want = [r.asDict() for r in backend(*queries[qi]).collect()]
        assert all(r == want for r in replies), qi


def test_result_cache_threads_match_uncached_search(spark, qvec):
    """The same under real searches: concurrent cached replies equal
    the uncached engine's."""
    embs = [
        [float(x) for x in r.embedding]
        for r in load_embeddings(spark, SF_SMALL).filter(F.col("vec_id") < 3).collect()
    ]
    queries = [(e, 3) for e in embs]
    plain = api.VectorSearchEngine(spark, SF_SMALL)
    want = {i: plain.search(q, k=k)[0] for i, (q, k) in enumerate(queries)}
    cached = api.VectorSearchEngine(spark, SF_SMALL, result_cache_size=2)
    errors, seen = _hammer(cached, queries, n_threads=4, rounds=2)
    assert not errors, errors[:3]
    for qi, replies in seen.items():
        assert all(r == want[qi] for r in replies), qi


# ------------------------------------------------ plan-build round trips


def _ivf_engine_at_dim(spark, tmp_path, dim):
    """A warm IVF engine over the SF_SMALL documents whose vectors are
    ``dim``-dimensional (seeded Gaussian), with one of its vectors as
    the query."""
    import numpy as np

    ids = [r.doc_id for r in spark.read.parquet(f"{SF_SMALL}/documents.parquet").collect()]
    vecs = np.random.default_rng(dim).standard_normal((len(ids), dim)).astype(np.float32)
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)],
        "id long, embedding array<float>",
    )
    idx = ivf.build_ivf_index(spark, df, str(tmp_path / f"ivf{dim}"), n_clusters=8)
    eng = api.VectorSearchEngine(
        spark, SF_SMALL, config=SearchConfig(index_enabled=True), index=idx
    )
    q = [float(x) for x in vecs[5]]
    eng.search_df(q, k=10, search_top_size=3)
    return eng, q


#: py4j commands of one warm ``search_df`` at dim 64 in the setup
#: above when every score was built through the Column API
COLUMN_API_COMMANDS_DIM64 = 814


def test_ivf_search_df_round_trips_flat_in_dim(spark, tmp_path, monkeypatch):
    """Building the /search plan costs the same number of py4j round
    trips at dim 8, 64 and 512 — the score is one SQL string — and at
    most 40% of what the Column API form cost at dim 64. The
    driver-side cap is forced to 0, so the request takes the Spark
    plan."""
    from conftest import py4j_commands

    from ydb_vector_search_simple_api_spark.operators import layout

    monkeypatch.setattr(layout, "DRIVER_SEARCH_CAP", 0)
    counts = {}
    for dim in (8, 64, 512):
        eng, q = _ivf_engine_at_dim(spark, tmp_path, dim)
        _, counts[dim] = py4j_commands(
            spark, lambda: eng.search_df(q, k=10, search_top_size=3)
        )
    assert counts[8] == counts[64] == counts[512], counts
    assert counts[64] <= 0.4 * COLUMN_API_COMMANDS_DIM64, counts


#: py4j commands of one warm exact ``search_df`` (k=10, no filter) over
#: SF_SMALL when its projections were built from ``F.col(...).alias``
COLUMN_API_EXACT_COMMANDS = 242


def test_exact_search_df_projects_in_sql_text(spark, engine, qvec):
    """The exact /search plan projects the embeddings and documents in
    SQL text: a warm ``search_df`` sends well under the py4j commands
    of the Column API form, and its rows are the brute-force top-k."""
    import numpy as np

    from conftest import py4j_commands

    engine.search_df(qvec, k=10)
    df, n = py4j_commands(spark, lambda: engine.search_df(qvec, k=10))
    assert n <= 0.5 * COLUMN_API_EXACT_COMMANDS, n
    rows = load_embeddings(spark, SF_SMALL).collect()
    E = np.array([r.embedding for r in rows], dtype=np.float64)
    q = np.asarray(qvec)
    cos = E @ q / (np.linalg.norm(E, axis=1) * np.linalg.norm(q))
    want = sorted(zip(-cos, [r.vec_id for r in rows]))[:10]
    got = df.collect()
    assert [r.id for r in got] == [i for _, i in want]
    assert [r.score for r in got] == pytest.approx([-c for c, _ in want], abs=1e-12)


#: py4j commands of one warm BQ ``search_df`` (k=10, shortlist 50) when
#: the Hamming score was built from Column lambdas
COLUMN_API_BQ_COMMANDS = 206


def test_bq_search_df_scores_in_sql_text(spark, qvec, bq_engine):
    """The Hamming shortlist score is one SQL string: a warm BQ
    ``search_df`` sends at most half the py4j commands of the Column
    lambda form."""
    from conftest import py4j_commands

    bq_engine.search_df(qvec, k=10, search_top_size=50)
    _, n = py4j_commands(spark, lambda: bq_engine.search_df(qvec, k=10, search_top_size=50))
    assert n <= 0.5 * COLUMN_API_BQ_COMMANDS, n
