"""The runnable HTTP façade (O17): the reference's four routes served
over real HTTP (``/root/reference/app.py:267-441``), with the
400/501/502/500 matrix asserted end-to-end through a socket — not just
at the library layer (that's tests/test_api.py)."""

from __future__ import annotations

import json
import threading
import urllib.error
import urllib.request

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from ydb_vector_search_simple_api_spark import api, http_server
from ydb_vector_search_simple_api_spark.config import SearchConfig
from ydb_vector_search_simple_api_spark.operators import index as ivf
from ydb_vector_search_simple_api_spark.sources.store import load_embeddings


@pytest.fixture(scope="module")
def served(spark):
    """One engine + live server for the module; embed_fn raises the
    transport error so the 502 path is reachable without a network."""
    eng = api.VectorSearchEngine(
        spark,
        SF_SMALL,
        embed_fn=lambda q: (_ for _ in ()).throw(
            RuntimeError("Embedding API request failed: boom")
        ),
    )
    srv = http_server.serve(eng, port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    yield base, eng
    srv.shutdown()
    srv.server_close()


def _get(url: str):
    try:
        with urllib.request.urlopen(url, timeout=30) as r:
            return r.status, r.read(), r.headers.get("Content-Type", "")
    except urllib.error.HTTPError as e:
        return e.code, e.read(), e.headers.get("Content-Type", "")


def _post(url: str, body: bytes | None):
    req = urllib.request.Request(
        url, data=body or b"", headers={"Content-Type": "application/json"}
    )
    try:
        with urllib.request.urlopen(req, timeout=120) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


@pytest.fixture(scope="module")
def qvec(spark):
    row = (
        load_embeddings(spark, SF_SMALL)
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .head()
    )
    return [float(x) for x in row.embedding]


def test_health_route(served):
    code, body, ctype = _get(served[0] + "/health")
    assert code == 200 and json.loads(body) == {"status": "ok"}
    assert ctype.startswith("application/json")


def test_config_route(served):
    code, body, _ = _get(served[0] + "/config")
    cfg = json.loads(body)
    assert code == 200
    assert cfg["search_strategy"] == "CosineSimilarity"
    assert cfg["index_enabled"] is False


def test_index_page_served(served):
    code, body, ctype = _get(served[0] + "/")
    assert code == 200 and ctype.startswith("text/html")
    assert b"/search" in body  # the form posts to the API
    # the reference UI's controls (templates/index.html:244-470):
    # input-mode toggle, k, width knob, ranked results table
    for control in (
        b'name="inputMode"',
        b'id="k"',
        b'id="indexTreeSearchTopSize"',
        b'id="resultsTable"',
        b"/health",
    ):
        assert control in body


def test_unknown_route_404(served):
    code, body, _ = _get(served[0] + "/nope")
    assert code == 404


def test_search_empty_body_400(served):
    code, payload = _post(served[0] + "/search", None)
    assert code == 400 and payload["error"] == "Request body is required"


def test_search_malformed_json_400(served):
    code, payload = _post(served[0] + "/search", b"{not json")
    assert code == 400 and "JSON" in payload["error"]


def test_search_neither_field_400(served):
    code, payload = _post(served[0] + "/search", json.dumps({"k": 2}).encode())
    assert code == 400
    assert payload["error"] == "Either 'embedding' or 'query' field is required"


def test_search_both_fields_400(served, qvec):
    code, payload = _post(
        served[0] + "/search",
        json.dumps({"embedding": qvec, "query": "x"}).encode(),
    )
    assert code == 400
    assert payload["error"] == "Provide either 'embedding' or 'query', not both"


def test_query_unconfigured_embedder_501(served, spark):
    # a second engine w/o embed_fn on the same server port is overkill;
    # spin a dedicated one-shot server for the 501 shape
    eng = api.VectorSearchEngine(spark, SF_SMALL)
    srv = http_server.serve(eng, port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        code, payload = _post(
            f"http://127.0.0.1:{srv.server_address[1]}/search",
            json.dumps({"query": "find me"}).encode(),
        )
        assert code == 501
        assert "EMBEDDING_API_URL is not configured" in payload["error"]
    finally:
        srv.shutdown()
        srv.server_close()


def test_query_failing_embedder_502(served):
    code, payload = _post(
        served[0] + "/search", json.dumps({"query": "find me"}).encode()
    )
    assert code == 502 and "Embedding API request failed" in payload["error"]


def test_filter_with_index_500_over_http(spark, qvec, tmp_path):
    embs = load_embeddings(spark, SF_SMALL).select(
        F.col("vec_id").alias("id"), "embedding"
    )
    idx = ivf.build_ivf_index(spark, embs, str(tmp_path / "ivf_http"), n_clusters=4)
    eng = api.VectorSearchEngine(
        spark, SF_SMALL, config=SearchConfig(index_enabled=True), index=idx
    )
    srv = http_server.serve(eng, port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        code, payload = _post(
            base + "/search",
            json.dumps({"embedding": qvec, "filter": {"vendor": "fr"}}).encode(),
        )
        assert code == 500
        assert payload["error"] == "Unable to use filter with enabled vector index."
        # strictness applies to the RAW dict: unknown-key-only filters
        # also reject, matching the reference's check order
        code2, payload2 = _post(
            base + "/search",
            json.dumps({"embedding": qvec, "filter": {"foo": "bar"}}).encode(),
        )
        assert code2 == 500
        assert payload2["error"] == "Unable to use filter with enabled vector index."
    finally:
        srv.shutdown()
        srv.server_close()


def test_successful_search_over_http(served, qvec):
    code, payload = _post(
        served[0] + "/search", json.dumps({"embedding": qvec, "k": 3}).encode()
    )
    assert code == 200 and payload["count"] == 3
    assert payload["results"][0]["id"] == 0
    assert payload["search_time_ms"] > 0


def test_upserted_rows_served_over_http(spark, qvec):
    """Serving sees ivf_upsert-appended rows immediately (directory-
    based pruning; each request re-lists the layout) — the index
    maintenance contract exercised through the real HTTP surface."""
    import tempfile

    embs = load_embeddings(spark, SF_SMALL).select(
        F.col("vec_id").alias("id"), "embedding"
    )
    out = tempfile.mkdtemp(prefix="svs_http_upsert_") + "/ivf"
    # build WITHOUT the query row (vec_id 0): its self-match can't be
    # served until the upsert lands
    idx = ivf.build_ivf_index(
        spark, embs.filter(F.col("id") != 0), out, n_clusters=4
    )
    eng = api.VectorSearchEngine(
        spark, SF_SMALL, config=SearchConfig(index_enabled=True), index=idx
    )
    srv = http_server.serve(eng, port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        body = json.dumps(
            {"embedding": qvec, "k": 3, "index_tree_search_top_size": 4}
        ).encode()
        code, payload = _post(base + "/search", body)
        assert code == 200
        assert 0 not in [r["id"] for r in payload["results"]]

        stats = ivf.ivf_upsert(spark, idx, embs.filter(F.col("id") == 0))
        assert stats["n_appended"] == 1

        code, payload = _post(base + "/search", body)
        assert code == 200
        top = payload["results"][0]
        assert top["id"] == 0 and top["score"] == pytest.approx(1.0)
    finally:
        srv.shutdown()
        srv.server_close()


def test_tree_engine_served_over_http(spark, qvec):
    """The two-level k-means tree index serves through the same HTTP
    surface as the flat IVF."""
    import tempfile

    from ydb_vector_search_simple_api_spark.operators import tree as kmt

    embs = load_embeddings(spark, SF_SMALL).select(
        F.col("vec_id").alias("id"), "embedding"
    )
    idx = kmt.build_kmeans_tree(
        spark, embs, tempfile.mkdtemp(prefix="svs_http_tree_") + "/t",
        n_l1=2, fanout=2,
    )
    eng = api.VectorSearchEngine(
        spark, SF_SMALL, config=SearchConfig(index_enabled=True), index=idx
    )
    srv = http_server.serve(eng, port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        code, payload = _post(
            base + "/search",
            json.dumps(
                {"embedding": qvec, "k": 3, "index_tree_search_top_size": 4}
            ).encode(),
        )
        assert code == 200 and payload["count"] == 3
        assert payload["results"][0]["id"] == 0
    finally:
        srv.shutdown()
        srv.server_close()


def test_apidocs_and_spec_served(served):
    """The docs surface (flasgger's /apidocs in the reference's stack,
    requirements.txt:4) — an OpenAPI spec at /apispec.json and a
    dependency-free HTML renderer at /apidocs."""
    code, body, ctype = _get(served[0] + "/apispec.json")
    assert code == 200 and "application/json" in ctype
    spec = json.loads(body)
    assert spec["openapi"].startswith("3.")
    assert set(spec["paths"]) == {
        "/health", "/config", "/", "/search", "/stats", "/search_batch",
    }
    post = spec["paths"]["/search"]["post"]
    assert set(post["responses"]) == {"200", "400", "500", "501", "502"}
    props = post["requestBody"]["content"]["application/json"]["schema"]["properties"]
    assert props["k"]["default"] == 4
    assert props["index_tree_search_top_size"]["default"] == 10

    code, body, ctype = _get(served[0] + "/apidocs")
    assert code == 200 and "text/html" in ctype
    assert b"/apispec.json" in body


def test_hybrid_search_over_http(served, qvec):
    """EXTENSION behavior: hybrid_terms switches to BM25+vector RRF;
    results keep the reference's 5-column shape with score=RRF."""
    code, data = _post(
        served[0] + "/search",
        json.dumps(
            {"embedding": qvec, "k": 5, "hybrid_terms": ["vector", "hash", "stream"]}
        ).encode(),
    )
    assert code == 200
    assert data["count"] == len(data["results"]) == 5
    scores = [r["score"] for r in data["results"]]
    assert scores == sorted(scores, reverse=True)
    assert all(0.0 < x <= 2.0 / 61.0 + 1e-9 for x in scores)
    assert set(data["results"][0]) == {"id", "title", "vendor", "description", "score"}


def test_hybrid_terms_validation(served, qvec):
    for bad in ([], ["", "x"], "vector", [1, 2]):
        code, data = _post(
            served[0] + "/search",
            json.dumps({"embedding": qvec, "k": 2, "hybrid_terms": bad}).encode(),
        )
        assert code == 400, (bad, data)
    code, data = _post(
        served[0] + "/search",
        json.dumps(
            {
                "embedding": qvec,
                "k": 2,
                "hybrid_terms": ["vector"],
                "filter": {"vendor": "fr"},
            }
        ).encode(),
    )
    assert code == 400
    # absence of the field leaves the reference path untouched
    code, data = _post(
        served[0] + "/search", json.dumps({"embedding": qvec, "k": 2}).encode()
    )
    assert code == 200 and data["count"] == 2


def test_stats_route_serves_dataset_card(served):
    code, body, ctype = _get(served[0] + "/stats")
    assert code == 200 and "json" in ctype
    data = json.loads(body)
    assert set(data) == {
        "n_docs", "n_tokens", "n_langs", "n_sources", "dup_rate", "mean_quality"
    }
    assert data["n_docs"] > 0 and 0.0 <= data["dup_rate"] < 1.0


def test_hybrid_served_through_lexical_index_over_http(spark, qvec):
    """Serving contract of the persisted BM25 index: an engine holding
    a lexical_index answers POST /search hybrid requests over real
    HTTP with byte-identical results to the recompute engine."""
    from ydb_vector_search_simple_api_spark.operators import ranking as RK

    import tempfile

    lex = RK.build_lexical_index(
        spark,
        __import__(
            "ydb_vector_search_simple_api_spark.sources.store", fromlist=["x"]
        ).load_documents(spark, SF_SMALL),
        tempfile.mkdtemp(prefix="svs_lex_http_") + "/lex",
    )
    results = {}
    for name, eng in (
        ("recompute", api.VectorSearchEngine(spark, SF_SMALL)),
        ("indexed", api.VectorSearchEngine(spark, SF_SMALL, lexical_index=lex)),
    ):
        srv = http_server.serve(eng, port=0)
        t = threading.Thread(target=srv.serve_forever, daemon=True)
        t.start()
        try:
            code, data = _post(
                f"http://127.0.0.1:{srv.server_address[1]}/search",
                json.dumps(
                    {"embedding": qvec, "k": 5,
                     "hybrid_terms": ["vector", "hash", "stream"]}
                ).encode(),
            )
        finally:
            srv.shutdown()
            srv.server_close()
        assert code == 200, data
        results[name] = data["results"]
    assert results["indexed"] == results["recompute"]


def test_search_batch_over_http(served, qvec):
    """EXTENSION route: POST /search_batch serves many queries through
    the batch ANN machinery in one request."""
    code, data = _post(
        served[0] + "/search_batch",
        json.dumps({"embeddings": [qvec, qvec], "k": 3}).encode(),
    )
    assert code == 200
    assert data["count"] == 2
    for rows in data["results"]:
        assert len(rows) == 3
        assert [r["rank"] for r in rows] == [1, 2, 3]
        assert set(rows[0]) == {
            "id", "title", "vendor", "description", "score", "rank"
        }
    # the two identical queries get identical answers
    assert data["results"][0] == data["results"][1]
    code, data = _post(
        served[0] + "/search_batch", json.dumps({"embeddings": []}).encode()
    )
    assert code == 400


def _post_raw(base: str, path: str, length: str, body: bytes = b""):
    """POST with a hand-set Content-Length header and ``body`` sent
    after it; returns (status, decoded JSON reply)."""
    import http.client
    from urllib.parse import urlparse

    u = urlparse(base)
    conn = http.client.HTTPConnection(u.hostname, u.port, timeout=30)
    try:
        conn.putrequest("POST", path)
        conn.putheader("Content-Type", "application/json")
        conn.putheader("Content-Length", length)
        conn.endheaders()
        if body:
            conn.send(body)
        r = conn.getresponse()
        return r.status, json.loads(r.read())
    finally:
        conn.close()


def test_oversized_body_is_413_unread(served):
    """A Content-Length above the cap gets 413 at once: the server
    answers without waiting for a body that is never sent."""
    for path in ("/search", "/search_batch"):
        code, data = _post_raw(
            served[0], path, str(http_server.MAX_BODY_BYTES + 1)
        )
        assert code == 413, data
        assert str(http_server.MAX_BODY_BYTES) in data["error"]


def test_invalid_content_length_is_400(served, qvec):
    """A non-integer or negative Content-Length gets a 400 reply, not a
    dropped connection; a valid request on a new connection still
    works after them."""
    for length in ("abc", "-5", "1.5"):
        code, data = _post_raw(served[0], "/search", length)
        assert code == 400, (length, data)
        assert "Content-Length" in data["error"]
    body = json.dumps({"embedding": qvec, "k": 2}).encode()
    code, data = _post_raw(served[0], "/search", str(len(body)), body)
    assert code == 200 and data["count"] == 2
