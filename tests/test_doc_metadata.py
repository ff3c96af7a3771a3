"""Result metadata by point read: every serving route ranks ids in
Spark and attaches ``documents`` metadata on the driver
(``store.doc_metadata``). The replies must equal those of the join
they replace — the ranked relation broadcast and joined to a scan of
``documents`` — including an id with no ``documents`` row (dropped)
and an id with two (two rows)."""

from __future__ import annotations

import threading

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ydb_vector_search_simple_api_spark import api
from ydb_vector_search_simple_api_spark.config import SearchConfig
from ydb_vector_search_simple_api_spark.operators import index as ivf
from ydb_vector_search_simple_api_spark.operators.search import (
    _order_cols,
    exact_search,
    knn_join,
)
from ydb_vector_search_simple_api_spark.sources import store
from ydb_vector_search_simple_api_spark.sources.store import (
    load_documents,
    load_embeddings,
)

from conftest import SF_SMALL

K = 5


def _write_sf(dst, docs: pa.Table) -> str:
    """An sf dir holding SF_SMALL's embeddings and ``docs``."""
    dst.mkdir(parents=True, exist_ok=True)
    pq.write_table(
        pq.read_table(f"{SF_SMALL}/embeddings.parquet"), dst / "embeddings.parquet"
    )
    pq.write_table(docs, dst / "documents.parquet")
    return str(dst)


@pytest.fixture(scope="module")
def qvec(spark):
    row = load_embeddings(spark, SF_SMALL).filter(F.col("vec_id") == 0).head()
    return [float(x) for x in row.embedding]


@pytest.fixture(scope="module")
def odd(spark, qvec, tmp_path_factory):
    """(sf dir, missing id, duplicated id): SF_SMALL with the exact
    top-k's second id deleted from documents and its third id given a
    second row with another title."""
    top = [r.id for r in exact_search(spark, SF_SMALL, qvec, k=K).collect()]
    missing, dup = top[1], top[2]
    docs = pq.read_table(f"{SF_SMALL}/documents.parquet")
    keep = docs.filter(pc.not_equal(docs["doc_id"], missing))
    extra = docs.filter(pc.equal(docs["doc_id"], dup)).set_column(
        docs.schema.get_field_index("source"), "source", pa.array(["second row"])
    )
    sf = _write_sf(tmp_path_factory.mktemp("odd"), pa.concat_tables([keep, extra]))
    return sf, missing, dup


def _joined(spark, sf, ranked):
    """The replaced metadata join: ``ranked`` broadcast and joined to a
    scan of documents."""
    docs = load_documents(spark, sf).selectExpr(
        "doc_id AS id", "source AS title", "lang AS vendor", "text AS description"
    )
    return F.broadcast(ranked).join(docs, "id", "inner")


def _canon(rows: list[dict]):
    """(ids and score reprs in order, every row as a sorted tuple): two
    rows of one id have no defined order between them."""
    seq = [(r["id"], repr(r["score"])) for r in rows]
    full = sorted(
        tuple((c, repr(v) if c == "score" else v) for c, v in r.items()) for r in rows
    )
    return seq, full


def _assert_same(got: list[dict], want: list[dict]):
    assert [list(r) for r in got] == [list(r) for r in want]
    assert _canon(got) == _canon(want)


def _ivf_engine(spark, sf, tmp_path_factory):
    embs = load_embeddings(spark, sf).selectExpr("vec_id AS id", "embedding")
    idx = ivf.build_ivf_index(
        spark, embs, str(tmp_path_factory.mktemp("ivf_meta") / "ivf"), n_clusters=4
    )
    return api.VectorSearchEngine(
        spark, sf, config=SearchConfig(index_enabled=True), index=idx
    )


def test_search_replies_equal_the_metadata_join(spark, qvec, odd, tmp_path_factory):
    """/search on the exact and the IVF engine: a top-k id without a
    documents row is dropped, a duplicated one gives two rows, and
    every reply keeps at most k rows (here the exact one keeps all of
    ``exact_search``'s rows: one id dropped, one doubled)."""
    sf, missing, dup = odd
    exact_eng = api.VectorSearchEngine(spark, sf)
    got, _ = exact_eng.search(qvec, k=K)
    want = [r.asDict() for r in exact_search(spark, sf, qvec, k=K).collect()]
    _assert_same(got, want)
    assert missing not in [r["id"] for r in got]
    assert "second row" in [r["title"] for r in got if r["id"] == dup]
    assert len(got) == K  # k ids, one dropped, one doubled

    ivf_eng = _ivf_engine(spark, sf, tmp_path_factory)
    for width in (1, 4):
        got, _ = ivf_eng.search(qvec, k=K, search_top_size=width)
        ranked = ivf_eng.search_df(qvec, k=K, search_top_size=width)
        want = [
            r.asDict()
            for r in _joined(spark, sf, ranked)
            .select("id", "title", "vendor", "description", "score")
            .orderBy(*_order_cols("CosineSimilarity"))
            .limit(K)
            .collect()
        ]
        _assert_same(got, want)
        assert len(got) <= K


def test_search_replies_hold_k_rows_when_an_id_has_two_documents(
    spark, qvec, tmp_path_factory
):
    """One top-k id with two documents rows and none missing: the exact
    and the IVF engine both reply with exactly k rows."""
    top = [r.id for r in exact_search(spark, SF_SMALL, qvec, k=K).collect()]
    docs = pq.read_table(f"{SF_SMALL}/documents.parquet")
    extra = docs.filter(pc.equal(docs["doc_id"], top[2]))
    sf = _write_sf(tmp_path_factory.mktemp("dup_only"), pa.concat_tables([docs, extra]))
    for engine in (api.VectorSearchEngine(spark, sf), _ivf_engine(spark, sf, tmp_path_factory)):
        got, _ = engine.search(qvec, k=K, search_top_size=4)
        assert [r["id"] for r in got] == top[:3] + top[2:4]


def test_hybrid_and_batch_replies_equal_the_metadata_join(
    spark, qvec, odd, tmp_path_factory
):
    sf, missing, dup = odd
    eng = api.VectorSearchEngine(spark, sf)
    got, _ = eng.search_hybrid(qvec, ["vector", "hash"], k=K)
    want = [
        r.asDict()
        for r in _joined(spark, sf, eng.search_hybrid_df(qvec, ["vector", "hash"], K))
        .select("id", "title", "vendor", "description", "score")
        .orderBy(F.desc("score"), F.asc("id"))
        .collect()
    ]
    _assert_same(got, want)

    embs = [
        [float(x) for x in r.embedding]
        for r in load_embeddings(spark, sf).orderBy("vec_id").limit(3).collect()
    ]
    for engine in (eng, _ivf_engine(spark, sf, tmp_path_factory)):
        got, _ = engine.search_batch(embs, k=K, search_top_size=2)
        if engine is eng:  # query 0 is qvec: its exact top-k holds both
            assert [r["id"] for r in got[0]].count(dup) == 2
            assert missing not in [r["id"] for r in got[0]]
        rows = (
            _joined(spark, sf, engine.search_batch_df(embs, K, 2))
            .select("query_id", "id", "title", "vendor", "description", "score", "rank")
            .collect()
        )
        for qi, reply in enumerate(got):
            want = sorted(
                (
                    {c: v for c, v in r.asDict().items() if c != "query_id"}
                    for r in rows
                    if r.query_id == qi
                ),
                key=lambda d: d["rank"],
            )
            _assert_same(reply, want)


def test_rewritten_documents_are_seen_by_the_next_search(spark, qvec, tmp_path):
    docs = pq.read_table(f"{SF_SMALL}/documents.parquet")
    sf = _write_sf(tmp_path / "sf", docs)
    eng = api.VectorSearchEngine(spark, sf)
    first, _ = eng.search(qvec, k=K)
    top = first[0]["id"]
    title = docs.column("source").to_pylist()
    ids = docs.column("doc_id").to_pylist()
    title[ids.index(top)] = "a title written after the first search"
    pq.write_table(
        docs.set_column(
            docs.schema.get_field_index("source"), "source", pa.array(title)
        ),
        f"{sf}/documents.parquet",
    )
    again, _ = eng.search(qvec, k=K)
    assert again[0]["id"] == top
    assert again[0]["title"] == "a title written after the first search"
    assert [r["id"] for r in again] == [r["id"] for r in first]


def test_first_searches_on_eight_threads_build_the_copy_once(
    spark, qvec, tmp_path, monkeypatch
):
    sf = _write_sf(tmp_path / "sf", pq.read_table(f"{SF_SMALL}/documents.parquet"))
    builds = []
    write = store._write_doc_metadata

    def counting(*a, **kw):
        builds.append(threading.get_ident())
        return write(*a, **kw)

    monkeypatch.setattr(store, "_write_doc_metadata", counting)
    eng = api.VectorSearchEngine(spark, sf)
    start = threading.Barrier(8)
    replies, errors = [], []

    def run():
        try:
            start.wait()
            replies.append(eng.search(qvec, k=K)[0])
        except Exception as e:  # noqa: BLE001 - collected for the assert
            errors.append(e)

    threads = [threading.Thread(target=run) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors[:3]
    assert len(builds) == 1
    assert len(replies) == 8 and all(r == replies[0] for r in replies)


def test_lookup_reads_one_row_group_per_id(spark, tmp_path, monkeypatch):
    """With 16-row row groups the copy has dozens of them; a lookup of
    a few ids reads at most one per distinct id, and returns exactly
    the documents rows of those ids."""
    docs = pq.read_table(f"{SF_SMALL}/documents.parquet")
    sf = _write_sf(tmp_path / "sf", docs)
    monkeypatch.setattr(store, "META_ROW_GROUP_ROWS", 16)
    store.doc_metadata(spark, sf, None, [0])  # builds the copy
    read = []
    orig = pq.ParquetFile.read_row_groups

    def counting(self, row_groups, *a, **kw):
        read.extend(row_groups)
        return orig(self, row_groups, *a, **kw)

    monkeypatch.setattr(pq.ParquetFile, "read_row_groups", counting)
    ((_, layout),) = [v for k, v in store._META.items() if k[0].startswith(sf)]
    assert len(layout.lo) >= docs.num_rows // 16
    all_ids = sorted(docs.column("doc_id").to_pylist())
    for ids in ([all_ids[0]], all_ids[100:103], all_ids[::97], [all_ids[-1], -1]):
        read.clear()
        got = store.doc_metadata(spark, sf, None, ids + ids)
        assert len(read) <= len(set(ids)), (ids, read)
        want: dict = {}
        for r in docs.to_pylist():
            if r["doc_id"] in ids:
                want.setdefault(r["doc_id"], []).append(
                    (r["source"], r["lang"], r["text"])
                )
        assert got == want


def test_lookup_honors_the_column_map(spark, tmp_path):
    """Configured physical names map onto title/vendor/description."""
    from ydb_vector_search_simple_api_spark.config import ColumnMap

    docs = pq.read_table(f"{SF_SMALL}/documents.parquet")
    sf = _write_sf(tmp_path / "sf", docs)
    cols = ColumnMap(title="lang", vendor="source", description="n_chars")
    r0 = docs.slice(0, 1).to_pylist()[0]
    got = store.doc_metadata(spark, sf, cols, [r0["doc_id"]])
    assert got == {r0["doc_id"]: [(r0["lang"], r0["source"], r0["n_chars"])]}


@pytest.mark.parametrize(
    "strategy",
    [
        "CosineSimilarity",
        "CosineDistance",
        "InnerProductSimilarity",
        "EuclideanDistance",
        "ManhattanDistance",
    ],
)
def test_exact_batch_matches_knn_join(spark, strategy):
    """An engine without an index serves /search_batch through the
    BLAS-blocked join: the ids of ``knn_join`` and its scores within
    1e-9. The queries are corpus vectors plus noise, so no distance is
    near zero (where the Euclidean BLAS expansion loses precision),
    and one vector of the wrong dimension, whose scores are all NULL."""
    embs = load_embeddings(spark, SF_SMALL).orderBy("vec_id").limit(4).collect()
    rng = np.random.default_rng(7)
    batch = [
        [float(x) + float(e) for x, e in zip(r.embedding, rng.normal(0, 0.05, len(r.embedding)))]
        for r in embs
    ] + [[1.0, 2.0]]
    eng = api.VectorSearchEngine(spark, SF_SMALL, config=SearchConfig(strategy=strategy))
    got = eng.search_batch_df(batch, K).collect()
    queries = spark.createDataFrame(
        list(enumerate(batch)), "query_id bigint, query_vec array<double>"
    )
    corpus = load_embeddings(spark, SF_SMALL).selectExpr("vec_id AS id", "embedding")
    want = knn_join(spark, queries, corpus, k=K, strategy=strategy).collect()
    key = lambda r: (r.query_id, r.rank)  # noqa: E731
    got, want = sorted(got, key=key), sorted(want, key=key)
    assert [(r.query_id, r.rank, r.id) for r in got] == [
        (r.query_id, r.rank, r.id) for r in want
    ]
    assert [r.score is None for r in got] == [r.query_id == 4 for r in want]
    assert [r.score for r in got if r.score is not None] == pytest.approx(
        [r.score for r in want if r.score is not None], abs=1e-9
    )
