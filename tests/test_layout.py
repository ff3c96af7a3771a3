"""The one maintenance path of the index layouts (operators/layout.py):
the append every upsert goes through, its Spark job counts, and the
guard that no other module appends into a layout or wires a stream."""

from __future__ import annotations

import ast
import pathlib

import pytest
from pyspark.sql import functions as F

import ydb_vector_search_simple_api_spark as pkg
from ydb_vector_search_simple_api_spark.operators import bq, pq, sq, tombstones
from ydb_vector_search_simple_api_spark.operators import index as ivf
from ydb_vector_search_simple_api_spark.operators.layout import codes_upsert
from ydb_vector_search_simple_api_spark.sources.store import load_embeddings

from conftest import SF_SMALL, spark_jobs

#: Spark jobs of one 50-row upsert into the layouts below: the
#: persist's materialization, the exchange-free stats aggregate and the
#: write; the tombstone set's rewrite adds five. The per-layout upserts
#: this append replaced took 3 and 9 (IVF) and 6 and 11 (PQ, SQ8, BQ:
#: a separate dimension check and count)
IVF_UPSERT_JOBS = 3
IVF_UPSERT_JOBS_WITH_TOMBSTONES = 8
CODES_UPSERT_JOBS = 3
CODES_UPSERT_JOBS_WITH_TOMBSTONES = 8


@pytest.fixture(scope="module")
def embs(spark):
    return load_embeddings(spark, SF_SMALL).select(
        F.col("vec_id").alias("id"), "embedding"
    )


def _batch(spark, embs, offset):
    rows = [
        (int(r.id) + offset, [float(x) for x in r.embedding])
        for r in embs.filter(F.col("id") < 50).collect()
    ]
    return spark.createDataFrame(rows, "id bigint, embedding array<float>")


def test_ivf_upsert_job_count(spark, embs, tmp_path):
    idx = ivf.build_ivf_index(
        spark, embs.filter(F.col("id") < 400), str(tmp_path / "ivf"), n_clusters=4
    )
    batch = _batch(spark, embs, 10_000)
    _, jobs = spark_jobs(spark, lambda: ivf.ivf_upsert(spark, idx, batch))
    assert jobs == IVF_UPSERT_JOBS
    tombstones.delete_ids(spark, idx.path, [1, 2, 3])
    batch = _batch(spark, embs, 20_000)
    _, jobs = spark_jobs(spark, lambda: ivf.ivf_upsert(spark, idx, batch))
    assert jobs == IVF_UPSERT_JOBS_WITH_TOMBSTONES


@pytest.mark.parametrize(
    "build",
    [
        lambda s, df, p: pq.build_pq_index(s, df, p, m=8, normalize=True),
        lambda s, df, p: sq.build_sq_index(s, df, p),
        lambda s, df, p: bq.build_bq_index(s, df, p),
    ],
    ids=["pq", "sq", "bq"],
)
def test_codes_upsert_job_count(spark, embs, tmp_path, build):
    idx = build(spark, embs.filter(F.col("id") < 400), str(tmp_path / "codes"))
    batch = _batch(spark, embs, 10_000)
    _, jobs = spark_jobs(spark, lambda: codes_upsert(spark, idx, batch))
    assert jobs == CODES_UPSERT_JOBS
    tombstones.delete_ids(spark, idx.path, [1, 2, 3])
    batch = _batch(spark, embs, 20_000)
    _, jobs = spark_jobs(spark, lambda: codes_upsert(spark, idx, batch))
    assert jobs == CODES_UPSERT_JOBS_WITH_TOMBSTONES


def test_ivf_upsert_routes_to_the_nearest_centroid(spark, embs, tmp_path):
    """Every appended row sits in the directory of its nearest centroid
    by L2 (ties to the lower cluster id), and the stats count them."""
    import numpy as np

    idx = ivf.build_ivf_index(
        spark, embs.filter(F.col("id") < 400), str(tmp_path / "ivf"), n_clusters=4
    )
    batch = _batch(spark, embs, 10_000)
    stats = ivf.ivf_upsert(spark, idx, batch)
    got = {
        r.id: r.cluster_id
        for r in ivf._read_clusters(spark, idx).filter(F.col("id") >= 10_000).collect()
    }
    want = {}
    for r in batch.collect():
        d2 = ((idx.centroids - np.asarray(r.embedding, dtype=np.float64)) ** 2).sum(axis=1)
        want[r.id] = int(d2.argmin())
    assert got == want
    assert stats["per_partition"] == {
        (c,): list(want.values()).count(c) for c in set(want.values())
    }


def _calls(tree: ast.AST) -> list[ast.Call]:
    return [n for n in ast.walk(tree) if isinstance(n, ast.Call)]


def _calls_outside(path: pathlib.Path, allowed: set[str], match) -> list[str]:
    """``<file>:<function>`` of each call ``match`` accepts that is not
    inside a function named in ``allowed``."""
    tree = ast.parse(path.read_text())
    inside = set()
    for fn in ast.walk(tree):
        if isinstance(fn, ast.FunctionDef) and fn.name in allowed:
            inside |= {id(c) for c in _calls(fn)}
    out = []
    for fn in ast.walk(tree):
        if isinstance(fn, ast.FunctionDef):
            out += [
                f"{path.name}:{fn.name}"
                for c in _calls(fn)
                if match(c) and id(c) not in inside
            ]
    return sorted(set(out))


def _is_append_write(c: ast.Call) -> bool:
    return (
        isinstance(c.func, ast.Attribute)
        and c.func.attr == "mode"
        and len(c.args) == 1
        and isinstance(c.args[0], ast.Constant)
        and c.args[0].value == "append"
    )


def _calls_attr(name: str):
    return lambda c: (
        isinstance(c.func, ast.Attribute) and c.func.attr == name
    ) or (isinstance(c.func, ast.Name) and c.func.id == name)


def test_only_the_append_helper_appends_into_a_layout():
    """No layout module resurrects ids or appends rows itself: the
    append goes through ``layout.append_batch`` (which resurrects) and
    ``layout.append_rows`` (the one ``mode("append")`` write)."""
    root = pathlib.Path(pkg.__file__).parent / "operators"
    modules = ["index", "tree", "pq", "opq", "sq", "bq", "graphann", "search", "layout"]
    resurrects, appends = [], []
    for name in modules:
        path = root / f"{name}.py"
        resurrects += _calls_outside(path, {"append_batch"}, _calls_attr("resurrect_ids"))
        appends += _calls_outside(path, {"append_rows"}, _is_append_write)
    assert resurrects == [] and appends == [], (resurrects, appends)


def test_only_stream_ingest_wires_an_index_stream():
    path = pathlib.Path(pkg.__file__).parent / "streaming" / "index_ingest.py"
    allowed = {"stream_ingest", "stream_lexical_ingest"}
    found = _calls_outside(path, allowed, _calls_attr("foreachBatch"))
    found += _calls_outside(
        path,
        allowed,
        lambda c: any(
            isinstance(n, ast.Attribute) and n.attr == "writeStream" for n in ast.walk(c)
        ),
    )
    assert found == [], found
