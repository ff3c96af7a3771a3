"""Serving-path stress probe: amplify documents+embeddings 10-500x and
measure the flagship SERVING paths at a scale where the sf0.1 suite's
sub-second times stop differentiating plans — in particular the
post-top-k metadata join, whose broadcast BUILD side is the round-4
fix (broadcast the k rows, stream the corpus).

The amplified tables are written as a testdata-shaped directory
(documents.parquet + embeddings.parquet), so every production loader
and the engine run on it UNCHANGED. Replica r shifts ids by
r * n_base_docs in BOTH tables (doc_id<->vec_id alignment preserved)
and rotates each embedding by r positions so vectors are distinct.

Measured:
  * exact top-k end-to-end (scan -> codegen score -> TakeOrdered ->
    metadata join), FIXED build side (broadcast top-k)
  * the same query with the round-3 bug re-created inline
    (broadcast(docs) — the corpus on the wire) for before/after
  * filtered top-k end-to-end
  * engine-served IVF at width 1/4/full (index + metadata point read)
  * HTTP ``POST /search`` on the IVF engine (k=10, width 10) under
    closed-loop load from 1, 8 and 32 client threads: q/s, p50/p99
    latency and Spark jobs per request. Each request runs under its
    own job group, counted through the status tracker, so a change
    in the per-request job count shows without an event log.
  * routed-blocked batch ANN join, 256 queries

Usage: python tools/serve_probe.py [reps] [sf_dir] [seconds]
  reps=200 (default) => 1M docs / 400k vectors from sf0.1;
  seconds=10 (default) is the load window per concurrency level.
Output: markdown tables (recorded in SCALING.md / README).
"""

from __future__ import annotations

import itertools
import json
import os
import sys
import tempfile
import threading
import time
import urllib.request

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def timed(fn, runs: int = 3) -> float:
    fn()
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def count_jobs_per_request(engine) -> list[str]:
    """Run each ``engine.search`` under a job group of its own; returns
    the list the groups are appended to (see :func:`jobs_in`)."""
    sc = engine.spark.sparkContext
    search, seq, groups = engine.search, itertools.count(), []

    def wrapped(*a, **kw):
        group = f"serve-probe-{next(seq)}"
        sc.setJobGroup(group, group)
        try:
            return search(*a, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            groups.append(group)

    engine.search = wrapped
    return groups


def jobs_in(spark, groups: list[str]) -> list[int]:
    """Jobs each group launched; the status tracker is fed by the
    listener bus, so the bus is drained first."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return [len(sc.statusTracker().getJobIdsForGroup(g)) for g in groups]


def load(port: int, queries: list, clients: int, seconds: float) -> tuple[float, list[float]]:
    """``clients`` closed-loop threads POST /search for ``seconds``
    after one warm-up request each. Returns (q/s, latencies in s) of
    the requests sent in the window; q/s counts them over the span
    until the last one returned."""
    lat: list[float] = []
    done = [0.0]
    lock = threading.Lock()
    start = threading.Barrier(clients + 1)
    end = [float("inf")]

    def post(q):
        body = json.dumps(
            {"embedding": q, "k": 10, "index_tree_search_top_size": 10}
        ).encode()
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/search",
            data=body,
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=600) as r:
            assert r.status == 200 and json.loads(r.read())["count"] == 10

    def client(c):
        post(queries[c % len(queries)])
        start.wait()
        for i in itertools.count(1):
            t0 = time.perf_counter()
            if t0 >= end[0]:
                return
            post(queries[(c + i * clients) % len(queries)])
            t1 = time.perf_counter()
            with lock:
                lat.append(t1 - t0)
                done[0] = max(done[0], t1)

    threads = [threading.Thread(target=client, args=(c,)) for c in range(clients)]
    for t in threads:
        t.start()
    start.wait()
    t_start = time.perf_counter()
    end[0] = t_start + seconds
    for t in threads:
        t.join()
    return len(lat) / (done[0] - t_start), lat


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 200
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    seconds = float(sys.argv[3]) if len(sys.argv) > 3 else 10.0

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from ydb_vector_search_simple_api_spark import api
    from ydb_vector_search_simple_api_spark.config import SearchConfig
    from ydb_vector_search_simple_api_spark.operators import index as ivf_mod
    from ydb_vector_search_simple_api_spark.operators.search import (
        _order_cols,
        exact_search,
    )
    from ydb_vector_search_simple_api_spark.functions.distance import score_expr
    from ydb_vector_search_simple_api_spark.sources.store import (
        load_documents,
        load_embeddings,
    )

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("serve-probe")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "24g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    docs0 = load_documents(spark, sf_dir)
    embs0 = load_embeddings(spark, sf_dir)
    n_docs0 = docs0.count()
    dim = len(embs0.first().embedding)

    work = tempfile.mkdtemp(prefix="svs_serve_probe_")
    rep = spark.range(reps).select(F.col("id").alias("rep"))
    (
        docs0.crossJoin(rep)
        .select(
            (F.col("doc_id") + F.col("rep") * n_docs0).alias("doc_id"),
            "text",
            "lang",
            "source",
            "n_chars",
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(f"{work}/documents.parquet")
    )
    (
        embs0.crossJoin(rep)
        .select(
            (F.col("vec_id") + F.col("rep") * n_docs0).alias("vec_id"),
            F.concat(
                F.slice(F.col("embedding"), (F.col("rep") % dim) + 1, dim),
                F.slice(F.col("embedding"), 1, F.col("rep") % dim),
            ).alias("embedding"),
            "label",
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(f"{work}/embeddings.parquet")
    )
    n_docs = load_documents(spark, work).count()
    n_vecs = load_embeddings(spark, work).count()
    qvec = [
        float(x)
        for x in load_embeddings(spark, work).filter(F.col("vec_id") == 0).first().embedding
    ]
    print(
        f"amplified corpus: {n_docs} docs / {n_vecs} vectors, dim {dim} "
        f"({reps}x {sf_dir})",
        file=sys.stderr,
    )

    rows: list[tuple[str, float, str]] = []

    # end-to-end exact serving query, FIXED metadata join
    rows.append(
        (
            "exact top-k end-to-end (broadcast top-k — fixed)",
            timed(lambda: exact_search(spark, work, qvec, k=10).collect()),
            "scan -> codegen score -> TakeOrdered -> k-row broadcast",
        )
    )

    # the round-3 bug, re-created inline: broadcast the CORPUS side
    def old_join():
        embs = load_embeddings(spark, work).select(
            F.col("vec_id").alias("id"), "embedding"
        )
        docs = load_documents(spark, work).select(
            F.col("doc_id").alias("id"),
            F.col("source").alias("title"),
            F.col("lang").alias("vendor"),
            F.col("text").alias("description"),
        )
        topk = (
            embs.withColumn(
                "score", score_expr("CosineSimilarity", "embedding", qvec)
            )
            .select("id", "score")
            .orderBy(*_order_cols("CosineSimilarity"))
            .limit(10)
        )
        return (
            topk.join(F.broadcast(docs), "id", "inner")
            .select("id", "title", "vendor", "description", "score")
            .orderBy(*_order_cols("CosineSimilarity"))
            .collect()
        )

    try:
        rows.append(
            (
                "exact top-k end-to-end (broadcast DOCS — the r3 bug)",
                timed(old_join, runs=1),
                f"ships all {n_docs} metadata rows to every task",
            )
        )
    except Exception as e:  # the bug's honest failure mode at scale
        rows.append(
            (
                "exact top-k end-to-end (broadcast DOCS — the r3 bug)",
                float("nan"),
                f"FAILED: {type(e).__name__}: {str(e)[:80]}",
            )
        )

    rows.append(
        (
            "filtered top-k end-to-end (vendor=fr)",
            timed(
                lambda: exact_search(
                    spark, work, qvec, k=10, filter={"vendor": "fr"}
                ).collect()
            ),
            "pushed filter -> id semi-join -> score -> TakeOrdered",
        )
    )

    n_clusters = 64
    t0 = time.perf_counter()
    idx = ivf_mod.build_ivf_index(
        spark,
        load_embeddings(spark, work).select(F.col("vec_id").alias("id"), "embedding"),
        f"{work}/ivf",
        n_clusters=n_clusters,
        seed=42,
        fit_sample_rows=16_384,
    )
    t_build = time.perf_counter() - t0
    eng = api.VectorSearchEngine(
        spark, work, config=SearchConfig(index_enabled=True), index=idx
    )
    for width in (1, 4, n_clusters):
        rows.append(
            (
                f"engine IVF serve width={width}/{n_clusters}",
                timed(lambda w=width: eng.search(qvec, 10, None, w)),
                "cluster-pruned scan + k-id metadata point read",
            )
        )

    from ydb_vector_search_simple_api_spark import http_server

    pool = [
        [float(x) for x in r.embedding]
        for r in load_embeddings(spark, work).filter(F.col("vec_id") < 256).collect()
    ]
    groups = count_jobs_per_request(eng)
    server = http_server.serve(eng, "127.0.0.1", 0)
    server.daemon_threads = True
    threading.Thread(target=server.serve_forever, daemon=True).start()
    load_rows = []
    for clients in (1, 8, 32):
        qps, lat = load(server.server_address[1], pool, clients, seconds)
        jobs = jobs_in(spark, groups)
        groups.clear()
        ms = np.asarray(lat) * 1000.0
        load_rows.append(
            (
                clients,
                len(lat),
                qps,
                float(np.percentile(ms, 50)),
                float(np.percentile(ms, 99)),
                float(np.mean(jobs)),
            )
        )
    server.shutdown()
    server.server_close()

    n_q = 256
    queries = (
        load_embeddings(spark, work)
        .filter(F.col("vec_id") < n_q)
        .selectExpr("vec_id AS query_id", "embedding AS query_vec")
    )
    queries.persist().count()
    t_batch = timed(
        lambda: ivf_mod.ivf_knn_join_routed_blocked(
            spark, idx, queries, k=10, search_top_size=4
        ).collect(),
        runs=1,
    )

    print(f"\nserving paths at {n_docs} docs / {n_vecs} vectors (k=10, best-of-3):\n")
    print("| path | wall | notes |")
    print("|---|---|---|")
    for name, t, note in rows:
        cell = f"{t:.2f} s" if t == t else "—"
        print(f"| {name} | {cell} | {note} |")
    print(
        f"| routed-blocked batch join, {n_q} queries width=4 | {t_batch:.2f} s "
        f"({n_q / t_batch:.0f} q/s) | pruned dirs x BLAS blocks |"
    )
    print(f"\nivf build (16k-row fit sample): {t_build:.1f} s")
    print(
        f"\nHTTP POST /search, IVF {n_clusters} clusters, k=10 width=10, "
        f"{seconds:.0f} s closed-loop window per level:\n"
    )
    print("| clients | requests | q/s | p50 | p99 | Spark jobs/request |")
    print("|---|---|---|---|---|---|")
    for clients, n, qps, p50, p99, jobs in load_rows:
        print(
            f"| {clients} | {n} | {qps:.2f} | {p50:.0f} ms | {p99:.0f} ms | {jobs:.2f} |"
        )


if __name__ == "__main__":
    main()
