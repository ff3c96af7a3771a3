"""Measured scale evidence for the graph-ANN index (SCALING.md):
amplify the sf0.1 embeddings to N rows, build the k-NN graph with the
CORPUS-SCALE bootstrap (multi-probe cluster-local kNN — no driver
collect, no all-pairs), then measure serving against brute force:

* exact brute-force scan (baseline)
* graphann driver-replay beam search at beam 128/512/2048 (+ recall@10)
* graphann distributed frontier loop (forced via small_graph_max=0)
  at beam 512 — the >2M-row serving engine, validated here below the
  cutover so both engines' costs are visible side by side

Build wall is reported per stage (IVF routing index, bootstrap
edges + NN-descent, adjacency write). Query times are best-of-3
after a warmup; recall is mean over ``n_queries`` probe queries.

Usage: python tools/graphann_scale_probe.py [n_rows] [sf_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def timed(fn, runs: int = 3) -> float:
    fn()
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def main():
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    n_queries = 16

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from ydb_vector_search_simple_api_spark.functions.distance import score_expr
    from ydb_vector_search_simple_api_spark.operators import graphann as G
    from ydb_vector_search_simple_api_spark.operators import index as ivf_mod
    from ydb_vector_search_simple_api_spark.operators.search import _order_cols
    from ydb_vector_search_simple_api_spark.sources.store import load_embeddings

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("graphann-scale-probe")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "24g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    base = load_embeddings(spark, sf_dir).select(
        F.col("vec_id").alias("id"), "embedding"
    )
    n_base = base.count()
    reps = (n_rows + n_base - 1) // n_base
    replicas = spark.range(reps).select(F.col("id").alias("rep"))
    big = (
        base.crossJoin(replicas)
        .select(
            (F.col("id") + F.col("rep") * n_base).alias("id"),
            F.concat(
                F.slice(F.col("embedding"), (F.col("rep") % 64) + 1, 64),
                F.slice(F.col("embedding"), 1, F.col("rep") % 64),
            ).alias("embedding"),
        )
        .filter(F.col("id") < n_rows)
    )
    work = tempfile.mkdtemp(prefix="svs_gann_probe_")
    big.repartition(32).write.mode("overwrite").parquet(f"{work}/embeddings")
    big = spark.read.parquet(f"{work}/embeddings")
    n = big.count()
    print(f"corpus: {n} rows, dim 64", file=sys.stderr)

    qrows = big.filter(F.col("id") < n_queries).collect()
    queries = {int(r.id): [float(x) for x in r.embedding] for r in qrows}

    def brute(qv):
        score = score_expr("CosineSimilarity", "embedding", qv)
        return (
            big.withColumn("score", score)
            .select("id", "score")
            .orderBy(*_order_cols("CosineSimilarity"))
            .limit(10)
            .collect()
        )

    exact_ids = {qid: {r.id for r in brute(qv)} for qid, qv in queries.items()}
    q0 = queries[0]
    t_brute = timed(lambda: brute(q0))

    results: list[tuple[str, float, str]] = []
    results.append(
        ("exact brute-force scan", t_brute, "full scan, codegen score")
    )

    # ---- build
    n_clusters = max(16, n // 4096)
    t0 = time.perf_counter()
    ivf = ivf_mod.build_ivf_index(
        spark, big, f"{work}/ivf", n_clusters=n_clusters,
        fit_sample_rows=min(n, 100_000),
    )
    t_ivf = time.perf_counter() - t0
    t0 = time.perf_counter()
    edges = G.clustered_bootstrap_edges(spark, ivf, m=8, probes=2)
    seeds = G.cluster_representatives(spark, ivf)
    # refine_iters=0: NN-descent converges the edges toward the TRUE
    # kNN graph, which on weak-gradient data REMOVES the diverse
    # cross-cluster links navigation depends on (measured at 250k:
    # recall@10/beam512 0.80 with the raw multi-probe bootstrap vs
    # 0.41 after one descent round, at +215 s build)
    idx = G.build_knn_graph(
        spark, big, f"{work}/gann", m=8, knn_pairs=edges, refine_iters=0,
        seed_nodes=seeds,
    )
    t_graph = time.perf_counter() - t0
    print(
        f"build: ivf(k={n_clusters}) {t_ivf:.1f}s, "
        f"bootstrap+descent+write {t_graph:.1f}s",
        file=sys.stderr,
    )

    # ---- serve: driver replay at several beams
    for beam in (128, 512, 2048):
        def serve(qv, b=beam):
            return G.graphann_search(
                spark, idx, big, qv, k=10, beam=b, round_digits=6
            ).collect()

        rec = sum(
            len({r.id for r in serve(qv)} & exact_ids[qid]) / 10.0
            for qid, qv in queries.items()
        ) / len(queries)
        t = timed(lambda: serve(q0))
        results.append(
            (
                f"graphann beam={beam} (driver replay)",
                t,
                f"recall@10 {rec:.2f}",
            )
        )

    # ---- serve: distributed frontier loop (the >2M engine), beam 512
    def serve_dist(qv):
        return G.graphann_search(
            spark, idx, big, qv, k=10, beam=512, round_digits=6,
            small_graph_max=0,
        ).collect()

    rec_d = sum(
        len({r.id for r in serve_dist(qv)} & exact_ids[qid]) / 10.0
        for qid, qv in queries.items()
    ) / len(queries)
    t_d = timed(lambda: serve_dist(q0))
    results.append(
        (
            "graphann beam=512 (distributed frontier)",
            t_d,
            f"recall@10 {rec_d:.2f}",
        )
    )

    print(f"\n| path ({n} rows) | best-of-3 (s) | notes |")
    print("|---|---|---|")
    for name, t, note in results:
        print(f"| {name} | {t:.3f} | {note} |")
    print(
        f"\nbuild: ivf(k={n_clusters}) {t_ivf:.1f}s + "
        f"bootstrap/descent/write {t_graph:.1f}s"
    )


if __name__ == "__main__":
    main()
