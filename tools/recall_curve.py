"""Recall@k vs search width: the measured contract behind the
reference's ``KMeansTreeSearchTopSize`` knob (its UI exposes width
1..1000, ``templates/index.html:300-308``).

Builds a fresh IVF index (16 clusters) over the embeddings table,
takes the first N stored vectors as a query-by-example batch, computes
exact top-k via ``knn_join`` as ground truth, then sweeps
``ivf_knn_join_distributed`` over widths — printing a markdown table
of mean recall@k and the scanned-cluster fraction (the cost knob).

Usage: python tools/recall_curve.py [sf_dir] [n_queries] [k]
The sf0.1 output is recorded in README.md ("Recall vs width").
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_CLUSTERS = 16
WIDTHS = (1, 2, 3, 4, 6, 8, 12, 16)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_queries = int(sys.argv[2]) if len(sys.argv) > 2 else 100
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 10

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from ydb_vector_search_simple_api_spark.operators import index as ivf
    from ydb_vector_search_simple_api_spark.operators.search import knn_join
    from ydb_vector_search_simple_api_spark.sources.store import load_embeddings

    spark = (
        SparkSession.builder.master("local[16]")
        .appName("recall-curve")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    embs = load_embeddings(spark, sf_dir).select(
        F.col("vec_id").alias("id"), "embedding"
    )
    idx = ivf.build_ivf_index(
        spark, embs, tempfile.mkdtemp(prefix="svs_recall_ivf_"),
        n_clusters=N_CLUSTERS, seed=42,
    )
    queries = embs.filter(F.col("id") < n_queries).select(
        F.col("id").alias("query_id"), F.col("embedding").alias("query_vec")
    )

    truth: dict[int, set] = {}
    for r in knn_join(spark, queries, embs, k=k).collect():
        truth.setdefault(r.query_id, set()).add(r.id)
    denom = sum(len(t) for t in truth.values())

    print(f"sf_dir={sf_dir}  n_queries={n_queries}  k={k}  clusters={N_CLUSTERS}\n")
    print("| width | clusters scanned | recall@{} |".format(k))
    print("|---|---|---|")
    for width in WIDTHS:
        got: dict[int, set] = {}
        rows = ivf.ivf_knn_join_distributed(
            spark, idx, queries, k=k, search_top_size=width
        ).collect()
        for r in rows:
            got.setdefault(r.query_id, set()).add(r.id)
        hit = sum(len(got.get(q, set()) & t) for q, t in truth.items())
        print(
            f"| {width} | {width}/{N_CLUSTERS} ({width / N_CLUSTERS:.0%}) "
            f"| {hit / denom:.3f} |"
        )

    # PQ compressed-domain batch join: recall of the pure ADC estimate
    # at several code budgets (m bytes/vector; fp32 baseline = 4*dim)
    from ydb_vector_search_simple_api_spark.operators import pq as pq_mod

    dim = len(embs.select("embedding").head().embedding)
    print(f"\n| PQ m (bytes/vec) | compression | ADC recall@{k} |")
    print("|---|---|---|")
    for m in (4, 8, 16):
        pqi = pq_mod.build_pq_index(
            spark, embs, tempfile.mkdtemp(prefix=f"svs_recall_pq{m}_"),
            m=m, nbits=8, normalize=True,
        )
        got = {}
        for r in pq_mod.pq_knn_join(spark, pqi, queries, k=k).collect():
            got.setdefault(r.query_id, set()).add(r.id)
        hit = sum(len(got.get(q, set()) & t) for q, t in truth.items())
        print(f"| {m} | {4 * dim / m:.0f}x | {hit / denom:.3f} |")
    spark.stop()


if __name__ == "__main__":
    main()
