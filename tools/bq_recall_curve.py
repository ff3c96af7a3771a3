"""Recall@k vs BQ Hamming shortlist: the measured contract behind the
sign-bit pre-filter (README "Binary quantization" table).

Builds the bits table over the embeddings, takes N stored vectors as
query-by-example, computes exact top-k via ``knn_join`` as ground
truth, then sweeps ``bq_knn_join`` over shortlist sizes — printing a
markdown table of mean recall@k and the rerank-join fraction (the
cost knob: shortlist rows reach the full-precision rerank).

Usage: python tools/bq_recall_curve.py [sf_dir] [n_queries] [k]
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SHORTLISTS = (32, 64, 128, 256, 512, 1024, 2048)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_queries = int(sys.argv[2]) if len(sys.argv) > 2 else 50
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 10

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from ydb_vector_search_simple_api_spark.operators import bq
    from ydb_vector_search_simple_api_spark.operators.search import knn_join
    from ydb_vector_search_simple_api_spark.sources.store import load_embeddings

    spark = (
        SparkSession.builder.master("local[16]")
        .appName("bq-recall-curve")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    embs = load_embeddings(spark, sf_dir).select(
        F.col("vec_id").alias("id"), "embedding"
    )
    n_rows = embs.count()
    idx = bq.build_bq_index(spark, embs, tempfile.mkdtemp(prefix="bq_curve_"))
    queries = embs.filter(F.col("id") < n_queries).selectExpr(
        "id AS query_id", "embedding AS query_vec"
    )
    exact = {}
    for r in knn_join(spark, queries, embs, k=k).collect():
        exact.setdefault(r.query_id, set()).add(r.id)

    print(f"| Hamming shortlist | % of corpus (n={n_rows}) | recall@{k} after rerank |")
    print("|---|---|---|")
    for s in [x for x in SHORTLISTS if x <= n_rows] + [n_rows]:
        got = bq.bq_knn_join(spark, idx, embs, queries, k=k, shortlist=s).collect()
        hit = sum(1 for r in got if r.id in exact[r.query_id])
        rec = hit / (k * n_queries)
        print(f"| {s} | {100.0 * s / n_rows:.1f}% | {rec:.3f} |")


if __name__ == "__main__":
    main()
