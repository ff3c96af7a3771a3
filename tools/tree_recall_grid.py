"""Per-level recall grid for the two-level k-means tree index: the
measured contract behind YDB's hierarchical ``KMeansTreeSearchTopSize``
knob applied PER LEVEL (``operators/tree.py``; reference
``app.py:186-191``).

Builds a fresh tree (n_l1 x fanout) over the embeddings table, takes
the first N stored vectors as a query-by-example batch, computes exact
top-k via ``knn_join`` as ground truth, then sweeps the (w1, w2) grid
through ``tree_knn_join_distributed`` — printing a markdown matrix of
mean recall@k (rows = level-1 width, columns = level-2 width) plus the
leaf fraction each cell reads.

Usage: python tools/tree_recall_grid.py [sf_dir] [n_queries] [k]
The sf0.1 output is recorded in README.md ("Tree recall grid").
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_L1 = 4
FANOUT = 4
W1_GRID = (1, 2, 3, 4)
W2_GRID = (1, 2, 4, 8, 16)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_queries = int(sys.argv[2]) if len(sys.argv) > 2 else 100
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 10

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from ydb_vector_search_simple_api_spark.operators import tree as kmt
    from ydb_vector_search_simple_api_spark.operators.search import knn_join
    from ydb_vector_search_simple_api_spark.sources.store import load_embeddings

    spark = (
        SparkSession.builder.master("local[16]")
        .appName("tree-recall-grid")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    embs = load_embeddings(spark, sf_dir).select(
        F.col("vec_id").alias("id"), "embedding"
    )
    idx = kmt.build_kmeans_tree(
        spark, embs, tempfile.mkdtemp(prefix="svs_recall_tree_"),
        n_l1=N_L1, fanout=FANOUT, seed=42,
    )
    queries = embs.filter(F.col("id") < n_queries).select(
        F.col("id").alias("query_id"), F.col("embedding").alias("query_vec")
    )

    truth: dict[int, set] = {}
    for r in knn_join(spark, queries, embs, k=k).collect():
        truth.setdefault(r.query_id, set()).add(r.id)
    denom = sum(len(t) for t in truth.values())
    n_leaves = idx.n_leaves

    print(
        f"sf_dir={sf_dir}  n_queries={n_queries}  k={k}  "
        f"tree={N_L1}x{FANOUT} ({n_leaves} leaves)\n"
    )
    header = " | ".join(f"w2={w2}" for w2 in W2_GRID)
    print(f"| w1 \\ w2 | {header} |")
    print("|---" * (len(W2_GRID) + 1) + "|")
    for w1 in W1_GRID:
        cells = []
        for w2 in W2_GRID:
            got: dict[int, set] = {}
            rows = kmt.tree_knn_join_distributed(
                spark, idx, queries, k=k, top_l1=w1, top_l2=w2
            ).collect()
            for r in rows:
                got.setdefault(r.query_id, set()).add(r.id)
            hit = sum(len(got.get(q, set()) & t) for q, t in truth.items())
            # leaves actually readable at (w1, w2): at most w2, and at
            # most the leaves under the w1 opened cells
            max_leaves = min(w2, w1 * FANOUT)
            cells.append(f"{hit / denom:.3f} ({max_leaves}/{n_leaves})")
        print(f"| {w1} | " + " | ".join(cells) + " |")
    print(
        "\ncell = mean recall@{} (max leaves read / total leaves)".format(k)
    )
    spark.stop()


if __name__ == "__main__":
    main()
