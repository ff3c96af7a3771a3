"""Recall@k vs beam width for the graph-ANN index — the measured
contract behind the fifth index shape's width knob (beam), the
analogue of ``tools/recall_curve.py``'s IVF width sweep.

Builds a fresh k-NN graph (m=8) over the embeddings table, takes the
first N stored vectors as a query-by-example batch, computes exact
top-k as ground truth (numpy full scores — ranking only, so BLAS
order is irrelevant), then sweeps the beam width — printing a
markdown table of mean recall@k and the mean visited-node fraction
(the cost knob: visited nodes ~ scored rows per query).

Usage: python tools/graphann_recall_curve.py [sf_dir] [n_queries] [k]
The sf0.1 output is recorded in README.md ("Recall vs beam").
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

M = 8
BEAMS = (8, 16, 32, 64, 128)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_queries = int(sys.argv[2]) if len(sys.argv) > 2 else 100
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 10

    import numpy as np
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from ydb_vector_search_simple_api_spark.operators import graphann as G
    from ydb_vector_search_simple_api_spark.sources.store import load_embeddings

    spark = (
        SparkSession.builder.master("local[16]")
        .appName("graphann-recall-curve")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    embs = load_embeddings(spark, sf_dir).select(
        F.col("vec_id").alias("id"), "embedding"
    )
    out = tempfile.mkdtemp(prefix="svs_gann_curve_")
    idx = G.build_knn_graph(spark, embs, out, m=M)
    graph = G._load_graph_numpy(spark, idx)
    ids, vecs, _, _ = graph
    n = len(ids)
    queries = vecs[:n_queries]

    print(f"\nGraph-ANN recall@{k} vs beam — {n:,} vectors, m={M}, "
          f"{len(queries)} query-by-example probes ({sf_dir})\n")
    print("| beam | mean recall@k | mean visited fraction |")
    print("|---|---|---|")
    for beam in BEAMS + (None,):
        recalls, fracs = [], []
        for q in queries:
            sims = G._np_scores("CosineSimilarity", vecs, q)
            exact = set(ids[np.argsort(-sims)[:k]])
            cand, visited = G._beam_search_driver(
                graph, idx, q.tolist(), "CosineSimilarity", beam
            )
            got = set(ids[np.argsort(-sims[np.searchsorted(ids, sorted(cand))])[:0]])
            # rank the beam's candidates by true similarity, take k
            cand_arr = np.searchsorted(ids, np.asarray(sorted(cand)))
            order = np.argsort(-sims[cand_arr])[:k]
            got = set(ids[cand_arr[order]])
            recalls.append(len(got & exact) / k)
            fracs.append(visited / n)
        label = "full" if beam is None else str(beam)
        print(f"| {label} | {np.mean(recalls):.3f} | {np.mean(fracs):.3f} |")
    spark.stop()


if __name__ == "__main__":
    main()
