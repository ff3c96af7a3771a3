"""Graph-based ANN: k-NN-graph index + beam search — the fifth index
shape (after flat IVF, the YDB-shaped k-means tree, PQ/IVFADC and the
BQ/SQ compressed-code tables).

Not in the reference (YDB ships only ``vector_kmeans_tree``,
``env.example:19-22``); this is the family dominating public ANN
practice at high recall / low latency (HNSW, NSG, DiskANN's Vamana —
all navigable proximity graphs searched by greedy beam expansion).
Spark-first decomposition:

* **Build** (offline): the k-NN graph IS a batch kNN self-join — the
  engine already has exact-blocked (``search.knn_join_blocked``, one
  broadcast + map-side BLAS top-k) and IVF-routed
  (``index.ivf_knn_join_routed_blocked``, measured 25x at 4M rows)
  forms, so graph construction reuses the most scale-proven operators
  in the repo instead of a bespoke NN-descent. Optional NN-descent
  refinement rounds (neighbors-of-neighbors re-ranking — Dong et
  al.'11) exist for poor bootstraps, but default OFF and measured
  counter-productive on weak-gradient data (see ``_nn_descent_round``:
  exact-er edges are less navigable edges).
* **Connectivity augmentation**: beam search can only reach what the
  graph connects, so the build resolves weakly-connected components
  (``curation.connected_components`` — count-gated driver union-find
  with a distributed fallback) and links every non-root component's
  min-id node to the global min-id root, bidirectionally. Full-beam
  search therefore provably visits EVERY node — the property the
  oracle gate checks at query time (``visited == n_rows`` assertion).
* **Search**: best-first beam expansion. The adjacency table is
  (id, embedding, neighbors) — one row per node, written
  range-partitioned and sorted by id so per-hop id-lookups prune to
  row-groups. Two equivalent engines (established small-graph
  precedent — ``connected_components`` / ``pagerank``):

  - *driver replay* (default below ``small_graph_max`` rows): the
    adjacency is loaded ONCE per session into numpy (pure function of
    the persisted files — a session memo keyed by their listing)
    and each query beam-searches in-process. Traversal only picks the
    CANDIDATE set; final scores always come from the shared JVM
    ``score_expr`` re-rank, so float parity is untouched.
  - *distributed frontier loop*: each hop filters the adjacency table
    by the frontier ids (row-group-pruned scan), explodes neighbor
    lists, scores JVM-side, and the driver merges a beam-bounded
    result; per-hop driver traffic is <= beam x m ids — the bounded
    k-row/centroid collect contract, never corpus-sized.

At 100 TB the graph build is exactly one routed-blocked kNN join plus
a components pass; serving reads O(beam x m) adjacency rows per query
from an id-sorted store. The beam width is the recall/latency knob
(monotone, exact at full beam — the O3 width contract shared by all
five index shapes).
"""

from __future__ import annotations

import dataclasses
import json
import os
from collections.abc import Sequence
from dataclasses import dataclass
from typing import ClassVar

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..artifacts import session_memo
from ..config import validate_strategy
from ..functions.distance import score_expr
from .index import _read_clusters
from .layout import append_batch, append_rows, count_appended, write_meta
from .search import rank_topk


@dataclass(frozen=True)
class GraphAnnIndex:
    path: str
    dim: int
    n_rows: int
    m: int  # neighbors kept per node
    entry_point: int  # global min-id root (connectivity anchor)
    medoid: int  # id nearest the corpus mean — the search seed
    id_col: str = "id"
    vec_col: str = "embedding"
    # navigation layer: per-cluster representative node ids + their
    # vectors (the flat-graph stand-in for HNSW's upper layers / NSG's
    # navigating node). A pure kNN graph has only SHORT edges, so
    # best-first search from one entry stalls in the wrong Voronoi
    # region once the corpus outgrows a few thousand nodes (measured:
    # recall@10 0.04 at 500k rows from {medoid, entry} alone vs 0.97
    # at 6k). At query time the driver scores the query against
    # ``seed_vecs`` (n_clusters × dim floats — centroid-sized, the
    # same driver-residency contract as IVF centroids) and enters the
    # graph from the top ``N_ENTRY_SEEDS`` representatives only:
    # routing picks the right region WITHOUT flooding the beam with
    # one candidate per cluster (seeds-as-beam-members measured 0.30
    # recall@10/beam=16 at 100k — the far-cluster seeds crowd out the
    # true neighborhood). Empty tuples = legacy two-seed behavior.
    seeds: tuple = ()
    seed_vecs: tuple = ()

    meta_file: ClassVar[str] = "_graphann_meta.json"
    partition_cols: ClassVar[tuple[str, ...]] = ()


def build_knn_graph(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    m: int = 8,
    id_col: str = "id",
    vec_col: str = "embedding",
    strategy: str = "CosineSimilarity",
    refine_iters: int = 0,
    knn_pairs: DataFrame | None = None,
    seed_nodes=None,
) -> GraphAnnIndex:
    """Offline build: kNN self-join -> per-node m-neighbor adjacency ->
    connectivity augmentation -> persisted (id, embedding, neighbors)
    table + meta. ``knn_pairs`` lets a caller supply approximate
    bootstrap edges (e.g. ``clustered_bootstrap_edges`` output with
    columns query_id/id) for corpora where the exact blocked join is
    too big; ``refine_iters`` then runs NN-descent rounds (candidates =
    neighbors-of-neighbors, re-scored exactly, top-m kept) to repair
    bootstrap recall. ``seed_nodes`` (id iterable — one representative
    per k-means cluster via :func:`cluster_representatives`) persists
    navigation seeds into the meta; see ``GraphAnnIndex.seeds`` for
    why a flat kNN graph needs them past a few thousand nodes."""
    from .search import knn_join_blocked

    validate_strategy(strategy)
    if m < 1:
        raise ValueError("m must be a positive integer")
    src = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("embedding"))

    if knn_pairs is None:
        # exact bootstrap: blocked BLAS self-join, k = m+1 (self rides
        # along at rank 1 and is dropped)
        pairs = knn_join_blocked(
            spark,
            src.select(
                F.col("id").alias("query_id"), F.col("embedding").alias("query_vec")
            ),
            src,
            k=m + 1,
            strategy=strategy,
        ).filter(F.col("query_id") != F.col("id"))
    else:
        pairs = knn_pairs.select("query_id", "id").filter(
            F.col("query_id") != F.col("id")
        )
    edges = pairs.select(
        F.col("query_id").alias("src"), F.col("id").alias("dst")
    ).distinct()
    # materialize the bootstrap ONCE: everything below reads `edges`
    # repeatedly (the symmetrize union twice, the components fixpoint
    # per round, the adjacency fold) and a blocked/clustered kNN plan
    # re-EXECUTES per reference without a barrier — measured at 250k
    # rows: 117.8 s -> 73.4 s for the refine_iters=0 build (the 44 s
    # edge plan was re-running). The decontaminate_bloom precedent.
    edges = edges.localCheckpoint(eager=True)

    for _ in range(max(0, int(refine_iters))):
        edges = _nn_descent_round(src, edges, m=m, strategy=strategy)

    # symmetrize: beam search traverses the stored adjacency, and a
    # weakly-connected DIRECTED kNN graph need not be strongly
    # connected — the undirected graph (HNSW keeps bidirectional links
    # for the same reason) makes weak connectivity == reachability,
    # which the full-beam visited==n_rows assertion depends on. Degree
    # grows to <= 2m.
    edges = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().localCheckpoint(eager=True)

    # ---- connectivity: link every stray component to the global root
    from .curation import connected_components

    comp = connected_components(edges, id_a="src", id_b="dst")
    # every node is in `edges` (each has m out-neighbors), so comp
    # covers all nodes; component_id = min reachable id
    roots = comp.select("component_id").distinct()
    global_root = roots.agg(F.min("component_id").alias("r")).head().r
    extra = (
        roots.filter(F.col("component_id") != F.lit(global_root))
        .select(
            F.col("component_id").alias("src"),
            F.lit(global_root).cast(comp.schema["component_id"].dataType).alias("dst"),
        )
    )
    sym = extra.union(extra.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    all_edges = edges.union(sym)

    adjacency = (
        all_edges.groupBy("src")
        .agg(F.array_sort(F.collect_set("dst")).alias("neighbors"))
        .join(src, F.col("src") == F.col("id"), "right")
        .select(
            "id",
            "embedding",
            F.coalesce(F.col("neighbors"), F.array().cast("array<long>")).alias(
                "neighbors"
            ),
        )
    )
    # id-sorted, range-partitioned layout: per-hop `id IN (...)`
    # lookups prune to row-groups instead of scanning the table
    (
        adjacency.repartitionByRange(F.col("id"))
        .sortWithinPartitions("id")
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "adjacency"))
    )

    n_rows = src.count()
    dim = len(src.select("embedding").head().embedding)
    # search seed: the medoid-approx — the node nearest the corpus
    # mean (one narrow agg + one TakeOrderedAndProject)
    mean_vec = [
        float(x)
        for x in (
            src.select(F.posexplode("embedding").alias("pos", "v"))
            .groupBy("pos")
            .agg(F.avg("v").alias("mv"))
            .orderBy("pos")
            .select("mv")
            .toPandas()["mv"]
        )
    ]
    medoid = (
        src.withColumn(
            "d", score_expr("EuclideanDistance", "embedding", mean_vec)
        )
        .orderBy(F.col("d").asc_nulls_last(), F.col("id").asc())
        .select("id")
        .head()
        .id
    )
    seeds: list[int] = []
    seed_vecs: list[list[float]] = []
    if seed_nodes:
        # fetch the representatives' vectors with a broadcast semi-join
        # (NOT an isin literal — n_clusters can be large; the driver
        # collect stays centroid-sized, the IVF-centroid contract)
        sdf = spark.createDataFrame(
            [(int(s),) for s in seed_nodes], schema="id long"
        )
        rows = src.join(F.broadcast(sdf), "id", "left_semi").select(
            "id", "embedding"
        ).collect()
        rows.sort(key=lambda r: r.id)
        seeds = [int(r.id) for r in rows]
        seed_vecs = [[float(x) for x in r.embedding] for r in rows]
    index = GraphAnnIndex(
        path=out_dir, dim=dim, n_rows=n_rows, m=m, entry_point=int(global_root),
        medoid=int(medoid), id_col=id_col, vec_col=vec_col, seeds=seeds,
        seed_vecs=seed_vecs,
    )
    write_meta(index)
    return index


def clustered_bootstrap_edges(
    spark: SparkSession,
    ivf_index,
    m: int = 8,
    strategy: str = "CosineSimilarity",
    probes: int = 2,
    block: int = 1024,
) -> DataFrame:
    """CORPUS-SCALE bootstrap for :func:`build_knn_graph`: approximate
    (query_id, id) kNN edges from LOCAL exact kNN inside each IVF
    cluster — no driver collect of the corpus, no all-pairs join.

    Why this exists: the exact blocked self-join is O(n²) scores and
    ``ivf_knn_join_routed_blocked`` collects its query batch to the
    driver (documented 10²..10⁵ contract) — neither survives
    corpus-as-queries at 10⁶⁺. This path is the standard
    cluster-then-local-kNN construction (the k-means counterpart of
    NN-Descent's partition trick, Dong et al.'11 §: local joins):

    * **multi-probe assignment**: each vector re-assigns to its top-
      ``probes`` centroids (one Arrow matmul per batch against the
      broadcast centroid matrix), so near-boundary nodes meet their
      cross-cluster neighbors inside a shared probe cluster — the
      same boundary fix ``neardup_cosine_multiprobe`` uses.
    * **per-cluster local kNN**: ``applyInPandas`` over cluster
      groups; inside a group, scores are blocked BLAS products
      (``block`` queries at a time — cluster_size × block doubles
      live at once, never cluster_size²).

    Edge quality is a bootstrap concern only: full-beam search stays
    exact regardless (connectivity augmentation + visited==n_rows
    assertion); finite-beam recall is repaired by NN-descent rounds
    (``refine_iters``) and measured in tools/graphann_scale_probe.py.

    Scale shape: one narrow scan + one (cluster_id)-keyed shuffle of
    ``probes``× the corpus; peak task memory is
    O(max_cluster_size × (dim + block)). Cluster count (chosen at
    ``build_ivf_index`` time) is the knob that bounds group size —
    n/4096-ish keeps groups BLAS-friendly.
    """
    import pandas as pd
    from pyspark.sql import types as T

    from .search import _blas_block_scores

    validate_strategy(strategy)
    if m < 1:
        raise ValueError("m must be a positive integer")
    probes = max(1, min(int(probes), ivf_index.n_clusters))

    cents = ivf_index.centroids  # (C, d) numpy
    bc_c = spark.sparkContext.broadcast(cents)
    store = _read_clusters(spark, ivf_index).select("id", "embedding")

    def _assign(batches):
        C = bc_c.value
        if strategy in ("CosineSimilarity", "CosineDistance"):
            Cn = C / np.maximum(
                np.linalg.norm(C, axis=1, keepdims=True), 1e-12
            )
        else:
            Cn = C
        for pdf in batches:
            if not len(pdf):
                continue
            E = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            if strategy in ("CosineSimilarity", "CosineDistance"):
                En = E / np.maximum(
                    np.linalg.norm(E, axis=1, keepdims=True), 1e-12
                )
                S = En @ Cn.T
            elif strategy == "InnerProductSimilarity":
                S = E @ Cn.T
            else:  # euclidean / manhattan route by euclidean
                S = -(
                    (E * E).sum(1, keepdims=True)
                    - 2.0 * (E @ Cn.T)
                    + (Cn * Cn).sum(1)
                )
            top = np.argsort(-S, axis=1, kind="stable")[:, :probes]
            yield pd.DataFrame(
                {
                    "cluster_id": top.ravel().astype("int32"),
                    "id": np.repeat(pdf["id"].to_numpy(), probes),
                    "embedding": [
                        e for e in pdf["embedding"] for _ in range(probes)
                    ],
                }
            )
            del E, S, top

    assigned = store.mapInPandas(
        _assign,
        schema="cluster_id int, id long, embedding array<float>",
    )

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("id", T.LongType()),
        ]
    )

    desc = strategy in ("CosineSimilarity", "InnerProductSimilarity")

    def _local_knn(pdf):
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"query_id": [], "id": []}).astype(
                {"query_id": "int64", "id": "int64"}
            )
        ids = pdf["id"].to_numpy()
        E = np.array(pdf["embedding"].tolist(), dtype=np.float64)
        kk = min(m + 1, n)
        srcs, dsts = [], []
        for lo in range(0, n, block):
            Q = E[lo : lo + block]
            S = _blas_block_scores(E, Q, strategy)  # (n, q)
            order = np.argsort(-S if desc else S, axis=0, kind="stable")[
                :kk
            ]
            for j in range(Q.shape[0]):
                qi = lo + j
                sel = order[:, j]
                sel = sel[sel != qi][: kk - 1]
                srcs.append(np.full(len(sel), ids[qi], dtype=np.int64))
                dsts.append(ids[sel].astype(np.int64))
        return pd.DataFrame(
            {
                "query_id": np.concatenate(srcs),
                "id": np.concatenate(dsts),
            }
        )

    edges = (
        assigned.groupBy("cluster_id")
        .applyInPandas(_local_knn, schema=out_schema)
        .distinct()
    )
    return edges


def cluster_representatives(
    spark: SparkSession, ivf_index, strategy: str = "CosineSimilarity"
) -> list:
    """One navigation-seed node per IVF cluster: the stored vector
    most similar to its cluster's centroid (deterministic — ties break
    to the smaller id). One Arrow pass over the cluster-partitioned
    store + an n_clusters-row `max_by` aggregation; the collect is
    centroid-sized (the established driver-traffic contract)."""
    import pandas as pd

    cents = ivf_index.centroids
    bc = spark.sparkContext.broadcast(cents)
    store = _read_clusters(spark, ivf_index).select(
        "cluster_id", "id", "embedding"
    )

    def _sim(batches):
        C = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            E = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            cid = pdf["cluster_id"].to_numpy()
            Cc = C[cid]
            if strategy in ("CosineSimilarity", "CosineDistance"):
                num = (E * Cc).sum(1)
                den = np.linalg.norm(E, axis=1) * np.maximum(
                    np.linalg.norm(Cc, axis=1), 1e-12
                )
                s = num / np.maximum(den, 1e-12)
            elif strategy == "InnerProductSimilarity":
                s = (E * Cc).sum(1)
            else:
                s = -np.linalg.norm(E - Cc, axis=1)
            yield pd.DataFrame(
                {"cluster_id": cid, "id": pdf["id"], "s": s}
            )

    scored = store.mapInPandas(
        _sim, schema="cluster_id int, id long, s double"
    )
    rows = (
        scored.groupBy("cluster_id")
        .agg(
            F.max(
                F.struct(F.col("s"), (-F.col("id")).alias("nid"))
            ).alias("b")
        )
        .select((-F.col("b.nid")).alias("id"))
        .collect()
    )
    return sorted(int(r.id) for r in rows)


def _nn_descent_round(
    src: DataFrame, edges: DataFrame, m: int, strategy: str
) -> DataFrame:
    """One NN-descent refinement: candidates = current neighbors +
    neighbors-of-neighbors, re-scored exactly, top-m kept per node.
    Two id-keyed joins + one ranked window — no all-pairs anywhere.

    Use with care: descent converges edges toward the TRUE kNN graph,
    which maximizes edge exactness but REMOVES the diverse cross-
    region links best-first navigation depends on (the insight behind
    HNSW's neighbor-diversity heuristic / Vamana's alpha-pruning).
    Measured at 250k near-i.i.d. rows: one round cost +215 s build
    and dropped finite-beam recall@10 (beam 512) from 0.80 to 0.41.
    It earns its cost only when the bootstrap's edges are POOR and
    the data has real cluster structure for navigation to exploit."""
    from pyspark.sql import Window

    from ..config import sort_descending

    nn = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    hop2 = (
        nn.alias("x")
        .join(nn.alias("y"), F.col("x.b") == F.col("y.a"))
        .select(F.col("x.a").alias("a"), F.col("y.b").alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    cand = nn.union(hop2).distinct()
    va = src.select(F.col("id").alias("a"), F.col("embedding").alias("ea"))
    vb = src.select(F.col("id").alias("b"), F.col("embedding").alias("eb"))
    scored = (
        cand.join(va, "a")
        .join(vb, "b")
        .withColumn("s", score_expr(strategy, "ea", "eb"))
    )
    direction = (
        F.col("s").desc_nulls_last()
        if sort_descending(strategy)
        else F.col("s").asc_nulls_last()
    )
    w = Window.partitionBy("a").orderBy(direction, F.col("b").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= m)
        .select(F.col("a").alias("src"), F.col("b").alias("dst"))
    )


def load_graph_index(path: str) -> GraphAnnIndex:
    with open(os.path.join(path, GraphAnnIndex.meta_file)) as f:
        meta = json.load(f)
    return GraphAnnIndex(path=path, **meta)


# --------------------------------------------------- maintenance (LSM)


def graphann_upsert(
    spark: SparkSession,
    index: GraphAnnIndex,
    new_df: DataFrame,
    strategy: str = "CosineSimilarity",
) -> dict:
    """Incremental maintenance, the append-generation pattern of the
    other layouts adapted to a graph. ``layout.append_batch`` persists
    the ``(id, embedding)`` batch once (cast to the adjacency's types: a
    double-typed batch against a float store would poison every later
    scan with a parquet type mismatch), counts it and raises on a
    vector of another length than the index dim before anything is
    written. Then each new node's m nearest EXISTING nodes come from one
    blocked BLAS kNN join (new side broadcast — an ingest batch is
    small by construction), the new rows append to ``adjacency/`` with
    those forward links, and the REVERSE links (existing -> new, what
    keeps the graph navigable toward fresh nodes and the full-beam
    connectivity assertion true) append to a ``delta/`` directory
    instead of rewriting existing rows — adjacency files stay
    immutable. Search merges delta neighbor lists on load;
    ``graphann_compact`` folds them into the next generation.

    Degree grows by at most one per inserted neighbor link between
    compactions (the LSM trade: churn cost moves to the background
    rewrite). Returns the ``append_batch`` stats; the metadata's
    ``n_rows`` counts the appended rows, so load the index again for
    the grown graph."""
    from .search import knn_join_blocked

    validate_strategy(strategy)
    adj = spark.read.parquet(os.path.join(index.path, "adjacency")).select(
        "id", "embedding"
    )

    def link(rows: DataFrame) -> None:
        pairs = knn_join_blocked(
            spark,
            rows.selectExpr("id AS query_id", "embedding AS query_vec"),
            adj,
            k=index.m,
            strategy=strategy,
        ).select("query_id", "id")
        fwd = (
            pairs.groupBy("query_id")
            .agg(F.array_sort(F.collect_set("id")).alias("neighbors"))
            .select(F.col("query_id").alias("id"), "neighbors")
        )
        new_rows = rows.join(fwd, "id", "left").select(
            "id",
            "embedding",
            F.coalesce(F.col("neighbors"), F.array().cast("array<long>")).alias(
                "neighbors"
            ),
        )
        append_rows(new_rows, os.path.join(index.path, "adjacency"))
        rev = pairs.groupBy("id").agg(
            F.array_sort(F.collect_set("query_id")).alias("neighbors")
        )
        append_rows(rev, os.path.join(index.path, "delta"))

    src = new_df.select(
        F.col("id").cast(adj.schema["id"].dataType).alias("id"),
        F.col("embedding").cast(adj.schema["embedding"].dataType).alias("embedding"),
    )
    stats = append_batch(spark, index, src, write=link)
    count_appended(index, stats["n_appended"])
    return stats


def graphann_compact(
    spark: SparkSession, index: GraphAnnIndex, out_dir: str, n_files: int = 1
) -> GraphAnnIndex:
    """Generation rewrite (immutable new generation, pointer flip —
    the ``layout.compact`` contract): fold the
    reverse-edge ``delta/`` into the adjacency rows, dedup neighbor
    lists, and restore the id-sorted range-partitioned layout the
    per-hop lookups prune against."""
    if n_files < 1:
        raise ValueError("n_files must be a positive integer")
    adj = spark.read.parquet(os.path.join(index.path, "adjacency"))
    delta_path = os.path.join(index.path, "delta")
    if os.path.isdir(delta_path):
        delta = spark.read.parquet(delta_path)
        merged = (
            adj.select("id", F.explode_outer("neighbors").alias("nb"))
            .unionByName(delta.select("id", F.explode("neighbors").alias("nb")))
            .groupBy("id")
            .agg(
                F.array_sort(
                    F.filter(F.collect_set("nb"), lambda x: x.isNotNull())
                ).alias("neighbors")
            )
            .join(adj.select("id", "embedding"), "id")
            .select("id", "embedding", "neighbors")
        )
    else:
        merged = adj
    (
        merged.repartitionByRange(max(1, n_files), F.col("id"))
        .sortWithinPartitions("id")
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "adjacency"))
    )
    new = dataclasses.replace(
        index,
        path=out_dir,
        n_rows=spark.read.parquet(os.path.join(out_dir, "adjacency")).count(),
    )
    write_meta(new)
    return new


# --------------------------------------------------------- search side

def _adjacency_with_delta(spark: SparkSession, index: GraphAnnIndex) -> DataFrame:
    """Adjacency rows with any LSM delta's reverse edges merged in
    (neighbor-list union per id) — the read-side half of the
    graphann_upsert contract."""
    adj = spark.read.parquet(os.path.join(index.path, "adjacency"))
    delta_path = os.path.join(index.path, "delta")
    if not os.path.isdir(delta_path):
        return adj
    delta = (
        spark.read.parquet(delta_path)
        .groupBy("id")
        .agg(F.array_sort(F.array_distinct(F.flatten(F.collect_list("neighbors")))).alias("d_nb"))
    )
    return (
        adj.join(delta, "id", "left")
        .select(
            "id",
            "embedding",
            F.when(
                F.col("d_nb").isNull(), F.col("neighbors")
            ).otherwise(
                F.array_sort(
                    F.array_distinct(F.concat(F.col("neighbors"), F.col("d_nb")))
                )
            ).alias("neighbors"),
        )
    )


def _load_graph_numpy(spark: SparkSession, index: GraphAnnIndex):
    """(sorted ids, vectors, CSR neighbors) of the graph: a pure
    function of the persisted files, memoized per session under the
    index directory's file listing, so the files an upsert or rewrite
    adds give a new value (one entry per directory)."""

    def load():
        pdf = (
            _adjacency_with_delta(spark, index)
            .select("id", "embedding", "neighbors")
            .toPandas()
        )
        ids = pdf["id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        vecs = np.stack(pdf["embedding"].to_numpy()[order]).astype(np.float64)
        neigh_lists = pdf["neighbors"].to_numpy()[order]
        # CSR over POSITIONS (searchsorted on the sorted id vector)
        indptr = np.zeros(len(ids) + 1, dtype=np.int64)
        flat = []
        for i, nl in enumerate(neigh_lists):
            pos = np.searchsorted(ids, np.asarray(nl, dtype=ids.dtype))
            flat.append(pos)
            indptr[i + 1] = indptr[i] + len(pos)
        indices = (
            np.concatenate(flat) if flat else np.zeros(0, dtype=np.int64)
        )
        return ids, vecs, indptr, indices

    return session_memo(spark, "graph_numpy", index.path, {}, load)


def _np_scores(strategy: str, V: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Similarity (higher = better) for traversal ordering only — the
    output ranking always comes from the JVM score_expr re-rank, so
    BLAS summation order cannot leak into results."""
    if strategy == "InnerProductSimilarity":
        return V @ q
    if strategy in ("CosineSimilarity", "CosineDistance"):
        nv = np.linalg.norm(V, axis=-1) * np.linalg.norm(q)
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(nv == 0.0, -np.inf, (V @ q) / nv)
        return cos if strategy == "CosineSimilarity" else cos
    if strategy == "EuclideanDistance":
        return -np.linalg.norm(V - q, axis=-1)
    if strategy == "ManhattanDistance":
        return -np.abs(V - q).sum(axis=-1)
    raise ValueError(strategy)


#: entry points taken from the navigation layer per query (the
#: IVF-probes analogue: enough regions to be robust to routing error,
#: few enough that the beam stays available for the true neighborhood)
N_ENTRY_SEEDS = 4


def _entry_seed_ids(
    index: GraphAnnIndex, q: "np.ndarray", strategy: str
) -> list:
    """Query-routed entry points: medoid + connectivity root + the
    ``N_ENTRY_SEEDS`` navigation representatives nearest the query
    (one numpy matvec over the meta-resident seed vectors). Legacy
    metas without vectors fall back to all recorded seeds."""
    out = {int(index.medoid), int(index.entry_point)}
    if index.seeds and index.seed_vecs:
        sv = np.asarray(index.seed_vecs, dtype=np.float64)
        ssim = _np_scores(strategy, sv, q)
        order = np.argsort(-ssim, kind="stable")[:N_ENTRY_SEEDS]
        out.update(int(index.seeds[i]) for i in order)
    elif index.seeds:
        out.update(int(s) for s in index.seeds)
    return sorted(out)


def _beam_search_driver(
    graph, index: GraphAnnIndex, query_vec: Sequence[float],
    strategy: str, beam: int | None,
) -> tuple[list, int]:
    """Best-first beam expansion in numpy. Returns (candidate ids,
    n_visited). ``beam=None`` = unbounded: expands until the whole
    reachable graph is visited (== every node, by the build's
    connectivity augmentation — asserted by the caller)."""
    import heapq

    ids, vecs, indptr, indices = graph
    n = len(ids)
    q = np.asarray(list(query_vec), dtype=np.float64)
    sims = _np_scores(strategy, vecs, q)

    seed_ids = _entry_seed_ids(index, q, strategy)
    pos = np.searchsorted(ids, np.asarray(seed_ids, dtype=ids.dtype))
    # validate position hits (an id absent after compaction/tombstones
    # lands searchsorted on a DIFFERENT node — skip, don't misseed)
    seeds = [
        int(p)
        for p, sid in zip(pos, seed_ids)
        if 0 <= p < n and ids[p] == sid
    ]
    visited = np.zeros(n, dtype=bool)
    cand: list = []  # max-heap via negated sim
    result: list = []  # min-heap of (sim, -pos): worst on top
    for s in seeds:
        if not visited[s]:
            visited[s] = True
            heapq.heappush(cand, (-sims[s], s))
            heapq.heappush(result, (sims[s], -s))
    width = n if beam is None else max(1, int(beam))
    while len(result) > width:
        heapq.heappop(result)
    n_visited = len(seeds)
    while cand:
        negs, c = heapq.heappop(cand)
        if beam is not None and len(result) >= width and -negs < result[0][0]:
            break  # best frontier candidate is worse than the beam's worst
        for p in indices[indptr[c] : indptr[c + 1]]:
            if visited[p]:
                continue
            visited[p] = True
            n_visited += 1
            s = sims[p]
            if beam is None or len(result) < width or s > result[0][0]:
                heapq.heappush(cand, (-s, p))
                heapq.heappush(result, (s, -p))
                while len(result) > width:
                    heapq.heappop(result)
    return [ids[-neg_pos] for _, neg_pos in result], n_visited


def graphann_search(
    spark: SparkSession,
    index: GraphAnnIndex,
    src: DataFrame,
    query_vec: Sequence[float],
    k: int,
    strategy: str = "CosineSimilarity",
    beam: int | None = None,
    round_digits: int | None = None,
    filter_ids: DataFrame | None = None,
    small_graph_max: int = 2_000_000,
) -> DataFrame:
    """Beam-searched top-k -> exact re-rank -> (id, score).

    ``beam=None`` is the oracle-gate configuration: traversal expands
    the ENTIRE graph (asserting it visited all ``n_rows`` — a live
    check of the build's connectivity augmentation) and the re-rank
    scores every row, so results are exactly the brute-force top-k.
    Finite ``beam`` re-ranks only the beam's survivors; recall is
    monotone in ``beam`` (the shared O3 width contract; pinned in
    tests/test_graphann.py). ``filter_ids`` restricts AFTER traversal
    (the shared non-strict filtered contract of every index shape)."""
    validate_strategy(strategy)
    if not isinstance(k, int) or k < 1:
        raise ValueError("k must be a positive integer")
    if len(query_vec) != index.dim:
        raise ValueError(f"query dim {len(query_vec)} != index dim {index.dim}")

    if index.n_rows <= small_graph_max:
        graph = _load_graph_numpy(spark, index)
        cand_ids, n_visited = _beam_search_driver(
            graph, index, query_vec, strategy, beam
        )
    else:
        cand_ids, n_visited = _beam_search_distributed(
            spark, index, query_vec, strategy, beam
        )
    if beam is None and n_visited != index.n_rows:
        raise AssertionError(
            f"full-beam traversal visited {n_visited} of {index.n_rows} nodes "
            "— the graph is not connected; rebuild the index"
        )

    vecs = src.selectExpr(
        f"`{index.id_col}` AS id", f"`{index.vec_col}` AS embedding"
    )
    if beam is not None:
        # beam-sized id list: rides the plan as an IN literal, same
        # bounded-driver contract as IVF's pruned cluster list
        ids = ", ".join(str(int(i)) for i in cand_ids)
        vecs = vecs.filter(f"id IN ({ids})" if ids else "false")
    if filter_ids is not None:
        vecs = vecs.join(
            filter_ids.selectExpr(f"`{filter_ids.columns[0]}` AS id"),
            "id",
            "left_semi",
        )
    return rank_topk(vecs, list(query_vec), k, strategy, round_digits)


def _beam_search_distributed(
    spark: SparkSession,
    index: GraphAnnIndex,
    query_vec: Sequence[float],
    strategy: str,
    beam: int | None,
    max_hops: int = 64,
) -> tuple[list, int]:
    """Frontier-join traversal — the >``small_graph_max`` path. Each
    hop: filter the id-sorted adjacency by the frontier ids (row-group
    pruned), explode neighbor lists, score JVM-side, merge a
    beam-bounded driver heap. Driver traffic per hop <= beam x m rows
    (bounded — never corpus-sized). Equivalence with the driver replay
    is pinned in tests/test_graphann.py."""
    import heapq

    from ..config import sort_descending

    adj = _adjacency_with_delta(spark, index)
    sgn = 1.0 if sort_descending(strategy) else -1.0
    score = score_expr(strategy, "embedding", list(query_vec))

    def score_ids(id_list):
        rows = (
            adj.filter(F.col("id").isin(id_list))
            .select("id", (score * F.lit(sgn)).alias("s"), "neighbors")
            .collect()
        )
        return {int(r.id): (float("-inf") if r.s is None else r.s, [int(x) for x in r.neighbors]) for r in rows}

    seeds = _entry_seed_ids(
        index, np.asarray(list(query_vec), dtype=np.float64), strategy
    )
    info = score_ids(seeds)
    visited = set(info)
    result = [(s, -i) for i, (s, _) in info.items()]  # min-heap, worst on top
    heapq.heapify(result)
    width = index.n_rows if beam is None else max(1, int(beam))
    frontier = [
        i
        for _, i in sorted(
            ((s, i) for i, (s, _) in info.items()), reverse=True
        )[:width]
    ]
    while len(result) > width:
        heapq.heappop(result)
    for _ in range(max_hops):
        if not frontier:
            break
        nxt = sorted(
            {
                nb
                for i in frontier
                for nb in info[i][1]
                if nb not in visited
            }
        )
        if not nxt:
            break
        new_info = score_ids(nxt)
        info.update(new_info)
        visited.update(new_info)
        frontier = []
        for i, (s, _) in sorted(new_info.items()):
            if beam is None or len(result) < width or s > result[0][0]:
                heapq.heappush(result, (s, -i))
                frontier.append(i)
                while len(result) > width:
                    heapq.heappop(result)
    else:
        if beam is None:
            raise AssertionError(
                f"traversal exceeded max_hops={max_hops} before draining"
            )
    return [-np_i for _, np_i in result], len(visited)
