"""ANN index auto-configuration: turn the measured recall curves into
a recommendation.

The repo ships six index layouts (IVF, two-level tree, PQ/OPQ/IVFADC,
SQ8, BQ, graph-ANN) with measured recall/latency curves (SCALING.md),
but a user must pick layout and serving width by hand. This operator
is the missing "which index do I build?" step: it reads the corpus's
own statistics (n, d, label entropy), MEASURES the recall curve of
every supplied serving shape against exact search on the corpus
itself (the ann_recall_report machinery; round 10 competes all six
shapes — VERDICT r9 #6), and emits one recommendation row per target
recall.

The layout rules codify SCALING.md's measured crossovers rather than
guessing:

- tiny corpora (n < ``exact_cutoff``) at FULL recall target:
  brute-force exact — every blocked method's fixed overhead loses
  below ~10⁵ rows (measured for banding at ~100k images; the IVF
  routing join shows the same fixed-cost floor at gate scale). At
  partial targets even a tiny corpus gets the measured-curve
  selection: the caller asked for a pruned serving path, and the
  curves are what justify one.
- recall target 1.0: IVF at FULL width — identical results to exact
  with partition pruning still available for filtered serving.
- d ≥ ``pq_dim_cutoff`` and target ≤ 0.95: IVF×OPQ — at high
  dimension the ADC scan is memory-bound, codes cut bytes/vector ~16×
  (SCALING.md PQ rows), and the rerank stage restores precision.
- otherwise: the measured layout curves compete — each layout's
  MINIMUM sufficient knob is scored by ESTIMATED BYTES TOUCHED PER
  QUERY (round 10: pruned layouts scan knob/full of the float rows;
  shortlist layouts pay a corpus-wide code scan plus a float rerank;
  the graph walks beam × (vector + edge) bytes) and the smallest
  estimate wins, ties to flat IVF. Bytes generalize the earlier
  probe-fraction score: they coincide on the float layouts and stop
  understating ADC layouts, whose code scan doesn't shrink with the
  rerank shortlist.

Everything is deterministic (fixed query set, fixed seed index, fixed
thresholds), so the recommendation is replay-pinned in pytest; the
recall numbers come from the same semi-join count the recall report
uses, not from a formula.

Reference note: the reference engine (app.py) exposes a single YDB
index type with a ``search_top_size`` knob and no guidance; extension
scope (SURVEY.md "beyond the reference").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import index as ivf
from .search import knn_join
from ..sources.store import load_embeddings

#: rule thresholds — codified SCALING.md crossovers, pinned in pytest
EXACT_CUTOFF = 100_000
PQ_DIM_CUTOFF = 256

#: session memo of measured curve rows keyed by (sf_dir, per-index
#: on-disk fingerprints, knob config) — the measurement is a pure
#: function of that key (the kn5_scores_cached contract; the
#: fingerprint component invalidates the memo when maintenance ops
#: mutate a store in place); ann_autoconfig and the ann_layout_curves
#: gate entry share ONE measurement pass per session instead of
#: re-serving every (layout, knob) point twice
_CURVES_CACHE: dict[tuple, list] = {}


def _index_sig(idx) -> tuple:
    """Cache-key component for one index: its path plus a cheap
    on-disk fingerprint (file count + total bytes). Index DIRECTORIES
    are mutable in place (ivf_upsert appends, tombstones delete,
    compaction rewrites), so path identity alone would replay stale
    curves after maintenance — the fingerprint invalidates the memo
    whenever the store's file set changes."""
    import os

    path = getattr(idx, "path", None)
    if path is None or not os.path.isdir(path):
        return (path, None, None)
    n_files = total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            n_files += 1
            try:
                total += os.path.getsize(os.path.join(root, fn))
            except OSError:
                pass
    return (path, n_files, total)


def ann_autoconfig(
    spark: SparkSession,
    sf_dir: str,
    idx: "ivf.IvfIndex",
    tree_idx=None,
    bq_idx=None,
    pq_idx=None,
    opq_idx=None,
    sq_idx=None,
    gann_idx=None,
    targets: tuple[float, ...] = (0.8, 0.9, 0.95, 1.0),
    k: int = 10,
    n_queries: int = 8,
    round_digits: int = 6,
) -> DataFrame:
    """One recommendation row per target recall:
    (target_recall, layout, n_clusters, width, measured_recall,
    est_bytes_per_vec, rationale).

    The recommendation selects ACROSS the measured layout curves
    (:func:`ann_layout_curves`) of every supplied index — round 10
    extends the competition from the three partition/sign-bit shapes
    to all six serving shapes (VERDICT r9 #6). For each partial
    target, each layout's MINIMUM sufficient knob competes on
    ESTIMATED BYTES TOUCHED PER QUERY, the cost model that makes the
    shapes commensurable (probe fraction alone understates ADC
    layouts, whose code scan is corpus-wide regardless of the rerank
    shortlist):

    - pruned layouts (ivf_flat, kmeans_tree): (knob / full) × n × 4d
    - shortlist layouts: full code scan + float rerank —
      bq_hamming n×8, pq/opq_adc n×m, sq8 n×d, each + shortlist × 4d
    - graph_beam: beam × (4d + 8 × degree) — visited vectors + edges

    The smallest estimate wins (ties prefer ivf_flat, the simplest
    layout); ``est_bytes_per_vec`` carries the winner's scan
    footprint per stored vector. With only the IVF index, the
    selection reduces to the original min-sufficient-width rule.

    Plan shape: ONE exact kNN join + one batch pruned/rerank join per
    measured (layout, knob) point (the graph layout's points are the
    bounded per-query loop its serving form is); the stats pass is
    two aggregates. Nothing corpus-sized reaches the driver; output
    is |targets| rows.
    """
    embs = load_embeddings(spark, sf_dir)
    stats = embs.agg(
        F.count(F.lit(1)).alias("n"),
        F.max(F.size("embedding")).alias("d"),
        F.countDistinct("label").alias("n_labels"),
    ).first()
    n, d = int(stats["n"]), int(stats["d"])

    curve_rows = ann_layout_curves(
        spark, sf_dir, idx, tree_idx, bq_idx,
        pq_idx=pq_idx, opq_idx=opq_idx, sq_idx=sq_idx, gann_idx=gann_idx,
        k=k, n_queries=n_queries, round_digits=round_digits,
    ).collect()
    full_knob = {"ivf_flat": int(idx.n_clusters)}
    if tree_idx is not None:
        full_knob["kmeans_tree"] = max(tree_idx.n_l1, tree_idx.n_leaves)
    if bq_idx is not None:
        full_knob["bq_hamming"] = int(bq_idx.n_rows)
    for lo, sup in (
        ("pq_adc", pq_idx), ("opq_adc", opq_idx),
        ("sq8", sq_idx), ("graph_beam", gann_idx),
    ):
        if sup is not None:
            full_knob[lo] = n
    #: per-layout scan footprint per stored vector (bytes)
    scan_bpv = {"ivf_flat": 4 * d, "kmeans_tree": 4 * d, "sq8": d}
    if bq_idx is not None:
        # ceil(d/64) packed int64 words per row — 8 bytes only at
        # d <= 64; understating this at higher dim would wrongly
        # favor the sign-bit scan in the competition
        scan_bpv["bq_hamming"] = 8 * int(bq_idx.n_words)
    else:
        scan_bpv["bq_hamming"] = 8 * ((d + 63) // 64)
    if pq_idx is not None:
        scan_bpv["pq_adc"] = int(pq_idx.m)
    if opq_idx is not None:
        scan_bpv["opq_adc"] = int(opq_idx.pq.m)
    if gann_idx is not None:
        scan_bpv["graph_beam"] = 4 * d + 8 * int(gann_idx.m)

    def est_bytes(layout: str, knob: int) -> float:
        if layout in ("ivf_flat", "kmeans_tree"):
            return knob / full_knob[layout] * n * 4 * d
        if layout == "graph_beam":
            return knob * scan_bpv[layout]
        # shortlist layouts: corpus-wide code scan + float rerank
        return n * scan_bpv[layout] + knob * 4 * d

    #: candidate points with their estimated per-query byte cost
    points = [
        (r.layout, int(r.width), float(r.recall),
         est_bytes(r.layout, int(r.width)))
        for r in curve_rows
    ]

    rows = []
    for target in targets:
        if n < EXACT_CUTOFF and target >= 1.0:
            # below the measured blocked-method crossover the exact
            # scan wins outright at full recall
            rows.append(
                (
                    float(target), "brute_force_exact", 0, 0,
                    1.0, 4 * d,
                    f"n={n} < {EXACT_CUTOFF}: exact scan beats any "
                    "blocked layout's fixed overhead (SCALING.md "
                    "crossover) and recall must be 1.0",
                )
            )
            continue
        if target >= 1.0:
            rows.append(
                (
                    float(target), "ivf_flat", int(idx.n_clusters),
                    int(idx.n_clusters),
                    max(rc for lo, w, rc, b in points if lo == "ivf_flat"),
                    4 * d,
                    "full width == exact with partition pruning kept "
                    "for filtered serving",
                )
            )
            continue
        # smallest sufficient knob per layout, then min est bytes
        per_layout = {}
        for lo, w, rc, byt in sorted(points, key=lambda p: p[1]):
            if rc >= target and lo not in per_layout:
                per_layout[lo] = (w, rc, byt)
        if not per_layout:
            lo, w, rc, byt = max(points, key=lambda p: p[2])
            per_layout = {lo: (w, rc, byt)}
        best_layout = min(
            per_layout,
            key=lambda lo: (per_layout[lo][2], lo != "ivf_flat"),
        )
        w, rc, byt = per_layout[best_layout]
        # the OPQ rewrite rides the IVF routing path, so it only
        # applies when ivf_flat itself cleared the target — never
        # borrow another layout's width/recall under the opq label
        if d >= PQ_DIM_CUTOFF and target <= 0.95 and "ivf_flat" in per_layout:
            w_f, rc_f, _ = per_layout["ivf_flat"]
            rows.append(
                (
                    float(target), "ivf_opq", int(idx.n_clusters),
                    int(w_f), rc_f,
                    max(8, d // 16),
                    f"d={d} >= {PQ_DIM_CUTOFF}: ADC scan is memory-"
                    "bound, OPQ codes cut bytes/vec ~16x with rerank "
                    "(SCALING.md PQ rows)",
                )
            )
        else:
            rows.append(
                (
                    float(target), best_layout, full_knob[best_layout],
                    int(w), rc,
                    int(scan_bpv[best_layout]),
                    f"min est bytes/query {int(byt)} among layouts "
                    f"clearing recall >= {target} (measured curves)",
                )
            )
    return spark.createDataFrame(
        rows,
        "target_recall double, layout string, n_clusters int, "
        "width int, measured_recall double, est_bytes_per_vec int, "
        "rationale string",
    ).orderBy("target_recall")


def ann_layout_curves(
    spark: SparkSession,
    sf_dir: str,
    ivf_idx,
    tree_idx,
    bq_idx=None,
    pq_idx=None,
    opq_idx=None,
    sq_idx=None,
    gann_idx=None,
    k: int = 10,
    n_queries: int = 8,
    round_digits: int = 6,
) -> DataFrame:
    """The measured recall-curve artifact :func:`ann_autoconfig` reads,
    as data: one row per (layout, knob) over every supplied serving
    shape — flat IVF and the two-level k-means tree (width knob), the
    sign-bit BQ layout (Hamming-shortlist knob, batch ``bq_knn_join``),
    the PQ/OPQ ADC layouts and the SQ8 layout (rerank-shortlist knob:
    batch code-domain candidates via ``pq_knn_join`` / the dequantized
    ``knn_join``, then one exact-rerank window — round 10, VERDICT r9
    #6), and the graph-ANN layout (beam knob; its serving form is
    per-query by contract, so its curve is the bounded
    n_queries-sized driver loop every graph-ANN serving path already
    is) — all against the same exact ground truth. Knob values are
    geometric up to each layout's exact endpoint (full width /
    corpus-sized shortlist or beam == exact, so every curve provably
    ends at 1.0 — pinned). The ``width`` column carries each layout's
    serving knob.

    Monotonicity carries per layout: pruned widths by the shared O3
    contract; rerank shortlists because approx-score candidate sets
    are NESTED as the shortlist grows (deterministic tie-breaks) and
    the exact rerank keeps every global-top-k member it is handed;
    beam by the graph contract pinned in tests/test_graphann.py.

    Output: (layout, width, recall), sorted.
    """
    from .tree import tree_knn_join_distributed

    cache_key = (
        sf_dir,
        _index_sig(ivf_idx),
        _index_sig(tree_idx),
        _index_sig(bq_idx),
        _index_sig(pq_idx),
        _index_sig(opq_idx),
        _index_sig(sq_idx),
        _index_sig(gann_idx),
        k, n_queries, round_digits,
    )
    if cache_key in _CURVES_CACHE:
        return spark.createDataFrame(
            _CURVES_CACHE[cache_key],
            "layout string, width int, recall double",
        ).orderBy("layout", "width")

    embs = load_embeddings(spark, sf_dir)
    queries_df = embs.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    corpus = embs.select(F.col("vec_id").alias("id"), "embedding")
    exact = (
        knn_join(
            spark, queries_df, corpus, k=k, strategy="CosineSimilarity",
            round_digits=round_digits,
        )
        .select("query_id", "id")
        .localCheckpoint(eager=True)
    )
    denom = float(k * n_queries)

    def widths_up_to(full: int) -> list[int]:
        ws, w = [], 1
        while w < full:
            ws.append(w)
            w *= 2
        ws.append(int(full))
        return ws

    def knobs_up_to(full: int, step: int = 4) -> list[int]:
        vs, v = [], k
        while v < full:
            vs.append(v)
            v *= step
        vs.append(int(full))
        return vs

    def rerank_recall(cand: DataFrame) -> float:
        """Exact-rerank the (query_id, id) candidates and count the
        global-top-k survivors — one window over candidate-sized
        rows, the shared tail of every shortlist layout here."""
        from pyspark.sql.window import Window

        from ..functions.distance import score_expr

        scored = (
            cand.join(corpus, "id")
            .join(F.broadcast(queries_df), "query_id")
            .withColumn(
                "score",
                F.round(
                    score_expr("CosineSimilarity", "embedding", "query_vec"),
                    round_digits,
                )
                + F.lit(0.0),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("score").desc_nulls_last(), F.col("id").asc()
        )
        top = (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "id")
        )
        return round(
            top.join(exact, ["query_id", "id"], "left_semi").count() / denom,
            6,
        )

    rows = []
    for width in widths_up_to(ivf_idx.n_clusters):
        got = ivf.ivf_knn_join(
            spark, ivf_idx, queries_df, k=k, strategy="CosineSimilarity",
            search_top_size=width, round_digits=round_digits,
        ).select("query_id", "id")
        rows.append(
            ("ivf_flat", int(width),
             round(got.join(exact, ["query_id", "id"], "left_semi").count()
                   / denom, 6))
        )
    # the tree's width knob caps BOTH levels; level 2 counts leaves
    # GLOBALLY (the route contract), so the exact endpoint is
    # n_leaves, not the per-cell fanout
    for width in ([] if tree_idx is None
                  else widths_up_to(max(tree_idx.n_l1, tree_idx.n_leaves))):
        got = tree_knn_join_distributed(
            spark, tree_idx, queries_df, k=k, strategy="CosineSimilarity",
            search_top_size=width, round_digits=round_digits,
        ).select("query_id", "id")
        rows.append(
            ("kmeans_tree", int(width),
             round(got.join(exact, ["query_id", "id"], "left_semi").count()
                   / denom, 6))
        )
    if bq_idx is not None:
        from .bq import bq_knn_join

        for shortlist in knobs_up_to(bq_idx.n_rows):
            got = bq_knn_join(
                spark, bq_idx, corpus, queries_df, k=k,
                strategy="CosineSimilarity", shortlist=shortlist,
                round_digits=round_digits,
            ).select("query_id", "id")
            rows.append(
                ("bq_hamming", int(shortlist),
                 round(got.join(exact, ["query_id", "id"], "left_semi")
                       .count() / denom, 6))
            )
    n_rows = None
    if pq_idx is not None or opq_idx is not None or sq_idx is not None \
            or gann_idx is not None:
        n_rows = corpus.count()
    if pq_idx is not None:
        from .pq import pq_knn_join

        for shortlist in knobs_up_to(n_rows):
            cand = pq_knn_join(
                spark, pq_idx, queries_df, k=shortlist,
                strategy="CosineSimilarity",
            ).select("query_id", "id")
            rows.append(("pq_adc", int(shortlist), rerank_recall(cand)))
    if opq_idx is not None:
        import numpy as np

        from .pq import pq_knn_join

        # rotate the (bounded) query batch into OPQ's code space; the
        # rerank stays in the ORIGINAL space with the original queries
        qrows = queries_df.collect()
        rot = [
            (
                int(r.query_id),
                (
                    np.asarray(r.query_vec, dtype=np.float64)
                    @ opq_idx.rotation
                ).tolist(),
            )
            for r in qrows
        ]
        rot_q = spark.createDataFrame(
            rot, "query_id long, query_vec array<double>"
        )
        for shortlist in knobs_up_to(n_rows):
            cand = pq_knn_join(
                spark, opq_idx.pq, rot_q, k=shortlist,
                strategy="CosineSimilarity",
            ).select("query_id", "id")
            rows.append(("opq_adc", int(shortlist), rerank_recall(cand)))
    if sq_idx is not None:
        import os

        from . import tombstones
        from .sq import dequant_expr

        codes = tombstones.apply_tombstones(
            spark, sq_idx.path,
            spark.read.parquet(os.path.join(sq_idx.path, "codes")),
        ).select("id", dequant_expr().alias("embedding"))
        for shortlist in knobs_up_to(n_rows):
            cand = knn_join(
                spark, queries_df, codes, k=shortlist,
                strategy="CosineSimilarity", round_digits=round_digits,
            ).select("query_id", "id")
            rows.append(("sq8", int(shortlist), rerank_recall(cand)))
    if gann_idx is not None:
        from .graphann import graphann_search

        exact_by_q: dict[int, set] = {}
        for r in exact.collect():  # k x n_queries rows — bounded
            exact_by_q.setdefault(int(r.query_id), set()).add(int(r.id))
        qrows = queries_df.collect()
        # sparser grid (x16): each beam point costs n_queries serving
        # calls — the per-query loop IS the graph layout's serving
        # form, bounded by the fixed query budget
        for beam in knobs_up_to(n_rows, step=16):
            hit = 0
            for r in qrows:
                got = graphann_search(
                    spark, gann_idx, corpus, list(r.query_vec), k=k,
                    strategy="CosineSimilarity",
                    beam=None if beam >= n_rows else int(beam),
                    round_digits=round_digits,
                ).select("id").collect()
                hit += len(
                    {int(g.id) for g in got} & exact_by_q.get(
                        int(r.query_id), set()
                    )
                )
            rows.append(("graph_beam", int(beam), round(hit / denom, 6)))
    _CURVES_CACHE[cache_key] = rows
    return spark.createDataFrame(
        rows, "layout string, width int, recall double"
    ).orderBy("layout", "width")
