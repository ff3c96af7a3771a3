"""Second-moment statistics and PCA over the embedding store.

An embedding corpus at pipeline scale needs its own QA/transform
layer: the covariance spectrum tells you whether the embedding space
has collapsed (anisotropy — Mu & Viswanath's all-but-the-top
observation), and a PCA projection is the standard preprocessing for
IVF/OPQ-style indexing, whitened semantic dedup, and cheap 2-D corpus
maps. Both operators here compute the SAME statistic two ways, the
repo's established oracle-twin pattern (``incremental_dedup``):

- :func:`embedding_covariance` — pure Column-expression form whose
  per-cell sums are ROUND(9)→DECIMAL, so DuckDB replays it
  bit-for-bit (the correctness-gate entry). Its explode is d²-per-row
  — the oracle-carrying twin, not the production path.
- :func:`pca_project` — the production path: ONE ``mapInPandas``
  pass emits per-partition moment partials (count, Σx, ΣxᵀX — d²
  doubles PER PARTITION, not per row), a ``pid % 256`` keyed tree
  fold merges them so the driver pulls ≤256 rows, the driver
  eigendecomposes the d×d covariance (d=64 ⇒ trivial), and a second
  Arrow pass projects every vector with one BLAS matmul per batch.
  At 100 TB the data is read twice, shuffled once (partial rows, not
  corpus rows); driver traffic is capped at 256 × (d²+d) doubles
  regardless of partition count.

Reference note: the reference engine (app.py) has no statistics
surface over its vector store; extension scope (SURVEY.md "beyond
the reference").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..artifacts import persisted, session_memo
from ..sources.store import load_embeddings


def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session memo of the covariance cells, shared by the covariance
    gate entry and the power-iteration loop that reads the same cells."""
    return session_memo(spark, "cov", sf_dir, {}, lambda: (
        _embedding_covariance_build(spark, sf_dir).persist()
    ))


def _embedding_covariance_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangular covariance cells (i, j, cov), i ≤ j, of the
    stored embeddings — the gate-checkable twin of the moment math
    inside :func:`pca_project`.

    Plan: one narrow explode of per-row (i, j, xᵢ·xⱼ) structs (built
    with indexed ``transform``, no self-join), then a (i, j)-keyed
    aggregation with map-side combine — 4096 keys regardless of
    corpus size. Float parity: products and coordinates are ROUND(9)
    → DECIMAL(28,9) before summing (visit-order-independent), and the
    cov combine ``(Sxy − Sx·Sy/n)/n`` runs in one fixed operation
    order with a final ROUND(6).

    The d²-per-row explode is why this form is the ORACLE twin: the
    production path (:func:`pca_project`) moves the outer product
    into numpy at d² per PARTITION.
    """
    # the store is a handful of parquet files at gate scale — without
    # a repartition the d²/2-per-row explode below runs on ONE task;
    # the shuffle is corpus-narrow (id + vector), the fan-out work is
    # what needs the cluster (decimal sums are visit-order-independent,
    # so redistribution cannot change the result)
    embs = (
        load_embeddings(spark, sf_dir)
        .select("vec_id", "embedding")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    emb_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))

    # (i, v) coordinate stream for the first-moment sums
    coords = embs.select(
        F.posexplode(emb_d).alias("i", "v")
    )
    means = coords.groupBy("i").agg(
        F.sum(F.round(F.col("v"), 9).cast("decimal(28,9)")).alias("s")
    )
    n_rows = embs.agg(F.count(F.lit(1)).cast("double").alias("n_d"))

    # (i, j, product) cells via nested indexed transform. Generate the
    # upper triangle DIRECTLY (inner loop = sequence(i, d-1) +
    # element_at) — d(d+1)/2 structs per row instead of d² filtered
    # afterwards; same cells, same rounding, same oracle.
    cells = F.flatten(
        F.transform(
            emb_d,
            lambda vi, i: F.transform(
                F.sequence(i, F.size(emb_d) - 1),
                lambda j: F.struct(
                    i.alias("i"),
                    j.alias("j"),
                    (
                        vi
                        * F.element_at(emb_d, (j + 1).cast("int"))
                    ).alias("p"),
                ),
            ),
        )
    )
    prods = (
        embs.select(F.explode(cells).alias("c"))
        .select("c.i", "c.j", "c.p")
        .groupBy("i", "j")
        .agg(
            F.sum(F.round(F.col("p"), 9).cast("decimal(28,9)")).alias(
                "s_xy"
            )
        )
    )

    ma = means.select(F.col("i").alias("i"), F.col("s").alias("s_i"))
    mb = means.select(F.col("i").alias("j"), F.col("s").alias("s_j"))
    return (
        prods.join(F.broadcast(ma), "i")
        .join(F.broadcast(mb), "j")
        .crossJoin(F.broadcast(n_rows))
        .select(
            F.col("i").cast("bigint").alias("i"),
            F.col("j").cast("bigint").alias("j"),
            (
                F.round(
                    (
                        F.col("s_xy").cast("double")
                        - F.col("s_i").cast("double")
                        * F.col("s_j").cast("double")
                        / F.col("n_d")
                    )
                    / F.col("n_d"),
                    6,
                )
                + F.lit(0.0)
            ).alias("cov"),
        )
    )


def pca_project(
    spark: SparkSession, sf_dir: str, n_components: int = 8
) -> DataFrame:
    """Project every stored embedding onto the corpus's top
    ``n_components`` principal axes. Output (vec_id, proj) with
    components rounded to 6 places.

    Production-path plan (rows-only gate entry; moment math pinned
    against :func:`embedding_covariance` and numpy in pytest):

    1. ``mapInPandas`` partials: each partition emits ONE row
       (pid, count, Σx, flattened ΣXᵀX) — d + d² doubles per
       partition. No shuffle yet; nothing corpus-sized survives this
       stage.
    2. Tree fold: the partials shuffle once on ``pid % 256`` and an
       ``applyInPandas`` merge folds each bucket in pid order, so the
       driver pulls AT MOST 256 × (d²+d) doubles no matter how many
       input partitions exist. (The previous flat form collected one
       partial PER PARTITION — at d=1024 over ~10⁵ partitions that is
       a ~840 GB driver pull; the tree level caps it at ~2 GB, and a
       second level would cap it at one row if ever needed.)
    3. Driver: fold the ≤256 bucket rows in bucket order
       (deterministic float visit order at both levels),
       eigendecompose the d×d covariance, take the top-k
       eigenvectors, and fix each one's sign so its largest-|·|
       coordinate is positive (the conventional determinism fix —
       eigenvectors are otherwise sign-ambiguous).
    4. Arrow projection pass: the d×k component matrix ships inside
       the UDF closure (kilobytes); each batch projects with one
       BLAS matmul. Narrow map, no shuffle.
    """
    import numpy as np
    import pandas as pd

    if n_components < 1:
        raise ValueError("n_components must be >= 1")

    embs = load_embeddings(spark, sf_dir).select("vec_id", "embedding")

    def _partials(it):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        n = 0
        s = None
        ss = None
        for pdf in it:
            if not len(pdf):
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            n += m.shape[0]
            s = m.sum(axis=0) if s is None else s + m.sum(axis=0)
            g = m.T @ m
            ss = g if ss is None else ss + g
        if n:
            yield pd.DataFrame(
                {
                    "pid": [pid],
                    "n": [n],
                    "s": [s.tolist()],
                    "ss": [ss.ravel().tolist()],
                }
            )

    partials = embs.mapInPandas(
        _partials, schema="pid int, n long, s array<double>, ss array<double>"
    )

    def _merge(key, pdf):
        pdf = pdf.sort_values("pid")  # deterministic in-bucket fold order
        return pd.DataFrame(
            {
                "mk": [int(key[0])],
                "n": [int(pdf["n"].sum())],
                "s": [np.stack(pdf["s"].to_numpy()).sum(axis=0).tolist()],
                "ss": [np.stack(pdf["ss"].to_numpy()).sum(axis=0).tolist()],
            }
        )

    parts = (
        partials.withColumn("mk", F.pmod(F.col("pid"), F.lit(256)).cast("int"))
        .groupBy("mk")
        .applyInPandas(
            _merge, schema="mk int, n long, s array<double>, ss array<double>"
        )
        .collect()
    )
    if not parts:
        raise ValueError("empty embedding store")
    parts.sort(key=lambda r: r["mk"])
    n = sum(r["n"] for r in parts)
    d = len(parts[0]["s"])
    if n_components > d:
        raise ValueError(f"n_components {n_components} > dim {d}")
    s = np.zeros(d)
    ss = np.zeros((d, d))
    for r in parts:
        s += np.asarray(r["s"])
        ss += np.asarray(r["ss"]).reshape(d, d)
    mean = s / n
    cov = ss / n - np.outer(mean, mean)
    w, v = np.linalg.eigh(cov)  # ascending eigenvalues
    comp = v[:, ::-1][:, :n_components]  # d × k, top-k first
    # sign convention: largest-|coordinate| entry of each axis > 0
    flip = comp[np.abs(comp).argmax(axis=0), np.arange(comp.shape[1])] < 0
    comp = comp * np.where(flip, -1.0, 1.0)
    mean_c, comp_c = mean, comp

    def _project(it):
        for pdf in it:
            if not len(pdf):
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            p = np.round((m - mean_c) @ comp_c, 6) + 0.0
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "proj": list(p)}
            )

    return embs.mapInPandas(
        _project, schema="vec_id long, proj array<double>"
    )


def source_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift between sources: per-source centroid
    vectors, then for every (unordered) source pair the cosine
    similarity and L2 distance of the centroids — the cheap detector
    for "this crawl snapshot moved" / "these two feeds cover different
    material" that complements the token-level JS divergence
    (``textual.source_divergence``) with a semantic-space view.

    Scale shape: one docs⋈embeddings id join (doc_id IS vec_id — the
    store convention), one (source, position)-keyed aggregation for
    the centroids (|sources|·d rows — tiny), then a position join of
    the centroid table with itself over source pairs. Nothing after
    the first aggregation is corpus-sized.

    Float parity: coordinate sums fold as ROUND(9)→DECIMAL(28,9);
    centroid means divide once into doubles; pair products ROUND(9)→
    DECIMAL again, and the final cosine/L2 combine runs in one fixed
    operation order with ROUND(6). Output (source_a, source_b,
    cos_centroids, l2_centroids, n_a, n_b).
    """
    from ..sources.store import load_documents

    docs = load_documents(spark, sf_dir).select("doc_id", "source")
    embs = load_embeddings(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    coords = docs.join(embs, "doc_id").select(
        "source",
        F.posexplode(
            F.transform(F.col("embedding"), lambda x: x.cast("double"))
        ).alias("i", "v"),
    )
    cent = (
        coords.groupBy("source", "i")
        .agg(
            F.sum(F.round(F.col("v"), 9).cast("decimal(28,9)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "source",
            "i",
            (F.col("s").cast("double") / F.col("n").cast("double")).alias(
                "m"
            ),
            "n",
        )
    )
    a = cent.select(
        F.col("source").alias("source_a"),
        "i",
        F.col("m").alias("ma"),
        F.col("n").alias("n_a"),
    )
    b = cent.select(
        F.col("source").alias("source_b"),
        "i",
        F.col("m").alias("mb"),
        F.col("n").alias("n_b"),
    )
    pairs = a.join(b, "i").filter(F.col("source_a") < F.col("source_b"))
    agg = pairs.groupBy("source_a", "source_b").agg(
        F.sum(
            F.round(F.col("ma") * F.col("mb"), 9).cast("decimal(28,9)")
        ).alias("dot"),
        F.sum(
            F.round(F.col("ma") * F.col("ma"), 9).cast("decimal(28,9)")
        ).alias("naq"),
        F.sum(
            F.round(F.col("mb") * F.col("mb"), 9).cast("decimal(28,9)")
        ).alias("nbq"),
        F.sum(
            F.round(
                (F.col("ma") - F.col("mb")) * (F.col("ma") - F.col("mb")),
                9,
            ).cast("decimal(28,9)")
        ).alias("d2"),
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
    )
    return agg.select(
        "source_a",
        "source_b",
        (
            F.round(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("naq").cast("double"))
                    * F.sqrt(F.col("nbq").cast("double"))
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("cos_centroids"),
        (
            F.round(F.sqrt(F.col("d2").cast("double")), 6) + F.lit(0.0)
        ).alias("l2_centroids"),
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
    )


def power_iteration_pc1(
    spark: SparkSession, sf_dir: str, n_iter: int = 8
) -> DataFrame:
    """Top principal direction by POWER ITERATION with the whole loop
    engine-exact and oracle-backed — the fourth iterative algorithm
    under the gate (after GD, Lloyd's, PageRank), and the
    gate-checkable companion of the rows-only full eigendecomposition
    in :func:`embedding_pca`.

    The iterate is ``v ← normalize(C·v)`` over the ROUND(...,6)
    covariance cells :func:`embedding_covariance` already
    gate-matches. Parity chain: the matvec folds ROUND(c·v, 9) in
    DECIMAL(28,9) per output coordinate (partition-order independent);
    the norm folds ROUND(x², 9) the same way, takes one sqrt (an
    exactly-rounded IEEE primitive), and re-quantizes every component
    ROUND(x/‖x‖, 9) — so each iteration's vector is bit-identical in
    both engines, starting from the all-ones v₀.

    Scale shape: the covariance table is d² cells (keyed aggregation,
    never corpus-sized); each matvec is one broadcast-v join + one
    keyed decimal aggregation; only d sums cross to the driver per
    iteration (the codebook-collect domain).

    Output: (i, pc1, eigenvalue) — the unit eigenvector component per
    dimension and the Rayleigh/norm estimate ROUND(...,6), repeated
    per row (single-frame gate shape).
    """
    import math
    from decimal import ROUND_HALF_UP, Decimal

    cov = embedding_covariance(spark, sf_dir)
    # the symmetric covariance table is d² cells — the codebook-collect
    # domain (d=64 ⇒ ~8k rows), NOT data-sized. Round 12: pull it ONCE
    # and run the n_iter matvecs driver-side instead of one
    # createDataFrame + broadcast join + keyed aggregation + collect
    # PER ITERATION (8 iterations ≈ 17 small Spark jobs of pure
    # scheduling overhead on a d²-cell table; isolated best-of-3
    # 7.85 s → 2.63 s at sf0.1). Bit-identical by the same argument as
    # pagerank's small-graph path: the distributed fold summed
    # ROUND(cov·v, 9) terms in DECIMAL(28,9) — Spark's ROUND is
    # HALF_UP over the shortest-repr BigDecimal, which is exactly
    # Decimal(repr(x)).quantize(1e-9, HALF_UP) — so the driver fold
    # reproduces the cluster's doubles bit-for-bit (the oracle pins
    # it).
    cells = [(int(r.i), int(r.j), float(r.cov)) for r in cov.collect()]
    sym_cells = cells + [(j, i, c) for (i, j, c) in cells if i != j]
    dims = sorted({i for (i, _, _) in sym_cells})
    q9 = Decimal("1e-9")
    v = {int(i): 1.0 for i in dims}
    lam = 0.0
    for _ in range(n_iter):
        sums: dict[int, Decimal] = {i: Decimal(0) for i in dims}
        for (i, j, c) in sym_cells:
            sums[i] += Decimal(repr(c * v[j])).quantize(
                q9, rounding=ROUND_HALF_UP
            )
        # DECIMAL(28,9) -> double is the correctly-rounded conversion
        # on both engines (BigDecimal.doubleValue == float(Decimal))
        xs = {i: float(s) for i, s in sums.items()}
        s = Decimal(0)
        for x in xs.values():
            s += Decimal(repr(x * x)).quantize(q9, rounding=ROUND_HALF_UP)
        nr = math.sqrt(float(s))
        lam = nr
        v = {
            i: float(
                Decimal(repr(x / nr)).quantize(q9, rounding=ROUND_HALF_UP)
            )
            for i, x in xs.items()
        }
    eig = float(
        Decimal(repr(lam)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP)
    )
    return spark.createDataFrame(
        [(i, x, eig + 0.0) for i, x in sorted(v.items())],
        "i bigint, pc1 double, eigenvalue double",
    )


# ------------------------------------------------------- moment store

#: store marker (parquet _SUCCESS probed via the meta file instead).
_MOM_META = "_moment_meta.json"


def _moment_tables(embs: DataFrame):
    """(prods, means, n): the exact-decimal second/first moment tables
    of :func:`embedding_covariance` — the mergeable state. Sums are
    DECIMAL(28,9) folds of ROUND(...,9) terms, so partials from any
    batch split add back to the whole-corpus sums EXACTLY."""
    emb_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    coords = embs.select(F.posexplode(emb_d).alias("i", "v"))
    means = coords.groupBy("i").agg(
        F.sum(F.round(F.col("v"), 9).cast("decimal(28,9)")).alias("s")
    )
    cells = F.flatten(
        F.transform(
            emb_d,
            lambda vi, i: F.transform(
                F.sequence(i, F.size(emb_d) - 1),
                lambda j: F.struct(
                    i.alias("i"),
                    j.alias("j"),
                    (vi * F.element_at(emb_d, (j + 1).cast("int"))).alias("p"),
                ),
            ),
        )
    )
    prods = (
        embs.select(F.explode(cells).alias("c"))
        .select("c.i", "c.j", "c.p")
        .groupBy("i", "j")
        .agg(F.sum(F.round(F.col("p"), 9).cast("decimal(28,9)")).alias("s_xy"))
    )
    n = embs.count()
    return prods, means, n


def build_moment_store(df: DataFrame, out_dir: str) -> None:
    """Persist the mergeable moment state: (i, j, s_xy) second-moment
    cells, (i, s) first moments, and the row count — d² decimals,
    never vectors."""
    import json
    import os

    prods, means, n = _moment_tables(
        df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    )
    prods.write.mode("overwrite").parquet(os.path.join(out_dir, "moments"))
    means.write.mode("overwrite").parquet(os.path.join(out_dir, "firsts"))
    with open(os.path.join(out_dir, _MOM_META), "w") as f:
        json.dump({"n": int(n)}, f)


def moment_store_upsert(
    spark: SparkSession, store_dir: str, batch_df: DataFrame
) -> None:
    """Fold a new batch in: compute the batch's moment tables, ADD the
    exact decimals cell-wise, bump the count. Addition of exact
    integers is associative/commutative, so the folded store equals a
    from-scratch build bit-for-bit (pinned) and arrival order never
    matters."""
    import json
    import os

    prods_b, means_b, n_b = _moment_tables(
        batch_df.repartition(spark.sparkContext.defaultParallelism)
    )
    prods_o = spark.read.parquet(os.path.join(store_dir, "moments"))
    means_o = spark.read.parquet(os.path.join(store_dir, "firsts"))
    prods_m = (
        prods_o.unionByName(prods_b)
        .groupBy("i", "j")
        .agg(F.sum("s_xy").cast("decimal(28,9)").alias("s_xy"))
        .localCheckpoint(eager=True)
    )
    means_m = (
        means_o.unionByName(means_b)
        .groupBy("i")
        .agg(F.sum("s").cast("decimal(28,9)").alias("s"))
        .localCheckpoint(eager=True)
    )
    prods_m.write.mode("overwrite").parquet(os.path.join(store_dir, "moments"))
    means_m.write.mode("overwrite").parquet(os.path.join(store_dir, "firsts"))
    with open(os.path.join(store_dir, _MOM_META)) as f:
        n = json.load(f)["n"]
    with open(os.path.join(store_dir, _MOM_META), "w") as f:
        json.dump({"n": int(n + n_b)}, f)


def moment_store_covariance(spark: SparkSession, store_dir: str) -> DataFrame:
    """Serve the covariance from stored moments — no vector rescan;
    the combine is the exact expression of
    :func:`embedding_covariance`, and the stored decimals equal the
    recompute sums, so the output (and oracle) are identical."""
    import json
    import os

    with open(os.path.join(store_dir, _MOM_META)) as f:
        n_d = float(json.load(f)["n"])
    prods = spark.read.parquet(os.path.join(store_dir, "moments"))
    means = spark.read.parquet(os.path.join(store_dir, "firsts"))
    ma = means.select(F.col("i").alias("i"), F.col("s").alias("s_i"))
    mb = means.select(F.col("i").alias("j"), F.col("s").alias("s_j"))
    return (
        prods.join(F.broadcast(ma), "i")
        .join(F.broadcast(mb), "j")
        .select(
            F.col("i").cast("bigint").alias("i"),
            F.col("j").cast("bigint").alias("j"),
            (
                F.round(
                    (
                        F.col("s_xy").cast("double")
                        - F.col("s_i").cast("double")
                        * F.col("s_j").cast("double")
                        / F.lit(n_d)
                    )
                    / F.lit(n_d),
                    6,
                )
                + F.lit(0.0)
            ).alias("cov"),
        )
    )


def covariance_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate entry: build the moment store from the first half of the
    embeddings, fold the second half in via
    :func:`moment_store_upsert`, serve the covariance from stored
    decimals — shares ``embedding_covariance``'s oracle (the fold is
    exact, so maintained state answers identically)."""
    embs = load_embeddings(spark, sf_dir).select("vec_id", "embedding")

    def build(out: str) -> None:
        half = embs.agg(F.expr("percentile_approx(vec_id, 0.5)")).head()[0]
        build_moment_store(embs.filter(F.col("vec_id") <= half), out)
        moment_store_upsert(spark, out, embs.filter(F.col("vec_id") > half))

    return persisted(
        "mom", sf_dir, {}, build, lambda path: moment_store_covariance(spark, path)
    )
