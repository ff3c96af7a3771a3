"""Seeded corpus clustering + topic analytics over the embedding store.

A training-data pipeline needs a cheap, reproducible way to slice a
corpus into semantic regions — for mixture balancing, topic audits,
and per-region quality review. Full k-means lives in the IVF index
build (``operators/index.py``); the operators here use SEEDED
assignment instead: the first ``k`` stored embeddings act as fixed
anchor vectors and every document is assigned to its nearest anchor
(rounded cosine distance, ties by anchor id). That choice is
deliberate for the correctness gate: the assignment is pure relational
math over the store — no trained model state — so DuckDB can replay it
bit-for-bit from the same parquet (the same reason the A/B split uses
md5 arms, not Bernoulli draws).

Scale shape: the k anchor vectors ride a broadcast; distances are
codegen fold expressions over the narrow embeddings scan; the argmin
is a ``min_by`` aggregation (map-side partial, no window sort); topic
scoring shuffles (cluster, term) pairs — bounded by vocabulary, not
corpus. Public-knowledge basis: c-TF-IDF class-based term weighting
(Grootendorst's BERTopic formulation), simplified to ln(k/df) with
exact integer counts.

Reference note: the reference engine (app.py) has no clustering
surface; this is extension scope over the same store
(SURVEY.md "beyond the reference").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as TXT
from ..functions.distance import score_expr
from ..sources.store import load_documents, load_embeddings

#: distance sentinel for undefined cosine (zero-norm vectors): beyond
#: the metric's range, so defined distances always win the argmin
NULL_DIST = 9.0


def seed_anchors(spark: SparkSession, sf_dir: str, k: int = 8) -> DataFrame:
    """The first k stored embeddings as (cluster_id, seed) anchors."""
    return (
        load_embeddings(spark, sf_dir)
        .filter(F.col("vec_id") < k)
        .select(F.col("vec_id").alias("cluster_id"), F.col("embedding").alias("seed"))
    )


def cluster_assign(spark: SparkSession, sf_dir: str, k: int = 8) -> DataFrame:
    """Nearest-anchor assignment for every stored vector.
    Output (doc_id, cluster_id, dist) — dist is the rounded cosine
    distance to the winning anchor; ties break toward the smaller
    anchor id (struct min_by, so partial aggregation applies)."""
    anchors = seed_anchors(spark, sf_dir, k)
    embs = load_embeddings(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    dist = F.coalesce(
        F.round(
            score_expr("CosineDistance", "embedding", "seed"), 6
        )
        + F.lit(0.0),
        F.lit(NULL_DIST),
    )
    pairs = embs.join(F.broadcast(anchors), how="cross").select(
        "doc_id", "cluster_id", dist.alias("dist")
    )
    best = pairs.groupBy("doc_id").agg(
        F.min(F.struct("dist", "cluster_id")).alias("b")
    )
    return best.select(
        "doc_id",
        F.col("b.cluster_id").alias("cluster_id"),
        F.col("b.dist").alias("dist"),
    )


def cluster_profile(spark: SparkSession, sf_dir: str, k: int = 8) -> DataFrame:
    """Per-cluster occupancy + cohesion: (cluster_id, n_docs, share,
    avg_dist). Exact integer counts; avg from a DECIMAL sum of the
    already-rounded distances (order-independent)."""
    a = cluster_assign(spark, sf_dir, k)
    total = a.count()  # one scalar to the driver
    return (
        a.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("dist").cast("decimal(20,6)")).alias("s"),
        )
        .select(
            "cluster_id",
            "n_docs",
            (F.round(F.col("n_docs") / F.lit(float(total)), 6) + F.lit(0.0)).alias(
                "share"
            ),
            (
                F.round(F.col("s").cast("double") / F.col("n_docs"), 6) + F.lit(0.0)
            ).alias("avg_dist"),
        )
    )


def cluster_topics(
    spark: SparkSession, sf_dir: str, k: int = 8, top_terms: int = 5
) -> DataFrame:
    """Class-based top terms per cluster (c-TF-IDF, simplified):
    score(term, c) = tf(term, c) * ln(k / df_clusters(term)), rounded
    to 6; terms present in every cluster score 0 and fall away. Output
    (cluster_id, term, tf, score, rk), top ``top_terms`` per cluster
    by (score desc, tf desc, term asc)."""
    from pyspark.sql import Window

    a = cluster_assign(spark, sf_dir, k).select("doc_id", "cluster_id")
    docs = load_documents(spark, sf_dir).select("doc_id", "text")
    toks = docs.join(a, "doc_id").select(
        "cluster_id", F.explode(TXT.tokens("text")).alias("term")
    )
    tf = toks.groupBy("cluster_id", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    score = (
        F.round(
            F.col("tf").cast("double")
            * F.log(F.lit(float(k)) / F.col("df").cast("double")),
            6,
        )
        + F.lit(0.0)
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("score").desc(), F.col("tf").desc(), F.col("term").asc()
    )
    return (
        tf.join(F.broadcast(dfreq), "term")
        .withColumn("score", score)
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= top_terms)
        .select("cluster_id", "term", "tf", "score", "rk")
    )


def embedding_qa_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-store ingest QA: one row per label with exact counts and
    decimal-exact norm statistics — the sanity sweep run before an
    index build (dimension drift, zero vectors, norm collapse all
    show up here). Output (label, n_vecs, n_dims_bad, n_zero_norm,
    min_norm, max_norm, avg_norm)."""
    embs = load_embeddings(spark, sf_dir)
    # reference dimension = the min-vec_id row's (deterministic; the
    # SQL oracle anchors on the same row)
    dim = len(
        embs.orderBy(F.col("vec_id").asc()).select("embedding").first().embedding
    )
    norm = F.round(
        F.sqrt(
            F.aggregate(
                F.col("embedding"),
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
        ),
        6,
    ) + F.lit(0.0)
    return (
        embs.select(
            "label",
            norm.alias("norm"),
            (F.size("embedding") != F.lit(dim)).cast("int").alias("bad_dim"),
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.sum("bad_dim").cast("bigint").alias("n_dims_bad"),
            F.sum((F.col("norm") == 0.0).cast("int")).cast("bigint").alias(
                "n_zero_norm"
            ),
            F.min("norm").alias("min_norm"),
            F.max("norm").alias("max_norm"),
            (
                F.round(
                    F.sum(F.col("norm").cast("decimal(20,6)")).cast("double")
                    / F.count(F.lit(1)),
                    6,
                )
                + F.lit(0.0)
            ).alias("avg_norm"),
        )
    )


# ---------------------------------------------- Lloyd's k-means (exact)


def _sq_l2(emb, cent) -> F.Column:
    """Sequential left-fold of per-dim squared differences — the same
    double-fold contract as the cosine oracles (DuckDB's list_sum over
    the identical list folds left-to-right), so distances are
    bit-identical across engines."""
    # explicit multiply, NOT **2 (pow() routes through libm; the
    # product is a single exactly-rounded IEEE op in both engines)
    diffs = F.zip_with(
        emb,
        cent,
        lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def kmeans_lloyd(
    spark: SparkSession, sf_dir: str, k: int = 8, n_iter: int = 3
) -> DataFrame:
    """Lloyd's k-means with the full TRAINING LOOP engine-exact and
    oracle-backed — the iterative twin of ``cluster_assign``'s one-shot
    seeded anchors (and the from-first-principles version of the
    Spark-ML build behind the IVF index, which is rows-only by
    nature).

    Determinism contract (the logreg playbook applied to clustering):

    * init: centroids = the first k stored vectors (the seeded-anchor
      convention);
    * assignment: squared-L2 as a sequential double fold (identical in
      both engines), ROUND(...,9), argmin ties to the smaller
      cluster id;
    * update: per-(cluster, dim) mean as an exact DECIMAL(28,9) fold
      of ROUND(x, 9) members divided by the exact count, re-quantized
      ROUND(...,9) — partition-order independent, so the next
      iteration's centroids are bit-identical everywhere. Empty
      clusters keep their previous centroid.

    Scale shape: each iteration is one broadcast-k-centroids scoring
    pass (codegen fold, no shuffle) + one (cluster, dim)-keyed
    aggregation; the k×dim model round-trips the driver (the
    documented centroid-collect domain). Output: final assignment
    (vec_id, cluster_id, dist) with dist ROUND(...,6).
    """
    embs = load_embeddings(spark, sf_dir).select("vec_id", "embedding").persist()
    try:
        init = (
            embs.filter(F.col("vec_id") < k)
            .select("vec_id", "embedding")
            .collect()
        )
        cents = {int(r.vec_id): [float(x) for x in r.embedding] for r in init}

        def _assign(cdf):
            scored = embs.crossJoin(F.broadcast(cdf)).select(
                "vec_id",
                "embedding",
                "cluster_id",
                (F.round(_sq_l2(F.col("embedding"), F.col("c")), 9) + F.lit(0.0)).alias(
                    "d9"
                ),
            )
            return (
                scored.select(
                    "vec_id",
                    "embedding",
                    F.struct(
                        F.col("d9").alias("d9"), F.col("cluster_id").alias("cid")
                    ).alias("cand"),
                )
                .groupBy("vec_id", "embedding")
                .agg(F.min("cand").alias("best"))
                .select(
                    "vec_id",
                    "embedding",
                    F.col("best.cid").alias("cluster_id"),
                    F.col("best.d9").alias("d9"),
                )
            )

        for _ in range(n_iter):
            cdf = spark.createDataFrame(
                [(cid, c) for cid, c in sorted(cents.items())],
                "cluster_id bigint, c array<double>",
            )
            assigned = _assign(cdf)
            upd = (
                assigned.select(
                    "cluster_id", F.posexplode("embedding").alias("dim", "v")
                )
                .groupBy("cluster_id", "dim")
                .agg(
                    F.round(
                        F.sum(
                            F.round(F.col("v").cast("double"), 9).cast(
                                "decimal(28,9)"
                            )
                        ).cast("double")
                        / F.count(F.lit(1)),
                        9,
                    ).alias("m")
                )
                .collect()
            )
            new = {}
            for r in upd:
                new.setdefault(int(r.cluster_id), {})[int(r.dim)] = float(r.m)
            cents = {
                cid: (
                    [new[cid][d] for d in range(len(old))] if cid in new else old
                )
                for cid, old in cents.items()
            }
        cdf = spark.createDataFrame(
            [(cid, c) for cid, c in sorted(cents.items())],
            "cluster_id bigint, c array<double>",
        )
        return _assign(cdf).select(
            "vec_id",
            "cluster_id",
            (F.round(F.col("d9"), 6) + F.lit(0.0)).alias("dist"),
        )
    finally:
        embs.unpersist()
