"""Distributed logistic-regression text classifier (fastText-style).

The discriminative twin of ``classify.py``'s Naive Bayes — the
model-based filter step every large corpus pipeline runs (CCNet /
RefinedWeb / FineWeb train a linear classifier over hashed bag-of-words
features and score the whole corpus with it). Here BOTH halves are
distributed DataFrame programs:

- **Featurization** (one pass): tokens → md5-hashed buckets →
  per-(doc, bucket) term frequency, L1-normalized (``x = tf / n``).
  The feature stream is two ints + a double per row, independent of
  document width; hashing makes the model dimension a constant
  (``n_buckets``) regardless of vocabulary size.
- **Training** (``n_iter`` passes): full-batch gradient descent. Each
  iteration is ONE keyed aggregation over the cached feature table:
  margins fold per doc (broadcast join against the weight table),
  residual gradients fold per bucket (map-side combine), and the
  weight step happens on the ``n_buckets``-row model — which lives on
  the driver between iterations (bounded by the documented
  ``n_buckets`` domain, the same contract as the k-means centroid and
  PQ codebook collects). A 100 TB corpus trains in ``n_iter``
  shuffles of narrow (bucket, grad) pairs.
- **Scoring** (one pass): features LEFT-join the broadcast final
  model; per-doc decimal fold; docs the featurizer never saw score at
  the 0.5 prior.

Engine-exact numerics (the DuckDB gate): the link function is the
**softsign sigmoid** ``σ(m) = 0.5 + 0.5·m/(1+|m|)`` — every operation
in the whole training loop (multiply, divide, abs, add) is an
exactly-rounded IEEE-754 primitive, so Spark and DuckDB produce
bit-identical probabilities with NO transcendental (`exp`/`ln`) whose
libm could differ in the last ulp. Per-doc and per-bucket sums fold
``ROUND(term, 9)`` values in DECIMAL(28,9) (partition-order
independent); weights are re-quantized to 9 digits after every step,
so the model itself is exactly representable in both engines. The
label is the ``lang = 'en'`` flag (a learnable target over the real
token stream — the language-filter variant of the quality gate);
train/holdout split is ``doc_id % 5`` (deterministic, engine-portable).

Reference note: the reference engine (app.py) has no classifier
surface; extension scope per SURVEY.md ("beyond the reference").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..artifacts import persisted, session_memo
from ..functions import text as TXT
from ..sources.store import load_documents

#: hashed model dimension (buckets) — the collected model size.
N_BUCKETS = 512
#: full-batch GD iterations (each = one pass over the feature table).
N_ITER = 4
#: learning rate for the softsign-link updates — an INTEGER so the
#: weight step is exact decimal arithmetic (see train_weights).
LR = 2
#: md5 hex-prefix width for the bucket hash (dsir convention).
_HEX = 6


def _bucket(col) -> F.Column:
    """md5 6-hex-prefix integer mod N_BUCKETS (``dsir._bucket`` twin)."""
    return (
        F.conv(F.substring(F.md5(col), 1, _HEX), 16, 10).cast("bigint")
        % N_BUCKETS
    )


def _features(docs: DataFrame) -> DataFrame:
    """(doc_id, y, is_train, b, x): L1-normalized hashed-unigram tf.

    ``x = tf / n`` is a single IEEE division of exact integers —
    identical in both engines; empty documents contribute the ''
    token (the split-of-empty convention the DSIR featurizer shares),
    so every doc has ≥ 1 feature row.
    """
    toks = docs.select(
        "doc_id",
        (F.col("lang") == "en").cast("double").alias("y"),
        (F.col("doc_id") % 5 != 0).alias("is_train"),
        F.explode(TXT.tokens("text")).alias("tok"),
    )
    tf = toks.groupBy("doc_id", "y", "is_train", _bucket(F.col("tok")).alias("b")).agg(
        F.count("*").alias("tf")
    )
    n = tf.groupBy("doc_id").agg(F.sum("tf").alias("n"))
    return tf.join(n, "doc_id").select(
        "doc_id",
        "y",
        "is_train",
        "b",
        (F.col("tf").cast("double") / F.col("n").cast("double")).alias("x"),
    )


def _margins(feats: DataFrame, weights: DataFrame) -> DataFrame:
    """(doc_id, y, m): per-doc margin, exact decimal fold of
    ROUND(w*x, 9) terms. Buckets absent from the model contribute 0
    (left join)."""
    return (
        feats.join(F.broadcast(weights), "b", "left")
        .groupBy("doc_id", "y")
        .agg(
            F.sum(
                F.coalesce(
                    F.round(F.col("w") * F.col("x"), 9), F.lit(0.0)
                ).cast("decimal(28,9)")
            )
            .cast("double")
            .alias("m")
        )
    )


def _softsign_p(m) -> F.Column:
    """σ(m) = 0.5 + 0.5·m/(1+|m|) — exactly-rounded IEEE ops only."""
    return F.lit(0.5) + F.lit(0.5) * m / (F.lit(1.0) + F.abs(m))


def train_weights(
    spark: SparkSession, feats: DataFrame, n_iter: int = N_ITER, lr: int = LR
) -> dict[int, int]:
    """Full-batch GD over the train slice; returns {bucket: weight}
    with weights in EXACT integer nano-units (1e-9).

    The model (≤ N_BUCKETS rows) round-trips through the driver each
    iteration — the documented bounded-domain collect — so every
    iteration executes as one job over the persisted feature table
    instead of an ever-deepening lineage.

    ``lr`` must be an integer: the weight step ``w ← w − lr·g`` then
    stays inside exact DECIMAL(28,9) arithmetic (no rounding of any
    kind in the update), which is what lets the DuckDB oracle unroll
    the identical loop and land on bit-identical weights.
    """
    train = feats.filter("is_train").persist()
    try:
        buckets = [r.b for r in train.select("b").distinct().collect()]
        w = {int(b): 0 for b in buckets}  # nano-units
        for _ in range(n_iter):
            wdf = spark.createDataFrame(
                [(b, u / 1e9) for b, u in w.items()], "b bigint, w double"
            )
            probs = _margins(train, wdf).select(
                "doc_id", "y", _softsign_p(F.col("m")).alias("p")
            )
            grads = (
                train.join(probs, ["doc_id", "y"])
                .groupBy("b")
                .agg(
                    F.sum(
                        F.round(
                            (F.col("p") - F.col("y")) * F.col("x"), 9
                        ).cast("decimal(28,9)")
                    ).alias("g")
                )
                .collect()
            )
            for r in grads:
                w[int(r.b)] -= int(lr) * int(r.g.scaleb(9))
        return w
    finally:
        train.unpersist()


def trained_weights(
    spark: SparkSession, sf_dir: str, n_iter: int = N_ITER, lr: int = LR
) -> dict[int, int]:
    """Session memo of :func:`train_weights` over the corpus: every
    consumer (scoring, the report, the store build, the streaming
    scorer) shares one training pass."""

    def train() -> dict[int, int]:
        feats = _features(load_documents(spark, sf_dir)).persist()
        try:
            return train_weights(spark, feats, n_iter=n_iter, lr=lr)
        finally:
            feats.unpersist()

    return session_memo(
        spark, "logreg_weights", sf_dir, {"n_iter": n_iter, "lr": int(lr)}, train
    )


def _score_output(docs: DataFrame, feats: DataFrame, wdf: DataFrame) -> DataFrame:
    """The engine-exact scoring output contract shared by the
    in-session and store-served paths (round-11 review: ONE home for
    the ROUND(p,6)+0.0 / >=0.5-tie / doc_id%5-split rules the shared
    oracle relies on): (doc_id, split, y, score, y_pred)."""
    scored = _margins(feats, wdf).select(
        "doc_id", "y", _softsign_p(F.col("m")).alias("p")
    )
    return (
        docs.select(
            "doc_id",
            F.when(F.col("doc_id") % 5 != 0, F.lit("train"))
            .otherwise(F.lit("holdout"))
            .alias("split"),
        )
        .join(scored, "doc_id")
        .select(
            "doc_id",
            "split",
            F.col("y").cast("bigint").alias("y"),
            (F.round(F.col("p"), 6) + F.lit(0.0)).alias("score"),
            F.when(F.col("p") >= 0.5, F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("y_pred"),
        )
    )


def logreg_score(
    spark: SparkSession, sf_dir: str, n_iter: int = N_ITER, lr: int = LR
) -> DataFrame:
    """Train on the 80% split, score EVERY document: one row per doc
    (doc_id, split, y, score, y_pred). ``score`` is the softsign
    probability of the positive class, rounded to 6; the 0.5 tie
    predicts positive (a fixed, engine-portable convention)."""
    docs = load_documents(spark, sf_dir)
    w = trained_weights(spark, sf_dir, n_iter=n_iter, lr=lr)
    wdf = spark.createDataFrame(
        [(b, u / 1e9) for b, u in w.items()], "b bigint, w double"
    )
    return _score_output(docs, _features(docs), wdf)


def logreg_store_build(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    n_iter: int = N_ITER,
    lr: int = LR,
) -> dict:
    """Persist the trained classifier (round 11 — the lm_store/KMV
    discipline for the model-based filter family): one parquet of
    (b, w_nano) EXACT integer nano-unit weights plus meta. Scoring a
    new snapshot then reads ≤ N_BUCKETS rows instead of re-running the
    training iterations per session. No upsert on purpose: GD folds
    are not associative (unlike the KMV/KN5 count stores), so
    refreshing the model IS a retrain — the ivf rebuild analogy, not
    the count-fold one. Returns {n_buckets}."""
    import json as _json
    import os as _os

    w = trained_weights(spark, sf_dir, n_iter=n_iter, lr=lr)
    spark.createDataFrame(
        [(int(b), int(u)) for b, u in w.items()], "b bigint, w_nano bigint"
    ).coalesce(1).write.mode("overwrite").parquet(
        _os.path.join(path, "weights")
    )
    with open(_os.path.join(path, "_logreg_meta.json"), "w") as f:
        _json.dump({"n_iter": n_iter, "lr": int(lr)}, f)
    return {"n_buckets": len(w)}


def logreg_store_score(
    spark: SparkSession, sf_dir: str, path: str
) -> DataFrame:
    """Score every document against the PERSISTED weights — the exact
    integer nano-units reconstruct the identical double weight table,
    so store-served scores == :func:`logreg_score` byte-for-byte
    (shared oracle). Same output contract (doc_id, split, y, score,
    y_pred)."""
    docs = load_documents(spark, sf_dir)
    feats = _features(docs)
    wdf = (
        spark.read.parquet(f"{path}/weights")
        .select("b", (F.col("w_nano").cast("double") / F.lit(1e9)).alias("w"))
    )
    return _score_output(docs, feats, wdf)


def logreg_score_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate entry: build the store once (``artifacts.persisted``), score
    from it; == logreg_score (same oracle SQL)."""
    return persisted(
        "logregstore", sf_dir, {"n_iter": N_ITER, "lr": int(LR)},
        lambda out: logreg_store_build(spark, sf_dir, out),
        lambda path: logreg_store_score(spark, sf_dir, path),
    )


def logreg_report(
    spark: SparkSession, sf_dir: str, n_iter: int = N_ITER, lr: int = LR
) -> DataFrame:
    """Per-split confusion + accuracy of the trained classifier —
    the go/no-go a pipeline reads before enabling a model-based
    filter. Exact integer counts; accuracy ROUND(...,6)."""
    scored = logreg_score(spark, sf_dir, n_iter=n_iter, lr=lr)
    return (
        scored.groupBy("split")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum((F.col("y") == 1).cast("int")).cast("bigint").alias("n_pos"),
            F.sum(((F.col("y") == 1) & (F.col("y_pred") == 1)).cast("int"))
            .cast("bigint")
            .alias("tp"),
            F.sum(((F.col("y") == 0) & (F.col("y_pred") == 1)).cast("int"))
            .cast("bigint")
            .alias("fp"),
            F.sum(((F.col("y") == 1) & (F.col("y_pred") == 0)).cast("int"))
            .cast("bigint")
            .alias("fn"),
            F.sum(((F.col("y") == 0) & (F.col("y_pred") == 0)).cast("int"))
            .cast("bigint")
            .alias("tn"),
            (
                F.round(
                    F.sum((F.col("y") == F.col("y_pred")).cast("int"))
                    / F.count("*"),
                    6,
                )
                + F.lit(0.0)
            ).alias("accuracy"),
        )
    )


def logreg_calibration(
    spark: SparkSession, sf_dir: str, n_iter: int = N_ITER, lr: int = LR
) -> DataFrame:
    """Reliability report for the trained classifier: score-decile
    bins vs the empirical positive rate on the HOLDOUT split — the
    calibration read before using scores as admission probabilities
    (a miscalibrated filter silently shifts the corpus mix). Bins are
    exact integer floors of the rounded score; rates are ratios of
    exact counts. Output: (bin, n, n_pos, frac_pos, mean_score)."""
    scored = logreg_score(spark, sf_dir, n_iter=n_iter, lr=lr).filter(
        F.col("split") == "holdout"
    )
    b = F.least(F.floor(F.col("score") * 10).cast("int"), F.lit(9))
    return (
        scored.groupBy(b.alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("n_pos"),
            (
                F.round(F.sum("y").cast("double") / F.count(F.lit(1)), 6)
                + F.lit(0.0)
            ).alias("frac_pos"),
            (
                F.round(
                    F.sum(F.col("score").cast("decimal(28,9)")).cast("double")
                    / F.count(F.lit(1)),
                    6,
                )
                + F.lit(0.0)
            ).alias("mean_score"),
        )
        .select(F.col("bin").cast("bigint").alias("bin"), "n", "n_pos",
                "frac_pos", "mean_score")
    )


def active_learning_batch(
    spark: SparkSession, sf_dir: str, k: int = 25,
    n_iter: int = N_ITER, lr: int = LR,
) -> DataFrame:
    """Uncertainty sampling: the k holdout documents the classifier is
    LEAST sure about (|score − 0.5| smallest, ties by doc_id) — the
    batch a labeling loop sends to annotators next. Margin is exact
    arithmetic on the rounded score; the cut is a
    TakeOrderedAndProject, never a global sort."""
    scored = logreg_score(spark, sf_dir, n_iter=n_iter, lr=lr).filter(
        F.col("split") == "holdout"
    )
    margin = F.round(F.abs(F.col("score") - F.lit(0.5)), 6) + F.lit(0.0)
    w = Window.orderBy(F.col("margin").asc(), F.col("doc_id").asc())
    return (
        scored.withColumn("margin", margin)
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= k)
        .select("doc_id", "score", "margin", "rk")
    )
