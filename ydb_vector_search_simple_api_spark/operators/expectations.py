"""Declarative data-quality verification over a corpus table —
unit tests for data, in the style of Deequ (Schelter et al.,
"Automating Large-Scale Data Quality Verification", VLDB 2018).

The reference has no data-quality surface (its only check is the
``SELECT 1`` probe, app.py:89-102); this is north-star extension
scope: before a 100 TB corpus feeds a training run, the pipeline
asserts completeness / uniqueness / domain-compliance / consistency
invariants and fails fast with a per-constraint report.

Scale shape: ONE aggregation pass over the table computes every
metric (Spark fuses the agg expressions into a single partial+final
hash aggregate — no per-constraint scans, which is the whole Deequ
point), the single metric row is unpivoted to (check, metric) rows,
and the declared bounds arrive as a broadcast literal frame. Adding a
constraint adds an expression, not a scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.store import load_documents

LANG_DOMAIN = ("de", "en", "es", "fr", "zh")

# (check_name, lower_bound, upper_bound) — metric must land inclusive.
# Fractions are exact integer counts divided once; bounds on means are
# sanity ranges, not tuned numbers.
DOCUMENT_CHECKS: tuple[tuple[str, float, float], ...] = (
    ("size_min", 100.0, float("inf")),
    ("complete_text", 1.0, 1.0),
    ("complete_lang", 1.0, 1.0),
    ("complete_source", 1.0, 1.0),
    ("unique_doc_id", 1.0, 1.0),
    ("lang_in_domain", 0.999, 1.0),
    ("nonempty_text", 1.0, 1.0),
    ("consistent_n_chars", 1.0, 1.0),
    ("min_n_chars", 1.0, float("inf")),
    ("max_n_chars", 0.0, 100000.0),
    ("mean_n_chars", 10.0, 10000.0),
)


def _frac(cond, n) -> F.Column:
    """Exact fraction: integer conditional count divided once."""
    return F.round(
        F.sum(F.when(cond, 1).otherwise(0)).cast("double") / n.cast("double"), 6
    ) + F.lit(0.0)


def expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the document-table constraint suite.

    Output (check_name, metric, passed) — one row per declared
    constraint, metric ROUND(6) double, passed = metric within the
    declared inclusive bounds.
    """
    d = load_documents(spark, sf_dir)
    n = F.count(F.lit(1))
    metrics = d.agg(
        n.cast("double").alias("size_min"),
        _frac(F.col("text").isNotNull(), n).alias("complete_text"),
        _frac(F.col("lang").isNotNull(), n).alias("complete_lang"),
        _frac(F.col("source").isNotNull(), n).alias("complete_source"),
        (
            F.round(F.count_distinct("doc_id").cast("double") / n.cast("double"), 6)
            + F.lit(0.0)
        ).alias("unique_doc_id"),
        _frac(F.col("lang").isin(*LANG_DOMAIN), n).alias("lang_in_domain"),
        _frac(F.length("text") > 0, n).alias("nonempty_text"),
        _frac(F.col("n_chars") == F.length("text"), n).alias("consistent_n_chars"),
        F.min("n_chars").cast("double").alias("min_n_chars"),
        F.max("n_chars").cast("double").alias("max_n_chars"),
        (
            F.round(F.sum("n_chars").cast("double") / n.cast("double"), 6)
            + F.lit(0.0)
        ).alias("mean_n_chars"),
    )
    stack_args: list = []
    for name, _, _ in DOCUMENT_CHECKS:
        stack_args += [F.lit(name), F.col(name)]
    long = metrics.select(
        F.stack(F.lit(len(DOCUMENT_CHECKS)), *stack_args).alias("check_name", "metric")
    )
    bounds = spark.createDataFrame(
        [(name, lo, hi) for name, lo, hi in DOCUMENT_CHECKS],
        "check_name string, lo double, hi double",
    )
    return (
        long.join(F.broadcast(bounds), "check_name")
        .select(
            "check_name",
            "metric",
            ((F.col("metric") >= F.col("lo")) & (F.col("metric") <= F.col("hi"))).alias(
                "passed"
            ),
        )
    )


EVENT_TYPE_DOMAIN = ("click", "error", "purchase", "signup", "view")

# the events-table suite: same declaration-once contract, stream-shaped
# invariants (monotone ids are NOT assumed — only key health, domains,
# and value sanity a feature pipeline depends on).
EVENT_CHECKS: tuple[tuple[str, float, float], ...] = (
    ("size_min", 100.0, float("inf")),
    ("complete_event_id", 1.0, 1.0),
    ("complete_ts", 1.0, 1.0),
    ("complete_user_id", 1.0, 1.0),
    ("complete_event_type", 1.0, 1.0),
    ("unique_event_id", 1.0, 1.0),
    ("type_in_domain", 0.999, 1.0),
    ("value_non_negative", 1.0, 1.0),
    ("mean_value_range", 0.0, 100000.0),
)


def expectations_report_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events-table constraint suite — same single fused
    aggregation + broadcast-bounds plan as the documents suite.
    Output (check_name, metric, passed)."""
    from ..sources.store import load_events

    d = load_events(spark, sf_dir)
    n = F.count(F.lit(1))
    metrics = d.agg(
        n.cast("double").alias("size_min"),
        _frac(F.col("event_id").isNotNull(), n).alias("complete_event_id"),
        _frac(F.col("ts").isNotNull(), n).alias("complete_ts"),
        _frac(F.col("user_id").isNotNull(), n).alias("complete_user_id"),
        _frac(F.col("event_type").isNotNull(), n).alias("complete_event_type"),
        (
            F.round(
                F.count_distinct("event_id").cast("double") / n.cast("double"), 6
            )
            + F.lit(0.0)
        ).alias("unique_event_id"),
        _frac(F.col("event_type").isin(*EVENT_TYPE_DOMAIN), n).alias(
            "type_in_domain"
        ),
        _frac(F.col("value").isNull() | (F.col("value") >= 0), n).alias(
            "value_non_negative"
        ),
        (
            # per-row ROUND(9) -> decimal sum: order-invariant and
            # engine-portable (the bigram_logprob float contract)
            F.round(
                F.sum(
                    F.round(F.coalesce(F.col("value"), F.lit(0.0)), 9).cast(
                        "decimal(28,9)"
                    )
                ).cast("double")
                / n.cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("mean_value_range"),
    )
    stack_args: list = []
    for name, _, _ in EVENT_CHECKS:
        stack_args += [F.lit(name), F.col(name)]
    long = metrics.select(
        F.stack(F.lit(len(EVENT_CHECKS)), *stack_args).alias("check_name", "metric")
    )
    bounds = spark.createDataFrame(
        [(name, lo, hi) for name, lo, hi in EVENT_CHECKS],
        "check_name string, lo double, hi double",
    )
    return long.join(F.broadcast(bounds), "check_name").select(
        "check_name",
        "metric",
        ((F.col("metric") >= F.col("lo")) & (F.col("metric") <= F.col("hi"))).alias(
            "passed"
        ),
    )


EMBEDDING_DIM = 64

EMBEDDING_CHECKS: tuple[tuple[str, float, float], ...] = (
    ("size_min", 100.0, float("inf")),
    ("complete_vec_id", 1.0, 1.0),
    ("complete_embedding", 1.0, 1.0),
    ("unique_vec_id", 1.0, 1.0),
    ("dim_consistent", 1.0, 1.0),
    ("finite_components", 1.0, 1.0),
    ("norm_nonzero", 1.0, 1.0),
    ("mean_norm_range", 0.01, 100.0),
)


def expectations_report_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The embeddings-table constraint suite — the invariants an ANN
    index build assumes (fixed dimension, finite components, non-zero
    norms for cosine). Same single fused aggregation + broadcast
    bounds plan as the documents/events suites. Output (check_name,
    metric, passed)."""
    from ..functions.distance import l2_norm
    from ..sources.store import load_embeddings

    d = load_embeddings(spark, sf_dir)
    n = F.count(F.lit(1))
    emb = F.col("embedding")
    bad_component = F.exists(
        emb,
        lambda x: F.isnan(x.cast("double"))
        | (F.abs(x.cast("double")) == F.lit(float("inf"))),
    )
    metrics = d.agg(
        n.cast("double").alias("size_min"),
        _frac(F.col("vec_id").isNotNull(), n).alias("complete_vec_id"),
        _frac(emb.isNotNull(), n).alias("complete_embedding"),
        (
            F.round(
                F.count_distinct("vec_id").cast("double") / n.cast("double"), 6
            )
            + F.lit(0.0)
        ).alias("unique_vec_id"),
        _frac(F.size(emb) == EMBEDDING_DIM, n).alias("dim_consistent"),
        _frac(emb.isNotNull() & ~bad_component, n).alias("finite_components"),
        _frac(
            F.exists(emb, lambda x: x.cast("double") != 0.0), n
        ).alias("norm_nonzero"),
        (
            # per-row ROUND(9) norm -> decimal sum (the float contract)
            F.round(
                F.sum(F.round(l2_norm("embedding"), 9).cast("decimal(28,9)")).cast(
                    "double"
                )
                / n.cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("mean_norm_range"),
    )
    stack_args: list = []
    for name, _, _ in EMBEDDING_CHECKS:
        stack_args += [F.lit(name), F.col(name)]
    long = metrics.select(
        F.stack(F.lit(len(EMBEDDING_CHECKS)), *stack_args).alias(
            "check_name", "metric"
        )
    )
    bounds = spark.createDataFrame(
        [(name, lo, hi) for name, lo, hi in EMBEDDING_CHECKS],
        "check_name string, lo double, hi double",
    )
    return long.join(F.broadcast(bounds), "check_name").select(
        "check_name",
        "metric",
        (
            (F.col("metric") >= F.col("lo")) & (F.col("metric") <= F.col("hi"))
        ).alias("passed"),
    )
