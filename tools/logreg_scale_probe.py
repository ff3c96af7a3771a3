"""Logistic-regression training cost vs corpus size.

The claim to verify (SCALING.md): one GD iteration costs one keyed
aggregation over the (doc, bucket, x) feature table, so training time
scales linearly in corpus size and is independent of vocabulary (the
hashed feature space is constant). Also measures the featurize pass
and the scoring join separately.

Usage: python tools/logreg_scale_probe.py [n_docs ...]
(default 25_000 100_000 400_000)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ydb_vector_search_simple_api_spark.operators import logreg


def synth_docs(spark, n):
    """Synthetic corpus with a learnable signal and a WIDE vocabulary
    (~n distinct tokens, so hashing genuinely compresses)."""
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.when(F.col("id") % 2 == 0, F.lit("alpha beta ")).otherwise(
                F.lit("gamma delta ")
            ),
            F.format_string("rare%d tail%d common%d", F.col("id"),
                            (F.col("id") * 7) % (F.col("id") + 1),
                            F.col("id") % 97),
        ).alias("text"),
        F.when(F.col("id") % 2 == 0, F.lit("en")).otherwise(F.lit("fr")).alias(
            "lang"
        ),
        F.lit("s").alias("source"),
        F.lit(32).cast("bigint").alias("n_chars"),
    )


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:]] or [25_000, 100_000, 400_000]
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    for n in sizes:
        docs = synth_docs(spark, n)
        t0 = time.time()
        feats = logreg._features(docs).persist()
        nf = feats.count()
        t_feat = time.time() - t0
        t0 = time.time()
        w = logreg.train_weights(spark, feats, n_iter=4)
        t_train = time.time() - t0
        t0 = time.time()
        wdf = spark.createDataFrame(
            [(b, u / 1e9) for b, u in w.items()], "b bigint, w double"
        )
        scored = logreg._margins(feats, wdf)
        acc = (
            scored.select(
                "doc_id",
                "y",
                logreg._softsign_p(F.col("m")).alias("p"),
            )
            .select(
                (
                    (F.col("p") >= 0.5).cast("int")
                    == F.col("y").cast("int")
                ).cast("int").alias("ok")
            )
            .agg(F.avg("ok"))
            .collect()[0][0]
        )
        t_score = time.time() - t0
        feats.unpersist()
        print(
            f"n_docs={n:>7}  feature_rows={nf:>9}  featurize={t_feat:5.1f}s  "
            f"train(4 iters)={t_train:5.1f}s  score={t_score:4.1f}s  "
            f"train_acc={acc:.3f}"
        )


if __name__ == "__main__":
    main()
