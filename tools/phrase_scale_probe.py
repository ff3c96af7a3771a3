"""Phrase search: positional-store serving vs full-scan matching.

The scan form pays one array lambda over every document; the store
form reads ONLY the phrase terms' row groups of the token-range-
partitioned positional postings. This probe measures both on a
synthetic corpus large enough for the scan to hurt, and asserts the
outputs identical.

Usage: python tools/phrase_scale_probe.py [n_docs]   (default 1_000_000)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ydb_vector_search_simple_api_spark.operators.ranking import (
    build_positional_postings,
    phrase_match_positions,
    phrase_search_indexed,
)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    # ~40-token docs from a 1k-word vocabulary; the probe phrase is a
    # deliberately rare adjacent pair
    words = F.transform(
        F.sequence(F.lit(0), F.lit(39)),
        lambda i: F.concat(
            F.lit("w"), ((F.col("id") * 31 + i * 7) % 997).cast("string")
        ),
    )
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.when(F.col("id") % 1000 == 0, F.array(F.lit("needle"), F.lit("pair")))
            .otherwise(F.array().cast("array<string>")),
            words,
        ).alias("text"),
    )
    out = "/tmp/svs_phrase_probe"
    t0 = time.time()
    build_positional_postings(spark, docs, out)
    t_build = time.time() - t0

    phrase = ["needle", "pair"]
    t0 = time.time()
    scan = {r.doc_id: (r.n_matches, r.first_pos)
            for r in phrase_match_positions(docs, phrase).collect()}
    t_scan = time.time() - t0
    t0 = time.time()
    store = {r.doc_id: (r.n_matches, r.first_pos)
             for r in phrase_search_indexed(spark, out, phrase).collect()}
    t_store = time.time() - t0
    assert scan == store and len(scan) == n // 1000, (len(scan), len(store))
    print(
        f"n_docs={n}  matches={len(scan)}\n"
        f"store build (once): {t_build:.1f}s\n"
        f"full-scan match   : {t_scan:.1f}s\n"
        f"store serving     : {t_store:.1f}s  ({t_scan / t_store:.1f}x)"
    )


if __name__ == "__main__":
    main()
