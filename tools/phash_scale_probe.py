"""Banded-Hamming blocking vs all-pairs for 64-bit perceptual hashes.

Synthetic hash corpora (xxhash64 of the id = uniform random 64-bit
fingerprints, plus planted near-dups at Hamming ≤ 3 for 10% of ids so
the verify stage has real hits) at several sizes; measures
``dhash_pairs`` (banded blocking + exact verify) against
``dhash_pairs_exact`` (cross-join) where the latter is feasible.

Usage: python tools/phash_scale_probe.py [n ...]   (default 20000 200000)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ydb_vector_search_simple_api_spark.operators import imagededup as IM

EXACT_FEASIBLE = 120_000


def build_hashes(spark, n: int):
    """n uniform 64-bit hashes; ids ending in 9 get a near-dup of
    id-9's hash (3 low bits flipped — Hamming 3)."""
    base = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.xxhash64((F.col("id") - (F.col("id") % 10)).cast("string")).alias(
            "h0"
        ),
    )
    return base.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 9, F.col("h0").bitwiseXOR(F.lit(7))
        )
        .otherwise(F.xxhash64(F.col("doc_id").cast("string")))
        .alias("dhash"),
    )


def main():
    sizes = [int(a) for a in sys.argv[1:]] or [20_000, 200_000]
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    for n in sizes:
        hashes = build_hashes(spark, n).cache()
        hashes.count()
        # warm + best-of-2 for the blocked path
        IM.dhash_pairs(hashes, max_hamming=10).count()
        tb, nb = [], None
        for _ in range(2):
            t0 = time.time()
            nb = IM.dhash_pairs(hashes, max_hamming=10).count()
            tb.append(time.time() - t0)
        line = f"n={n:>7}  blocked: {min(tb):6.2f}s  pairs={nb}"
        if n <= EXACT_FEASIBLE:
            IM.dhash_pairs_exact(hashes, max_hamming=10).count()
            te, ne = [], None
            for _ in range(2):
                t0 = time.time()
                ne = IM.dhash_pairs_exact(hashes, max_hamming=10).count()
                te.append(time.time() - t0)
            # pigeonhole guarantees recall only to radius n_bands-1=3:
            # planted dups (HD 3) are always found; random pairs at
            # HD 4-10 with bits spread across all 4 bands can be missed
            line += (
                f"  exact: {min(te):6.2f}s  speedup={min(te)/min(tb):.1f}x"
                f"  exact_pairs={ne} (blocked recall "
                f"{nb / ne:.4f}; planted HD<=3 recall is 1.0 by pigeonhole)"
            )
        else:
            line += "  exact: skipped (all-pairs infeasible at this n)"
        print(line, flush=True)
        hashes.unpersist()


if __name__ == "__main__":
    main()
