"""Measured scale evidence for the weighted (TF-IDF) cosine
similarity join family: exact inverted-index self-join vs the
AllPairs prefix-indexed join (Bayardo et al. WWW 2007), on the same
amplified-corpus regimes as tools/jaccard_scale_probe.py.

The weighted join's pruning premise differs from the Jaccard one:
the index cut is by unit-vector SUFFIX NORM (keep a feature while
the remaining L2 mass >= t), so its selectivity depends on where the
tf-idf MASS sits, not just on raw document frequency. Boilerplate
shingles are hot (df ~ N) and therefore carry near-zero idf weight —
they sort last in the rare-first order AND contribute almost no
mass, so at near-dup thresholds the index holds only each doc's
heavy rare features while the exact join still has to materialize
every hot-key pair.

Regimes (same salting as the Jaccard probe):
- default: per-replica salt — base corpus df distribution preserved.
- --header: corpus-wide boilerplate sentence prefixed to every doc.
  NOTE: for the WEIGHTED join this regime is degenerate — df == N
  features carry idf 0 and BOTH twins drop them, so use
  --header-frac instead.
- --header-frac F: the boilerplate lands on fraction F of the docs
  (df = F·N < N): the header shingles stay in the feature set as
  HOT, LOW-WEIGHT keys — the exact inverted join pays ~(F·N)²/2 rows
  per header shingle while the prefix index never admits them at
  near-dup thresholds (low unit weight ⇒ deep in the suffix). The
  weighted join's genuine blow-up case.
- --rare-tail: per-doc-group salt under the header — the bimodal df
  distribution of real web text.

Usage: python tools/cosine_weighted_probe.py [--header] [--rare-tail]
       [--header-frac F] [--exact-max N] [--threshold T] [n_docs ...]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADER = (
    "this dataset is released under the creative commons attribution"
    " license please cite the corpus accordingly"
)


def main():
    args = sys.argv[1:]
    rare_tail = "--rare-tail" in args
    header_mode = "--header" in args or rare_tail
    args = [a for a in args if a not in ("--header", "--rare-tail")]
    exact_max = float("inf")
    if "--exact-max" in args:
        i = args.index("--exact-max")
        exact_max = int(args[i + 1])
        del args[i : i + 2]
    threshold = 0.9
    if "--threshold" in args:
        i = args.index("--threshold")
        threshold = float(args[i + 1])
        del args[i : i + 2]
    header_frac = None
    if "--header-frac" in args:
        i = args.index("--header-frac")
        header_frac = float(args[i + 1])
        del args[i : i + 2]
    sizes = [int(a) for a in args] or [50_000, 200_000]

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from ydb_vector_search_simple_api_spark.functions import text as TXT
    from ydb_vector_search_simple_api_spark.operators import sparse_sim
    from ydb_vector_search_simple_api_spark.sources.store import load_documents

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("cosine-weighted-probe")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.driver.memory", "24g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    base = load_documents(spark, "/root/testdata/sf0.1").select("doc_id", "text")
    n_base = base.count()
    rows = []
    for n_docs in sizes:
        reps = (n_docs + n_base - 1) // n_base
        tmp = tempfile.mkdtemp(prefix="svs_cosprobe_")
        new_id = F.col("doc_id") + F.col("rep") * n_base
        salt = (
            F.concat(F.lit("zd"), (new_id % 997).cast("string"),
                     F.lit("x"), (new_id % 101).cast("string"))
            if rare_tail
            else F.concat(F.lit("zrep"), F.col("rep"))
        )
        body = F.array_join(
            F.flatten(
                F.transform(
                    TXT.tokens("text"),
                    lambda t: F.array(t, salt),
                )
            ),
            " ",
        )
        if header_frac is not None:
            text = F.when(
                new_id % 100 < int(header_frac * 100),
                F.concat_ws(" ", F.lit(HEADER), body),
            ).otherwise(body)
        elif header_mode:
            text = F.concat_ws(" ", F.lit(HEADER), body)
        else:
            text = body
        (
            base.crossJoin(spark.range(reps).select(F.col("id").alias("rep")))
            .select(
                (F.col("doc_id") + F.col("rep") * n_base).alias("doc_id"),
                text.alias("text"),
            )
            .limit(n_docs)
            .repartition(32)
            .write.mode("overwrite")
            .parquet(f"{tmp}/documents.parquet")
        )
        corpus = spark.read.parquet(f"{tmp}/documents.parquet")
        n_actual = corpus.count()

        def timed(fn, runs: int = 1) -> tuple[float, int]:
            # one warm pass (scan cache) + `runs` timed; the big
            # regimes are minutes per pass, so default to best-of-1
            out = fn()
            best = float("inf")
            for _ in range(runs):
                t0 = time.perf_counter()
                out = fn()
                best = min(best, time.perf_counter() - t0)
            return best, out

        paths = [
            (
                "exact inverted-index join",
                lambda: sparse_sim.tfidf_cosine_pairs(
                    corpus, n=3, threshold=threshold
                ).count(),
            ),
            (
                "prefix-indexed join (AllPairs)",
                lambda: sparse_sim.tfidf_cosine_prefix_pairs(
                    corpus, n=3, threshold=threshold
                ).count(),
            ),
        ]
        for name, fn in paths:
            if name.startswith("exact") and n_actual > exact_max:
                print(f"  {n_actual:,} docs  {name:32s}  SKIPPED (--exact-max)")
                continue
            sec, n_pairs = timed(fn)
            rows.append((n_actual, name, sec, n_pairs))
            print(f"  {n_actual:,} docs  {name:32s} {sec:8.1f}s  pairs={n_pairs}")

    print(f"\nthreshold={threshold}")
    print("| docs | path | best wall (s) | pairs |")
    print("|---|---|---|---|")
    for n_actual, name, sec, n_pairs in rows:
        print(f"| {n_actual:,} | {name} | {sec:.1f} | {n_pairs:,} |")
    spark.stop()


if __name__ == "__main__":
    main()
