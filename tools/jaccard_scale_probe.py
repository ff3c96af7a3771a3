"""Measured scale evidence for the n-gram Jaccard join family:
exact inverted-index self-join vs the prefix-filtering (SSJoin/PPJoin)
join vs MinHash+LSH candidates, on an amplified corpus.

Amplification here must NOT replicate texts verbatim (identical
replicas are all mutual near-dups -> output pairs grow quadratically
in the replica count and swamp every path equally). Instead each
replica interleaves a replica-unique token between every two corpus
tokens: every 3-shingle then contains the replica token, so
cross-replica Jaccard is ~0, while within one replica the planted
near-dup structure of the base corpus is preserved. Output pair count
stays LINEAR in corpus size — the probe measures join mechanics, not
result-set writing.

``--header`` switches to the BOILERPLATE regime: every document is
prefixed with the same license-notice sentence (raw, not salted), so
its shingles have document frequency = N — the corpus-wide hot keys
(templates, boilerplate, navigation chrome) that blow the exact
inverted-index join up quadratically on real web corpora. Boilerplate
-only overlap stays far below the 0.8 threshold, so the ANSWER is
unchanged — only the join mechanics differ. ``--exact-max N`` skips
the exact join above N docs (it is the path that explodes).

``--rare-tail`` (implies the header) salts the interleave token per
document group instead of per replica: every document then has a
long rare-shingle tail under the corpus-wide hot boilerplate head —
the bimodal document-frequency distribution of real web corpora
(template chrome + unique content). Prefix filtering's premise holds
only in this regime: each doc's RAREST shingles are near-unique, so
prefixes almost never collide and candidates collapse to the true
near-dup pairs.

Usage: python tools/jaccard_scale_probe.py [--header] [--rare-tail]
       [--exact-max N] [n_docs ...]
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
    sizes = [int(a) for a in args] or [50_000, 200_000]

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from ydb_vector_search_simple_api_spark.functions import text as TXT
    from ydb_vector_search_simple_api_spark.operators import dedup
    from ydb_vector_search_simple_api_spark.sources.store import load_documents

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("jaccard-scale-probe")
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
        tmp = tempfile.mkdtemp(prefix="svs_jacprobe_")
        # interleave a salt token between every two corpus tokens:
        # every n>=2 shingle carries it. Per-REPLICA salt keeps the
        # base corpus's df distribution within each replica; per-
        # DOC-GROUP salt (--rare-tail) makes body shingles near-unique
        # (df ~ group collision rate), leaving the header as the only
        # hot keys.
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
        text = (
            F.concat_ws(" ", F.lit(HEADER), body) if header_mode else body
        )
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

        def timed(fn, runs: int = 2) -> tuple[float, int]:
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
                lambda: dedup.ngram_jaccard_pairs(corpus, n=3, threshold=0.8)
                .count(),
            ),
            (
                "prefix-filter join (SSJoin)",
                lambda: dedup.ngram_jaccard_prefix_pairs(
                    corpus, n=3, threshold=0.8
                ).count(),
            ),
            (
                "minhash+lsh (xxhash64)",
                lambda: dedup.minhash_lsh_pairs(corpus, n=3, threshold=0.8)
                .count(),
            ),
        ]
        for name, fn in paths:
            if name.startswith("exact") and n_actual > exact_max:
                print(f"  {n_actual:,} docs  {name:30s}  SKIPPED (--exact-max)")
                continue
            sec, n_pairs = timed(fn)
            rows.append((n_actual, name, sec, n_pairs))
            print(f"  {n_actual:,} docs  {name:30s} {sec:8.1f}s  pairs={n_pairs}")

    print("\n| docs | path | best wall (s) | pairs |")
    print("|---|---|---|---|")
    for n_actual, name, sec, n_pairs in rows:
        print(f"| {n_actual:,} | {name} | {sec:.1f} | {n_pairs:,} |")
    spark.stop()


if __name__ == "__main__":
    main()
