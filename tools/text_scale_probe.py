"""Measured scale evidence for the TEXT family: amplify the sf0.1
documents to N rows (deterministic replicas with a per-replica suffix
so content hashes differ but the token distribution is preserved),
write them as parquet once, then time the corpus-pass operators at a
size where the shapes matter:

* text_stats-style narrow projection (the scan-bound floor)
* bm25_scores for a 3-term query (narrow-array formulation)
* exact_dup_groups (1 keyed shuffle on the content md5)
* winnowing digest (hash + window minima behind the barrier)
* bpe_pair_counts (vocab-aggregate-first formulation)
* weak_labels (regex panel, pure codegen)

Each time is best-of-2 after a warmup, whole action. Writes a
markdown table to stdout (recorded in SCALING.md §"Measured text
probe").

Usage: python tools/text_scale_probe.py [n_docs]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def timed(fn, runs: int = 2) -> float:
    fn()
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def main():
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    only = sys.argv[2] if len(sys.argv) > 2 else None  # substring filter
    sf_dir = "/root/testdata/sf0.1"

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from ydb_vector_search_simple_api_spark.functions import text as TXT
    from ydb_vector_search_simple_api_spark.operators import dedup, ranking, textual
    from ydb_vector_search_simple_api_spark.sources.store import load_documents

    # all of this host's cores, and a driver of half its memory
    cpus = os.cpu_count() or 1
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("text-scale-probe")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", f"{max(1, mem_gb // 2)}g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    base = load_documents(spark, sf_dir).select("doc_id", "text", "lang", "source")
    n_base = base.count()
    reps = (n_docs + n_base - 1) // n_base
    tmp = tempfile.mkdtemp(prefix="svs_textprobe_")
    t0 = time.perf_counter()
    (
        base.crossJoin(
            spark.range(reps).select(F.col("id").alias("rep"))
        )
        .select(
            (F.col("doc_id") + F.col("rep") * n_base).alias("doc_id"),
            # per-replica suffix: distinct content hashes, same token mass
            F.concat_ws(" ", "text", F.concat(F.lit("rep"), F.col("rep"))).alias(
                "text"
            ),
            "lang",
            "source",
        )
        .limit(n_docs)
        .repartition(32)
        .write.mode("overwrite")
        .parquet(f"{tmp}/documents.parquet")
    )
    gen_s = time.perf_counter() - t0
    corpus = f"{tmp}"
    n_actual = spark.read.parquet(f"{corpus}/documents.parquet").count()
    tok_total = (
        spark.read.parquet(f"{corpus}/documents.parquet")
        .select(F.sum(F.size(TXT.tokens("text"))).alias("s"))
        .head()
        .s
    )

    rows = []

    def probe(name, fn):
        if only and only not in name:
            return
        sec = timed(fn)
        rows.append((name, sec, n_actual / sec / 1e6))

    probe(
        "narrow text_stats projection",
        lambda: textual.text_stats(spark, corpus).agg(F.sum("n_tokens")).collect(),
    )
    probe(
        "bm25_scores (3 terms)",
        lambda: ranking.bm25_scores(
            load_documents(spark, corpus), ranking.QUERY_TERMS
        ).agg(F.sum("score")).collect(),
    )
    probe(
        "exact_dup_groups",
        lambda: dedup.exact_dup_groups(load_documents(spark, corpus))
        .agg(F.count(F.lit(1)))
        .collect(),
    )
    probe(
        "winnowing digest",
        lambda: textual.winnowing_digest(spark, corpus).agg(F.sum("n_fps")).collect(),
    )
    probe(
        "winnowing digest (arrow)",
        lambda: textual.winnowing_digest_arrow(spark, corpus)
        .agg(F.sum("n_fps"))
        .collect(),
    )
    probe(
        "bpe_pair_counts",
        lambda: textual.bpe_pair_counts(spark, corpus, top_n=30).collect(),
    )
    probe(
        "weak_labels",
        lambda: textual.weak_labels(spark, corpus).agg(F.sum("n_votes")).collect(),
    )
    probe(
        "duplicate_spans (k=8)",
        lambda: dedup.duplicate_spans(load_documents(spark, corpus))
        .agg(F.sum("dup_tokens"))
        .collect(),
    )
    # decontamination at the 100 TB asymmetry: benchmark = the src0
    # ORIGINALS only (fixed size), training side = the multiplied
    # corpus. Replicas of bench docs contain their shingles, so this
    # is a contamination-heavy worst case — the verify join is
    # identical for both paths; the delta isolates the admission
    # mechanics (exploded string hash-join vs packed-array bitset
    # probe).
    from ydb_vector_search_simple_api_spark.operators import curation

    bench_pred = (F.col("source") == "src0") & (F.col("doc_id") < n_base)
    probe(
        "decontaminate exact (bench=src0 originals)",
        lambda: curation.decontaminate(
            load_documents(spark, corpus), bench_pred, n=8, min_containment=0.3
        )
        .agg(F.count(F.lit(1)))
        .collect(),
    )
    probe(
        "decontaminate_bloom (same bench)",
        lambda: curation.decontaminate_bloom(
            load_documents(spark, corpus), bench_pred, n=8, min_containment=0.3
        )
        .agg(F.count(F.lit(1)))
        .collect(),
    )
    # the REALISTIC regime: the benchmark is its OWN small table
    # (bench_df — eval sets live in a separate store in production,
    # not scattered through the corpus, so neither path pays a
    # corpus-wide scan just to read the benchmark) and contamination
    # is rare (train side excludes the benchmark's replicas). This is
    # the case the Bloom admission exists for — the exact path still
    # pays the corpus-sized explode+join+distinct, the sketch path
    # shingles+probes map-side and verifies ~nothing. The worst case
    # above (every 4th doc a benchmark replica) shows the flip side:
    # when admission approaches the corpus, verify dominates both.
    bench_dir = f"{tmp}/bench.parquet"
    load_documents(spark, corpus).filter(bench_pred).repartition(4).write.mode(
        "overwrite"
    ).parquet(bench_dir)
    bench_docs = spark.read.parquet(bench_dir)
    sparse_train = load_documents(spark, corpus).filter(F.col("source") != "src0")
    probe(
        "decontaminate exact (sparse, separate bench table)",
        lambda: curation.decontaminate(
            sparse_train, F.lit(False), n=8, min_containment=0.3,
            bench_df=bench_docs,
        )
        .agg(F.count(F.lit(1)))
        .collect(),
    )
    probe(
        "decontaminate_bloom (sparse, separate bench table)",
        lambda: curation.decontaminate_bloom(
            sparse_train, F.lit(False), n=8, min_containment=0.3,
            bench_df=bench_docs,
        )
        .agg(F.count(F.lit(1)))
        .collect(),
    )

    print(f"\nText probe: {n_actual:,} docs / {tok_total:,} tokens "
          f"(generated in {gen_s:.1f}s, local[{cpus}])\n")
    print("| operator | best wall (s) | M docs/s |")
    print("|---|---|---|")
    for name, sec, mps in rows:
        print(f"| {name} | {sec:.2f} | {mps:.2f} |")
    spark.stop()


if __name__ == "__main__":
    main()
