"""Generate PLANS.md: the ACTUAL physical plans behind the scaling
claims (SCALING.md narrates them; this file proves them from
``explain`` output). Regenerate after plan-affecting changes:

    python tools/plan_dossier.py [sf_dir]

Covers one representative query per physical pattern; the full suite
is plan-shape-tested in tests/ (plans/checks.py assertions).
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

#: query -> the plan property a reviewer should look for
HEADLINERS = {
    "topk_cosine": "TakeOrderedAndProject (per-partition heap top-k, no "
    "global sort); PushedFilters + pruned ReadSchema on the parquet scan",
    "topk_cosine_filtered": "equality filter pushed into the parquet scan "
    "(PushedFilters: EqualTo) before any compute",
    "ivf_cosine_full_width": "partition pruning on cluster_id (the IN list "
    "prunes whole directories at planning time)",
    "topk_cosine_filtered_ivf": "non-strict filtered ANN: cluster_id "
    "partition pruning AND a broadcast left-semi join of the (pushed-"
    "filter) doc-id set, both BEFORE the score is computed",
    "ivf_knn_join_dist": "executor-side cluster assignment (ArrowEvalPython "
    "-> Generate), corpus joined on cluster_id — no driver collect of "
    "the query side",
    "pq_rerank_full": "shuffle-free MapInPandas ADC scan -> broadcast "
    "left-semi rerank join -> TakeOrderedAndProject",
    "knn_join_blocked": "broadcast query matrix, map-side top-k inside "
    "MapInPandas, one ranked window over nq x partitions x k survivors",
    "revenue_by_nation": "BroadcastHashJoin for every dimension table; the "
    "fact table shuffles once for the aggregation",
    "dedup_exact_groups": "single hash aggregation on the md5 key with "
    "partial_ (map-side) aggregates before the exchange",
    "orders_cube": "one Expand + one shuffle for all grouping sets (not "
    "one scan per set)",
    "purchase_attribution": "union + window as-of formulation: one "
    "exchange on (user_id), no range cross-join",
    "user_event_pivot": "pivot compiles to a single aggregation with "
    "conditional counts — no join, no second scan",
    "label_centroids": "posexplode then partial_ aggregation before the "
    "exchange — the shuffle carries decimal partial sums, not raw values",
    "sql_topk_cosine": "SQL-string surface: the knn_* SQL UDF body is "
    "inlined by Catalyst — no Python eval node, same "
    "TakeOrderedAndProject shape as the library path",
    "bq_rerank_full": "pure-codegen bit_count(xor) Hamming scan over the "
    "narrow bits table -> TakeOrdered shortlist -> broadcast rerank "
    "join; zero Python anywhere in the query path",
    "bq_knn_join_full": "ONE bits-table scan for all queries (broadcast "
    "query bits), int-triple shortlist window, then the bounded "
    "full-precision rerank join",
    "shipping_priority": "both date predicates pushed to the parquet "
    "scans (PushedFilters), filtered customer and orders sides "
    "broadcast into the lineitem scan, TakeOrderedAndProject top slice",
    "bm25_topk": "per-term match counts as a narrow array expression "
    "over the corpus scan (no token-stream explode/shuffle); the tiny "
    "dfreq and corpus-stats tables ride broadcasts",
    "bpe_pair_counts": "vocabulary aggregated first (one keyed count "
    "with partial_ aggregates); the pair fan-out Generates over "
    "|vocab| rows, not token occurrences",
    "incremental_dedup": "one pinned winnowing pass (localCheckpoint of "
    "the compact array form); both probes are keyed joins — exact "
    "hash membership and a left-semi on the fingerprint",
    "cluster_assign": "k anchors ride a broadcast nested-loop; the "
    "argmin is min(struct(dist, cluster_id)) with partial_ (map-side) "
    "aggregation — no per-doc window sort",
    "rag_context": "retrieval half keeps the flagship shape "
    "(TakeOrderedAndProject); the BroadcastExchange BUILD side is the "
    "k-row top-k, the documents scan streams probe-side; the running "
    "token sum windows over k rows only",
    "dedup_best_quality": "quality election as one hash aggregation "
    "(max of (quality, -doc_id) struct) — partial_ before the "
    "exchange, no window",
    "bm25_topk_indexed": "serving path reads ONLY the query terms' "
    "postings (PushedFilters: In(token, ...)) — no documents scan "
    "anywhere in the plan",
    "sq_rerank_full": "int8-codes shortlist: narrow (id, codes, "
    "qscale, cnorm) scan, the ONE-fold approx score inside "
    "whole-stage codegen (no Python eval nodes), "
    "TakeOrderedAndProject for the shortlist, BroadcastExchange "
    "BUILD side = the shortlist ids (not the vector table)",
    "dedup_ngram_prefix": "prefix filtering: ONE shuffle keys the shingle "
    "df attach, one per-doc window ranks rarity, the self-join touches "
    "PREFIX rows only (size + positional predicates in the join "
    "condition), and the verify joins touch candidate pairs only",
    "expectations_report": "every metric in ONE HashAggregate over ONE "
    "parquet scan (partial+final); the constraint bounds arrive as a "
    "BroadcastExchange of a local relation",
    "snapshot_diff": "each snapshot collapses to a narrow digest "
    "projection in its own scan; ONE join on doc_id classifies every "
    "key; no text column survives past the scans",
    "heavy_hitters_topk": "MG summaries behind ArrowEvalPython (one pass), "
    "candidate set broadcast into a left-semi BEFORE the count "
    "aggregation, TakeOrderedAndProject for the final cut",
    "range_search_ivf": "cluster_id IN-list partition pruning at planning "
    "time + the threshold as a codegen Filter on the pruned scan — no "
    "heap, no shuffle before the ordered output",
    "tfidf_cosine_prefix": "keyed joins only (no cartesian), broadcast "
    "df/N attachments, the index side is the suffix-norm-cut window "
    "output and the verify stage touches candidates only",
    "sorted_neighborhood": "NO Exchange SinglePartition anywhere (the "
    "global rank is per-bucket windows + offsets); the candidate join "
    "is keyed on rank blocks; the Levenshtein DP sits behind the "
    "checkpoint barrier, evaluated once per candidate",
    "ks_drift": "the value-grain cumulative sum windows over "
    "(bucket, value) — NO unpartitioned window over the big table; "
    "the only SinglePartition exchanges feed 1-row/bins-sized "
    "aggregates (bounds, offsets, totals)",
    "domain_caps": "both rank windows carry a partition key (domain + "
    "salt, then domain over the cap-bounded survivors) — no "
    "SinglePartition exchange anywhere",
    "paragraph_dedup": "keep-first election is a hash aggregation "
    "(min struct with partial_ map-side combine) joined back on the "
    "paragraph hash — NO window over paragraph occurrences, so hot "
    "boilerplate never serializes into one task",
    "image_phash_dedup": "after the Arrow hash stage everything is "
    "codegen: band explode, keyed self-join on (band, val), "
    "bit_count(xor) verify — no cartesian, no Python in the join path",
    "retrieval_quality": "retrieval keeps the knn_join shape (broadcast "
    "query batch, ranked window over narrow score triples); the metrics "
    "stage touches ONLY the nq x k retrieved rows — label counts arrive "
    "as ONE broadcast aggregate, and the DCG/IDCG gains are k-entry "
    "literal arrays (no log2 anywhere in the plan)",
    "kmv_user_overlap": "sketch build is two ObjectHashAggregates with "
    "partial (map-side) collect_set bounded by the salt split, then "
    "WindowGroupLimit (rank<=k short-circuits the sort); the pair "
    "report runs on EXPLODED SKETCH rows only — the group-pair table "
    "rides a BroadcastExchange, facts never reappear",
    "logreg_score": "scoring is one BroadcastHashJoin of the 512-row "
    "model into the feature table + one keyed DECIMAL aggregation — "
    "whole-stage codegen, no Python eval nodes; training repeats the "
    "same shape once per iteration over the persisted feature table",
    "phrase_search": "ZERO-shuffle exact phrase match: one per-document "
    "array lambda (filter over sequence) inside the scan projection — "
    "no Exchange anywhere in the plan, no token explode",
    "phrase_search_store": "serving reads ONLY the phrase terms' "
    "posting row groups (PushedFilters: In(token, ...) over the "
    "token-range-partitioned store); adjacency verified by array "
    "predicates on the joined position lists — no explode, no window",
    "packing_efficiency": "each budget is ONE aggregate over the "
    "pack window's bins; the chunker's tokenize is shared via the "
    "scan cache — no per-budget corpus re-read below the chunk stage",
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from pyspark.sql import SparkSession

    import __spark_entry__ as E
    from ydb_vector_search_simple_api_spark.plans.checks import formatted_plan

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("plan-dossier")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = E.queries()

    out = [
        "# PLANS — physical plans behind the scaling claims",
        "",
        f"Generated by `python tools/plan_dossier.py {sf_dir}` "
        "(Spark `explain('formatted')`; AQE on, so exchanges may coalesce "
        "further at runtime). One representative query per physical "
        "pattern; SCALING.md carries the narrative, tests/ pin the "
        "assertions.",
        "",
    ]
    for name, claim in HEADLINERS.items():
        plan = formatted_plan(queries[name](spark, sf_dir))
        out += [
            f"## {name}",
            "",
            f"**Claim:** {claim}",
            "",
            "```",
            plan.strip(),
            "```",
            "",
        ]
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(HEADLINERS)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
