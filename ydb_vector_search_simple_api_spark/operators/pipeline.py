"""The end-to-end incremental snapshot loop (VERDICT r8 #6).

Every production stage already exists as a gate-checked operator —
incremental screening (``dedup.incremental_dedup``), curation
(``curation.curate_corpus``'s stages), packing
(``curation.pack_chunks``), index maintenance (``index.ivf_upsert``) —
but a pipeline owner runs them as ONE loop per crawl snapshot: screen
the incoming batch against everything ingested so far, curate the
survivors, pack them into training bins, and upsert their embeddings
into the serving index, emitting a single admission MANIFEST that
records, per incoming document, exactly what happened and why.

This module is that composition. The manifest is fully
SQL-expressible (the DuckDB oracle chains the same stage SQL as CTEs
— the ``curate_corpus`` pattern at loop scope), so the ASSEMBLED flow
is hash-checked end-to-end, not just each stage in isolation. The
streaming twin (``streaming.curation_ingest.stream_snapshot_loop``)
drains the same incoming batch shard-by-shard and must reproduce the
manifest row-for-row (pinned in pytest).

Semantics, per incoming doc (the md5-draw split ≥ ``existing_frac``
is "incoming", the rest is the already-ingested corpus — the
``incremental_dedup`` convention):

- ``is_exact_dup`` / ``n_shared_fps`` — the screen: normalized
  content hash seen in the existing corpus / winnowing fingerprints
  shared with it.
- ``n_fps`` / ``fp_containment`` — the doc's own (distinct)
  winnowing fingerprint count and the shared fraction
  ``n_shared_fps / n_fps`` — recorded near-dup EVIDENCE.
- ``screened_out`` — ``is_exact_dup OR fp_containment >=
  fp_reject_frac`` (default 1.0: reject only docs every one of whose
  fingerprints is already present — a true near-copy, the Lee et al.
  fully-covered criterion; absolute fp counts are useless as a screen
  on corpora with shared boilerplate, where EVERY doc shares many).
- ``max_cos_existing`` / ``semantic_dup`` — OPT-IN third screen stage
  (``semantic_threshold``, round 10 / VERDICT r9 #2): the incoming
  doc's maximum embedding cosine against the existing corpus and the
  reject flag ``max_cos_existing >= semantic_threshold``. This is the
  lexical screen's one blind spot closed: a PARAPHRASED near-copy
  shares no content hash and few winnowing fingerprints but embeds
  next to its source (the SemDeDup observation). When the stage is
  on, ``screened_out`` also ORs ``semantic_dup``. Columns exist only
  when the stage is enabled, so the default manifest schema (and its
  oracle) is untouched.
- ``quality_ok`` — the corpus quality gate.
- ``admitted`` — not screened, quality-passing, the canonical
  (min-doc_id) copy of its content hash WITHIN the incoming batch
  (cross-batch dups were screened; within-batch dups elect here),
  not benchmark-contaminated, and not from the excluded source.
- ``split`` — the deterministic train/valid/test assignment
  (NULL unless admitted).
- ``n_bins`` / ``n_chunks`` / ``n_pack_tokens`` — the training-bin
  layout of the admitted doc (0 unless admitted; bin assignment is
  within-document, so restriction commutes with packing).
- ``indexed`` — admitted AND an embedding exists (vec_id == doc_id,
  the store convention); the ``ivf_store`` side effect appends
  exactly these vectors, pinned store==manifest in pytest.

100 TB shape: every probe is a keyed join driven by the SMALL
incoming delta (the exchange ships hashes/fingerprints, never
documents); the pack window partitions by doc_id; the upsert appends
to cluster directories without touching existing files. No stage
re-reads the corpus more than the underlying operators already do,
and nothing corpus-sized reaches the driver. The semantic screen
broadcasts the DELTA's vectors and streams the existing corpus
through one keyed max-aggregate (the ``semantic_decontaminate``
norm-factorization contract — norms once per row, never inside the
pair term); at corpus scale swap the broadcast nested-loop for the
IVF-routed candidate exchange (``neardup_cosine_blocked``) exactly as
``semantic_decontaminate`` documents — admission only, the threshold
test stays exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..artifacts import persisted
from ..branches import run_branches
from . import dedup
from .curation import decontaminate_documents, pack_chunks
from .sampling import _draw, _threshold_hex, document_splits
from .textual import quality_filter
from ..functions import text as TXT
from ..sources.store import load_documents, load_embeddings


def _write_json_record(spark: SparkSession, path: str, record: dict) -> None:
    """Write a small JSON decision record THROUGH the session's Hadoop
    FileSystem (not a driver-local ``open()``): store paths may live on
    object storage, and the record belongs beside the parquet state —
    same scheme, same credentials, atomic-enough for a single-writer
    maintenance manifest (create+overwrite of one small object)."""
    import json

    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(json.dumps(record).encode("utf-8")))
    finally:
        out.close()


def production_quality_flags(
    spark: SparkSession,
    sf_dir: str,
    kn5_store: str | None = None,
    keep_all: bool = False,
) -> DataFrame:
    """The production quality gate's verdict table — (doc_id,
    quality_ok=True) for docs clearing the FineWeb-recipe conjunction
    (C4 line rules AND KN5 perplexity tiles). ONE definition shared by
    the batch loop and the streaming twin: the drained==batch pin
    holds because both sides call this, not two hand-synced copies.

    ``kn5_store`` (round 11, VERDICT r10 #3) serves the perplexity
    scores from the persisted LM store instead of the session-cached
    corpus 5-gram recompute — expression-identical scores, identical
    tiles, no per-session training pass. (The tile RANKS are a
    corpus-level statistic — CCNet cuts per-source score tertiles —
    so the verdict table is inherently corpus-defined; the
    per-snapshot-loop cost fix is to persist THIS table once and
    probe it per loop run: :func:`production_verdict_store_build`.)

    ``keep_all`` returns EVERY doc with its boolean verdict instead of
    only the passing rows — the store-build form (round 11): a store
    holding both outcomes lets a consumer distinguish "failed the
    gate" from "not scored" (a doc absent from the store was never
    seen by the build — the staleness signal; only-True rows would
    make the two indistinguishable)."""
    from . import textual as textual_mod

    scores = None
    if kn5_store is not None:
        from . import lm_store

        scores = lm_store.kn5_store_score(
            spark,
            load_documents(spark, sf_dir).select("doc_id", "text"),
            kn5_store,
        )
    full = (
        textual_mod.c4_line_filter(spark, sf_dir)
        .select("doc_id", "c4_keep")
        .join(
            textual_mod.perplexity_buckets_kn5(
                spark, sf_dir, scores=scores
            ).select("doc_id", F.col("keep").alias("ppl_keep")),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            (
                F.col("c4_keep") & F.coalesce("ppl_keep", F.lit(False))
            ).alias("quality_ok"),
        )
    )
    if keep_all:
        return full
    return full.filter("quality_ok")


def production_verdict_store_build(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    kn5_store: str | None = None,
) -> int:
    """Persist the production quality gate's verdict table (VERDICT
    r10 #2, the fingerprint-store pattern at gate scope): the C4+KN5
    conjunction is a corpus-level statistic (the KN5 tiles are
    per-source score tertiles over the WHOLE corpus), so the loop
    cannot delta-restrict its COMPUTATION without changing verdicts —
    what it can do is compute the table ONCE, persist it, and have
    every snapshot loop PROBE it instead of re-scoring the corpus per
    run. With ``kn5_store`` the build itself reads the persisted LM
    instead of re-training. The store holds EVERY doc's boolean
    verdict (keep_all), so consumers can tell "failed the gate" from
    "never scored" — the staleness signal for a corpus that grew
    since the build (the tiles are corpus-defined, so a grown corpus
    needs a REBUILD, not an upsert). Returns the passing-row count."""
    df = production_quality_flags(
        spark, sf_dir, kn5_store=kn5_store, keep_all=True
    )
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path).filter("quality_ok").count()


def pair_cosine_col():
    """The semantic screen's per-pair score — ROUND(6)+0.0 cosine over
    pre-factorized norms (columns vi/ni × vx/nx), NULL at zero norm.
    Shared by the batch loop and the streaming twin so the pinned
    parity can't drift."""
    from ..functions.distance import dot

    den = F.col("ni") * F.col("nx")
    return F.round(
        F.when(den == 0.0, F.lit(None).cast("double")).otherwise(
            dot("vi", "vx") / den
        ),
        6,
    ) + F.lit(0.0)


def _route_pairs(
    spark: SparkSession,
    ex_vec: DataFrame,
    in_vec: DataFrame,
    n_clusters: int,
    probes: int,
    seed: int,
    centroids=None,
) -> DataFrame:
    """IVF-routed candidate pairs for the semantic screen: existing
    rows (vx, nx) route ONCE to their home cluster, incoming rows
    (doc_id, vi, ni) probe their ``probes`` nearest centroids, and
    the join on cluster_id yields exactly the same-cluster pairs —
    each (incoming doc, existing row) pair at most once, because an
    existing row has ONE home cluster. The exchange ships the
    existing side cluster-keyed once and broadcasts the delta-sized
    exploded probe table; no cross product anywhere.

    ``centroids`` (an (k, dim) array) supplies the routing codebook
    directly — the VERDICT r10 #1 path: the loop's own serving index
    already holds persisted centroids over the same corpus, so the
    screen routes off those instead of refitting KMeans over the full
    existing side per snapshot (a corpus-sized iterative fit whose
    output duplicates state the loop already owns; at 100 TB the fit
    dominates the stage). With centroids given the stage's cost is
    purely delta-driven: route existing rows once (one single-pass
    projection), probe the delta, join. ANY codebook yields a valid
    blocked screen — completeness at probes == k and the lower-bound
    admission argument hold regardless of where the centroids came
    from (they only shape which near-misses the partial-probe form
    can skip). Without ``centroids``, a deterministic KMeans fit over
    the existing side (the ``semantic_dedup_blocked`` convention)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    if centroids is not None:
        C = np.asarray(centroids, dtype=np.float64)
    else:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        feats = ex_vec.select(
            array_to_vector(F.col("vx").cast("array<double>")).alias(
                "features"
            )
        )
        model = KMeans(
            k=n_clusters, seed=seed, featuresCol="features"
        ).fit(feats)
        C = np.asarray(
            [np.asarray(c, dtype=np.float64) for c in model.clusterCenters()]
        )
    k, dim = C.shape
    p = min(int(probes), k)
    c_sq = (C * C).sum(axis=1)

    def _probe_fn(vecs):
        out = []
        for v in vecs:
            if v is None or len(v) != dim:
                out.append([])
                continue
            e = np.asarray(v, dtype=np.float64)
            d2 = c_sq - 2.0 * (C @ e)
            out.append(np.argpartition(d2, p - 1)[:p].tolist())
        return pd.Series(out)

    _probe = F.pandas_udf(_probe_fn, T.ArrayType(T.IntegerType()))

    def _home_fn(vecs):
        out = []
        for v in vecs:
            if v is None or len(v) != dim:
                out.append(None)
                continue
            e = np.asarray(v, dtype=np.float64)
            out.append(int((c_sq - 2.0 * (C @ e)).argmin()))
        return pd.Series(out)

    _home = F.pandas_udf(_home_fn, T.IntegerType())

    ex_routed = ex_vec.withColumn("c", _home(F.col("vx"))).filter(
        F.col("c").isNotNull()
    )
    in_routed = in_vec.select(
        "doc_id", "vi", "ni", F.explode(_probe(F.col("vi"))).alias("c")
    )
    return ex_routed.join(F.broadcast(in_routed), "c").drop("c")


def incremental_snapshot_loop(
    spark: SparkSession,
    sf_dir: str,
    existing_frac: float = 0.9,
    fp_reject_frac: float = 1.0,
    min_quality: float = 0.8,
    min_tokens: int = 16,
    n: int = 8,
    min_containment: float = 0.3,
    train: float = 0.8,
    valid: float = 0.1,
    chunk_size: int = 64,
    stride: int = 48,
    budget: int = 256,
    ivf_index=None,
    ivf_store: str | None = None,
    semantic_threshold: float | None = None,
    semantic_probes: int | None = None,
    semantic_n_clusters: int = 8,
    semantic_seed: int = 42,
    semantic_index=None,
    compact_baseline_l2: float | None = None,
    compact_factor: float = 2.0,
    compact_generation_dir: str | None = None,
    quality_gate: str = "generic",
    quality_verdict_store: str | None = None,
    quality_store_strict: bool = False,
    line_screen: bool = False,
    line_min_occ: int = 2,
    line_store: str | None = None,
) -> DataFrame:
    """One manifest row per incoming document (columns above). When
    ``ivf_index``/``ivf_store`` are given, the admitted embeddings are
    also routed-appended to the store (``index.ivf_upsert``). When
    ``semantic_threshold`` is given, the embedding-cosine screen stage
    is enabled (adds ``max_cos_existing`` / ``semantic_dup`` evidence
    columns and ORs the reject into ``screened_out``).

    ``semantic_probes`` switches the semantic stage from the
    broadcast nested-loop (exact max, delta × corpus pairs) to the
    IVF-ROUTED candidate exchange — the 100 TB form the broadcast
    docstring promises, made real: existing vectors route once to
    their home cluster (KMeans over the existing corpus,
    ``semantic_n_clusters``/``semantic_seed`` deterministic), each
    incoming vector probes its ``semantic_probes`` nearest centroids,
    and only same-cluster pairs are cosine-verified. The blocked max
    is a LOWER BOUND of the exact max (admission-only: a paraphrase
    can only be missed, never invented), reaches the exact form at
    ``semantic_probes == semantic_n_clusters`` (every cluster probed
    ⇒ candidate set complete — pinned in pytest), and ships only
    cluster-keyed rows: no corpus-wide cross product anywhere.
    Measured crossover (SCALING.md round 10): flat at sf0.1, 2.4×
    faster at ×10 amplification with IDENTICAL semantic_dup counts at
    probes=2 — prefer the blocked form once the delta × corpus pair
    count reaches the ~10⁸ range.

    ``semantic_index`` (round 11, VERDICT r10 #1) supplies the blocked
    screen's routing codebook from an already-built ``IvfIndex``
    instead of refitting KMeans over the existing corpus per snapshot;
    when omitted, the loop defaults to its OWN serving ``ivf_index``
    (same corpus, same codebook — the state the refit was duplicating)
    and only falls back to the deterministic per-call fit when it
    maintains no index at all. With a persisted codebook the blocked
    screen's per-snapshot cost is purely delta-driven: the probe-table
    build is delta-sized and the existing side routes in one
    single-pass projection. Completeness at ``semantic_probes ==
    <codebook size>`` and the admission-only lower-bound argument are
    codebook-independent (pinned in pytest for the supplied-index
    path too).

    ``quality_verdict_store`` (round 11, VERDICT r10 #2; requires
    ``quality_gate="production"``): probe the persisted gate verdict
    table (:func:`production_verdict_store_build`) instead of scoring
    C4 rules + KN5 tiles corpus-wide per loop run. Verdicts are
    identical by construction (the store IS the gate's output), so
    the manifest and its oracle are unchanged; the per-run gate cost
    drops to a 2-column parquet scan + one delta-keyed join.

    ``line_screen`` (round 11) adds the CCNet boilerplate-LINE stage
    to the manifest: per incoming doc, ``n_hot_lines`` (its lines
    whose exact content is corpus-hot at ``line_min_occ``) and
    ``line_kept_md5`` (the digest of its boilerplate-stripped text —
    what a pack stage would consume). Evidence + transform only:
    CCNet strips lines and keeps the doc, so admission is untouched
    and the default manifest schema (and its oracle) is unchanged
    when the stage is off. ``line_store`` makes the stage incremental:
    the incoming snapshot's counts fold into the persisted hot-line
    store (``textual.line_hash_store_upsert``) and hotness reads the
    folded counts — store == recompute pinned in pytest.

    Generation hygiene (round 10, VERDICT r9 #5): with
    ``compact_baseline_l2`` set, the upsert's drift stats feed the
    ``IngestMonitor.needs_rebuild`` rule (max assignment L2 >
    ``compact_factor`` × the build-time baseline — the codebook no
    longer describes the incoming distribution) and, when it fires,
    the loop folds the append-churned store into a fresh immutable
    generation (``index.ivf_compact`` into
    ``compact_generation_dir``, default ``<store>_gen``) instead of
    appending forever. The decision record — stats, thresholds,
    verdict, generation path — is written to
    ``<store>/_loop_maintenance.json``, the per-snapshot maintenance
    manifest beside the per-doc admission manifest (the manifest
    DataFrame's schema stays gate-stable). Compaction is the
    generation FOLD (same rows, same centroids — result equality
    pinned in pytest); a fired drift trigger additionally flags
    ``rebuild_recommended`` because folding files cannot fix a stale
    codebook — retraining centroids is the offline follow-up, exactly
    as ``streaming/index_ingest.py`` documents for the on-arrival
    path."""
    if quality_verdict_store is not None and quality_gate != "production":
        raise ValueError(
            "quality_verdict_store requires quality_gate='production' "
            "(the store holds the production gate's verdicts)"
        )
    if line_store is not None and not line_screen:
        raise ValueError("line_store requires line_screen=True")
    thr = _threshold_hex(existing_frac)
    docs = load_documents(spark, sf_dir)
    incoming = docs.filter(_draw(F.col("doc_id")) >= F.lit(thr))

    # stages 1, 1b, 1c, 2a and 2b are independent branches, each
    # materialized at delta or flag size and run concurrently below
    # (run_branches); the joined rows are the sequential form's.
    #
    # stage 1 — screen against the existing corpus; n_fps is the
    # doc's own fingerprint count (winnow arrays are distinct per doc
    # — the incremental_dedup contract), the containment denominator
    # pin the screen output (delta-sized: one row per incoming doc).
    # n_fps (the containment denominator) comes from the screen's own
    # PINNED winnow table (include_n_fps) — re-deriving the winnowing
    # expression here would re-inline the hash array into every
    # window minimum (no let-binding barrier: measured 72 s vs ~1 s
    # at sf0.1 for this one column)
    def _screen_branch():
        return dedup.incremental_dedup(
            spark, sf_dir, existing_frac=existing_frac, include_n_fps=True
        ).localCheckpoint(eager=True)

    # stage 2 — curation flags (each stage is its own gate-checked op).
    # quality_gate="production" swaps the generic score for the
    # FineWeb-recipe gate (C4 line rules AND KN5 perplexity tiles —
    # the curate_corpus_production conjunction) while keeping the
    # manifest schema IDENTICAL: quality_ok is the gate verdict
    # whichever gate computed it, so the loop-at-production-config is
    # the same hash-checked composition, not a schema fork
    def _quality_branch():
        if quality_gate == "production":
            # VERDICT r10 #2: the gate verdict is corpus-defined (per-
            # source KN5 score tertiles), so the loop probes the
            # PERSISTED verdict table when one is given — per-run gate
            # cost becomes one 2-column parquet scan + a delta-keyed
            # join instead of a corpus-wide C4+KN5 scoring pass per
            # snapshot
            if quality_verdict_store is not None:
                verdicts = spark.read.parquet(quality_verdict_store)
                if quality_store_strict:
                    # staleness fence (round 11): a delta doc ABSENT
                    # from the store was never scored by the build —
                    # without this check it silently lands
                    # quality_ok=False. The store holds both outcomes
                    # (keep_all) precisely so missing is
                    # distinguishable from failed; the check is one
                    # delta-sized anti-join count.
                    n_missing = (
                        incoming.select("doc_id")
                        .join(
                            verdicts.select("doc_id"), "doc_id", "left_anti"
                        )
                        .count()
                    )
                    if n_missing:
                        raise ValueError(
                            f"quality_verdict_store is STALE: {n_missing} "
                            "incoming doc(s) were never scored by the "
                            "store build — rebuild it (the gate tiles "
                            "are corpus-defined; growth means rebuild, "
                            "not upsert)"
                        )
                # store probe: already a cheap 2-column parquet scan —
                # no materialization needed, return it lazy
                return verdicts.filter("quality_ok").select(
                    "doc_id", "quality_ok"
                )
            return production_quality_flags(
                spark, sf_dir
            ).localCheckpoint(eager=True)
        return (
            quality_filter(
                spark, sf_dir, min_quality=min_quality, min_tokens=min_tokens
            )
            .select("doc_id", F.lit(True).alias("quality_ok"))
            .localCheckpoint(eager=True)
        )

    def _contaminated_branch():
        return (
            decontaminate_documents(
                spark, sf_dir, n=n, min_containment=min_containment
            )
            .select("doc_id")
            .distinct()
            .select("doc_id", F.lit(True).alias("contaminated"))
            .localCheckpoint(eager=True)
        )

    def _sem_branch():
        # stage 1b — the semantic screen: max embedding cosine of each
        # incoming doc vs the existing corpus. The DELTA's vectors are
        # broadcast; the existing side streams through one keyed max —
        # no shuffle of the corpus, nothing corpus-sized collected.
        # Per-pair ROUND(6) before the max (order-free, oracle-exact).
        # Pinned eagerly at delta size.
        from ..functions.distance import l2_norm

        embs_all = load_embeddings(spark, sf_dir).select(
            "vec_id", "embedding"
        )
        ex_vec = embs_all.join(
            docs.filter(_draw(F.col("doc_id")) < F.lit(thr)).select(
                "doc_id"
            ),
            embs_all["vec_id"] == F.col("doc_id"),
        ).select(
            F.col("embedding").alias("vx"),
            l2_norm("embedding").alias("nx"),
        )
        in_vec = embs_all.join(
            incoming.select("doc_id"), embs_all["vec_id"] == F.col("doc_id")
        ).select(
            "doc_id",
            F.col("embedding").alias("vi"),
            l2_norm("embedding").alias("ni"),
        )
        cs = pair_cosine_col()
        if semantic_probes is None:
            sem = (
                ex_vec.join(F.broadcast(in_vec))
                .withColumn("cs", cs)
                .groupBy("doc_id")
                .agg(F.max("cs").alias("max_cos_existing"))
            )
        else:
            # routing codebook (VERDICT r10 #1): prefer the loop's own
            # persisted centroids — semantic_index if given, else the
            # serving ivf_index the loop maintains — so no KMeans refit
            # over the existing corpus happens per snapshot; fall back
            # to the deterministic fit only when the loop owns no index
            sem_idx = (
                semantic_index if semantic_index is not None else ivf_index
            )
            cents = None if sem_idx is None else sem_idx.centroids
            sem = (
                _route_pairs(
                    spark, ex_vec, in_vec,
                    n_clusters=semantic_n_clusters,
                    probes=semantic_probes, seed=semantic_seed,
                    centroids=cents,
                )
                .withColumn("cs", cs)
                .groupBy("doc_id")
                .agg(F.max("cs").alias("max_cos_existing"))
            )
        return sem.localCheckpoint(eager=True)

    def _line_branch():
        # stage 1c — the CCNet boilerplate-LINE screen (round 11,
        # VERDICT r10 #4's motivation made a loop stage): per incoming
        # doc, how many of its lines are corpus-hot (boilerplate) and
        # the md5 digest of its boilerplate-stripped text. EVIDENCE +
        # TRANSFORM, not a reject — CCNet strips the lines and keeps
        # the doc, so admission is untouched and the columns exist
        # only when the stage is on (the semantic-stage convention).
        # Hotness is corpus-wide (existing + incoming, the batch
        # line_dedup semantics); with ``line_store`` the incoming
        # counts FOLD into the persisted store (ivf_upsert-style side
        # effect) and hotness reads the folded counts — equal to the
        # recompute when the store held the existing corpus (pinned).
        # The result is pinned at delta size (one evidence row per
        # incoming doc).
        from . import textual as textual_mod

        if line_store is not None:
            import json as _json
            import os as _os

            # replay idempotence (round 11 review): fold each
            # snapshot's counts ONCE — a retry that re-runs the loop
            # must not double-fold, or a line occurring once in the
            # delta would reach n_occ=2 and flip hot, silently
            # changing the manifest vs the recompute form. Snapshot
            # identity = a deterministic content key of the delta
            # (count + id sum + xxhash64 fold: one delta-sized
            # aggregate), recorded in a ledger beside the counts —
            # the streaming twin gets this for free from its
            # file-source checkpoint; the batch entry point needs it
            # explicitly.
            kr = incoming.select(
                F.count(F.lit(1)).alias("n"),
                F.min("doc_id").alias("lo"),
                F.max("doc_id").alias("hi"),
                # XOR fold: order-free and overflow-free (a SUM of
                # full-range xxhash64 values trips ANSI long overflow)
                F.expr(
                    "bit_xor(xxhash64(cast(doc_id as string)))"
                ).alias("h"),
            ).head()
            snap_key = f"{kr.n}:{kr.lo}:{kr.hi}:{kr.h}"
            ledger = _os.path.join(line_store, "_folded_snapshots.json")
            folded: list[str] = []
            if _os.path.exists(ledger):
                with open(ledger) as f:
                    folded = _json.load(f)
            if snap_key not in folded:
                textual_mod.line_hash_store_upsert(
                    spark, incoming.select("doc_id", "text"), line_store
                )
                folded.append(snap_key)
                with open(ledger, "w") as f:
                    _json.dump(folded, f)
            hot = (
                spark.read.parquet(_os.path.join(line_store, "counts"))
                .filter(F.col("n_occ") >= line_min_occ)
                .select("h")
            )
        else:
            hot = (
                textual_mod._line_hash_counts(docs)
                .filter(F.col("n_occ") >= line_min_occ)
                .select("h")
            )
        d_in, hs_in = textual_mod._doc_lines(incoming.select("doc_id", "text"))
        return (
            textual_mod._line_dedup_assemble(d_in, hs_in, hot)
            .select(
                "doc_id",
                F.col("n_dup_lines").alias("n_hot_lines"),
                F.col("kept_md5").alias("line_kept_md5"),
            )
            .localCheckpoint(eager=True)
        )

    branches = {
        "snapshot-loop/screen": _screen_branch,
        "snapshot-loop/quality": _quality_branch,
        "snapshot-loop/contaminated": _contaminated_branch,
    }
    if semantic_threshold is not None:
        branches["snapshot-loop/semantic"] = _sem_branch
    if line_screen:
        branches["snapshot-loop/lines"] = _line_branch
    got = run_branches(spark, branches)
    screen = got["snapshot-loop/screen"]
    quality = got["snapshot-loop/quality"]
    contaminated = got["snapshot-loop/contaminated"]
    sem = got.get("snapshot-loop/semantic")
    line_ev = got.get("snapshot-loop/lines")
    # canonical WITHIN the incoming batch: min doc_id per content hash
    canon = (
        incoming.select(
            "doc_id", TXT.content_fingerprint("text").alias("content_hash")
        )
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", F.lit(True).alias("canonical"))
    )
    splits = document_splits(spark, sf_dir, train=train, valid=valid)

    scr = screen.join(incoming.select("doc_id", "source"), "doc_id").withColumn(
        "fp_containment",
        F.when(
            F.col("n_fps") > 0,
            F.round(
                F.col("n_shared_fps").cast("double")
                / F.col("n_fps").cast("double"),
                6,
            )
            + F.lit(0.0),
        ).otherwise(F.lit(0.0)),
    )
    semantic_cols: list[str] = []
    if semantic_threshold is not None:
        # stage 1b join — ``sem`` was materialized by the pooled
        # branch above (delta-sized checkpoint)
        scr = scr.join(sem, "doc_id", "left").withColumn(
            "semantic_dup",
            F.coalesce(
                F.col("max_cos_existing") >= F.lit(semantic_threshold),
                F.lit(False),
            ),
        )
        semantic_cols = ["max_cos_existing", "semantic_dup"]
    line_cols: list[str] = []
    if line_screen:
        # stage 1c join — ``line_ev`` was materialized by the pooled
        # branch above (delta-sized checkpoint)
        scr = scr.join(line_ev, "doc_id", "left")
        line_cols = ["n_hot_lines", "line_kept_md5"]
    flags = (
        scr
        .join(quality, "doc_id", "left")
        .join(canon, "doc_id", "left")
        .join(F.broadcast(contaminated), "doc_id", "left")
        .join(splits, "doc_id", "left")
        .withColumn(
            "screened_out",
            # at the full-coverage threshold, test n_shared_fps >=
            # n_fps in INTEGERS — the ROUND(6)ed ratio would reject a
            # doc at containment 0.9999996 that is not fully covered
            # (needs n_fps in the millions, but the semantics should
            # not depend on the rounding width). Partial thresholds
            # compare the recorded (rounded) evidence column, which is
            # what the manifest reader would filter on.
            F.col("is_exact_dup")
            | (
                (F.col("n_fps") > 0)
                & (
                    (F.col("n_shared_fps") >= F.col("n_fps"))
                    if fp_reject_frac == 1.0
                    else (F.col("fp_containment") >= fp_reject_frac)
                )
            )
            | (
                F.col("semantic_dup")
                if semantic_threshold is not None
                else F.lit(False)
            ),
        )
        .withColumn("quality_ok", F.coalesce("quality_ok", F.lit(False)))
        .withColumn(
            "admitted",
            ~F.col("screened_out")
            & F.col("quality_ok")
            & F.coalesce("canonical", F.lit(False))
            & ~F.coalesce("contaminated", F.lit(False))
            & (F.col("source") != "src0"),
        )
        # pin ONCE: the flag table is delta-sized (incoming docs ×
        # a dozen scalar columns) but its lineage carries the whole
        # screen + curation chain, and it feeds BOTH the pack
        # semi-join and the final manifest — without the barrier the
        # chain evaluates twice per action (measured 83 s → ~11 s at
        # sf0.1)
        .localCheckpoint(eager=True)
    )

    # stage 3 — pack the admitted docs into training bins. The
    # admitted set pushes BELOW the chunker (``doc_filter`` — bin
    # assignment is within-document, so restriction commutes; the
    # streaming twin already packs this way), instead of chunking the
    # whole corpus and semi-joining the survivors afterwards: the
    # tokenize+slice+window pass runs over the admitted delta only.
    admitted_ids = flags.filter("admitted").select("doc_id")
    packed = (
        pack_chunks(
            spark, sf_dir, chunk_size=chunk_size, stride=stride,
            budget=budget, doc_filter=admitted_ids,
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bins"),
            F.sum("n_chunks").alias("n_chunks"),
            F.sum("n_bin_tokens").alias("n_pack_tokens"),
        )
    )

    # stage 4 — index maintenance (side effect; manifest column is the
    # SQL-expressible expectation, store==manifest pinned in pytest)
    vecs = load_embeddings(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    if ivf_index is not None and ivf_store is not None:
        import json
        import os

        from . import index as ivf_mod

        new_vecs = vecs.join(admitted_ids, "doc_id", "left_semi").select(
            F.col("doc_id").alias("id"), "embedding"
        )
        stats = ivf_mod.ivf_upsert(spark, ivf_index, new_vecs)
        if compact_baseline_l2 is not None:
            triggered = stats["max_assign_l2"] > (
                compact_factor * compact_baseline_l2
            )
            gen_dir = compact_generation_dir or (
                ivf_store.rstrip("/") + "_gen"
            )
            if triggered:
                ivf_mod.ivf_compact(spark, ivf_index, gen_dir)
            # the maintenance record goes through the Hadoop FS API of
            # the active session (round 11, the VERDICT r10 nit): the
            # store path may be object storage where a driver-local
            # open() has no meaning — this writes wherever the parquet
            # state lives, same scheme, same credentials
            _write_json_record(
                spark,
                os.path.join(ivf_store, "_loop_maintenance.json"),
                {
                    "n_appended": stats["n_appended"],
                    "max_assign_l2": stats["max_assign_l2"],
                    "baseline_l2": compact_baseline_l2,
                    "factor": compact_factor,
                    "compact_triggered": bool(triggered),
                    "rebuild_recommended": bool(triggered),
                    "generation_dir": gen_dir if triggered else None,
                },
            )

    has_vec = vecs.select("doc_id", F.lit(True).alias("has_vec"))

    return (
        flags.join(packed, "doc_id", "left")
        .join(has_vec, "doc_id", "left")
        .select(
            "doc_id",
            "is_exact_dup",
            F.col("n_shared_fps").cast("bigint").alias("n_shared_fps"),
            "n_fps",
            "fp_containment",
            *semantic_cols,
            *line_cols,
            "screened_out",
            "quality_ok",
            "admitted",
            F.when(F.col("admitted"), F.col("split")).alias("split"),
            F.coalesce("n_bins", F.lit(0)).cast("bigint").alias("n_bins"),
            F.coalesce("n_chunks", F.lit(0)).cast("bigint").alias("n_chunks"),
            F.coalesce("n_pack_tokens", F.lit(0))
            .cast("bigint")
            .alias("n_pack_tokens"),
            (
                F.col("admitted") & F.coalesce("has_vec", F.lit(False))
            ).alias("indexed"),
        )
    )


def snapshot_loop_production_store(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gate entry: the production-gate snapshot loop served by the
    PERSISTED store chain (VERDICT r10 #2+#3) — the KN5 model store
    is built once (``artifacts.persisted``), the gate verdict table
    is built once FROM it, and the loop probes the verdict parquet.
    Must equal ``incremental_snapshot_loop(quality_gate="production")``
    row-for-row (store == recompute at gate scope), so it shares that
    entry's oracle SQL."""
    from . import lm_store

    kn5_path = lm_store.corpus_kn5_store(spark, sf_dir)
    verdict_path = persisted(
        "prodverdict", sf_dir, {"kn5_store": kn5_path},
        lambda out: production_verdict_store_build(
            spark, sf_dir, out, kn5_store=kn5_path
        ),
        lambda path: path,
    )
    return incremental_snapshot_loop(
        spark,
        sf_dir,
        quality_gate="production",
        quality_verdict_store=verdict_path,
        # the staleness fence is on for the memoized entry: a corpus
        # regenerated at the same path with new doc_ids trips it
        # instead of silently failing the new docs (round-11 review)
        quality_store_strict=True,
    )


def curate_corpus_production(
    spark: SparkSession,
    sf_dir: str,
    n: int = 8,
    min_containment: float = 0.3,
    train: float = 0.8,
    valid: float = 0.1,
    enforce_gopher: bool = False,
    gopher_stopwords: tuple | None = None,
    gopher_min_stopwords: int = 2,
) -> DataFrame:
    """The FineWeb/RefinedWeb-style production curation config, wired
    from the NAMED filters (round 9): C4 line rules + 5-gram-KN
    perplexity tiles gate quality, exact dedup elects canonicals,
    decontamination and source exclusion fence the benchmark, and
    survivors get deterministic splits — the modern-recipe sibling of
    :func:`operators.curation.curate_corpus` (which uses the generic
    quality score).

    Per-doc columns: by default the Gopher conjunction is REPORTED but
    not enforced (``gopher_keep``) — its required-stopword rule with
    the paper's English list is constant-false on this synthetic
    corpus (documented in ``gopher_quality_report``), so binding it
    would make admission degenerate; the enforced gates are
    ``c4_keep`` (the augmented line rules), ``ppl_keep`` (head+middle
    KN5 tiles per source), ``canonical``, NOT ``contaminated``, and
    source != 'src0'. With ``enforce_gopher=True`` (round 10, VERDICT
    r9 #7) the FULL Gopher conjunction joins the admission AND —
    pass ``gopher_stopwords``/``gopher_min_stopwords`` (e.g. the
    corpus's own glue-word list, ``textual.CORPUS_GLUE_STOPWORDS`` at
    K=7) so the stopword rule binds with real variance instead of
    rejecting everything.

    Scale shape: every stage is the already-audited operator; the
    composition is doc_id-keyed joins over per-doc flag tables, the
    contaminated set broadcast (near-empty by construction). Output:
    (doc_id, gopher_keep, c4_keep, ppl_keep, canonical, contaminated,
    admitted, split).
    """
    from . import textual
    from .curation import decontaminate_documents

    gopher_kw = {}
    if gopher_stopwords is not None:
        gopher_kw = dict(
            stopwords=gopher_stopwords, min_stopwords=gopher_min_stopwords
        )
    gopher = textual.gopher_quality_report(spark, sf_dir, **gopher_kw).select(
        "doc_id", "gopher_keep"
    )
    c4 = textual.c4_line_filter(spark, sf_dir).select("doc_id", "c4_keep")
    ppl = textual.perplexity_buckets_kn5(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("ppl_keep")
    )
    docs = load_documents(spark, sf_dir)
    canon = (
        dedup.exact_dup_groups(docs)
        .select(F.col("keep_id").alias("doc_id"))
        .select("doc_id", F.lit(True).alias("canonical"))
    )
    contaminated = (
        decontaminate_documents(
            spark, sf_dir, n=n, min_containment=min_containment
        )
        .select("doc_id")
        .distinct()
        .select("doc_id", F.lit(True).alias("contaminated"))
    )
    splits = document_splits(spark, sf_dir, train=train, valid=valid)
    return (
        docs.select("doc_id", "source")
        .join(gopher, "doc_id")
        .join(c4, "doc_id")
        .join(ppl, "doc_id", "left")
        .join(canon, "doc_id", "left")
        .join(F.broadcast(contaminated), "doc_id", "left")
        .join(splits, "doc_id", "left")
        .withColumn("ppl_keep", F.coalesce("ppl_keep", F.lit(False)))
        .withColumn("canonical", F.coalesce("canonical", F.lit(False)))
        .withColumn(
            "contaminated", F.coalesce("contaminated", F.lit(False))
        )
        .withColumn(
            "admitted",
            F.col("c4_keep")
            & F.col("ppl_keep")
            & F.col("canonical")
            & ~F.col("contaminated")
            & (F.col("source") != "src0")
            & (F.col("gopher_keep") if enforce_gopher else F.lit(True)),
        )
        .select(
            "doc_id", "gopher_keep", "c4_keep", "ppl_keep", "canonical",
            "contaminated", "admitted",
            F.when(F.col("admitted"), F.col("split")).alias("split"),
        )
    )


def production_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-mix manifest a trainer actually consumes: for the
    :func:`curate_corpus_production` survivors, per (split, source) —
    document count, whitespace-token mass, and each cell's share of
    the total admitted token mass (ROUND 6). The per-release artifact
    that makes the curated corpus's composition auditable (split
    balance, source mixture) without re-running any filter.

    Scale shape: the production manifest join is delta-flag-sized per
    doc; the token count is one per-doc codegen expression; the
    rollup is a (split, source)-keyed aggregation with one broadcast
    1-row total. Output: (split, source, n_docs, n_tokens,
    token_share), sorted.
    """
    from ..functions import text as TXT

    adm = curate_corpus_production(spark, sf_dir).filter("admitted").select(
        "doc_id", "split"
    )
    toks = load_documents(spark, sf_dir).select(
        "doc_id", "source", TXT.token_count("text").alias("n_tok")
    )
    cells = (
        adm.join(toks, "doc_id")
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
    )
    # round 12 (guide §2.4 — remove duplicated subtrees): the total is
    # a GLOBAL WINDOW over the (split, source) cells instead of
    # agg + crossJoin-back, which planned the whole
    # curate_corpus_production gate subtree TWICE (once under the
    # 1-row total, once under the joined side). The window's single
    # partition holds only the cell grid (|splits| × |sources| rows),
    # never document rows.
    from pyspark.sql import Window

    total = F.sum("n_tokens").over(Window.partitionBy())
    return (
        cells.withColumn("tot", total)
        .select(
            "split", "source", "n_docs", "n_tokens",
            (
                F.round(
                    F.col("n_tokens").cast("double") / F.col("tot").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("token_share"),
        )
        .orderBy("split", "source")
    )
