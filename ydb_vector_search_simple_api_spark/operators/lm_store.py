"""Persisted Kneser-Ney 5-gram LM store (VERDICT r10 #3).

The repo's store discipline (KMV, HLL, t-digest, histogram,
fingerprint, postings: build / score-or-probe / upsert, with
store==recompute pinned by a shared oracle) applied to the trained
language model: until this round the KN5 score table was
session-cached (``textual.kn5_scores_cached``) but re-derived from a
full corpus 5-gram pass every session — at 100 TB that pass is the
single most expensive statistic in the curation stack, and it was
being paid per session for a model that never changed.

What persists: ONLY the top-order count table ``c5`` (g1..g5 →
count) plus a meta record (discount). Everything else in the
Chen-Goodman cascade — the continuation tables kn4..kn1, every
context total, the grand total — derives from c5 by exact integer
aggregates (``textual._kn5_score``), so:

- **build** is one corpus gram pass → one distinct-5-gram parquet
  (vocabulary-sized, NOT corpus-sized);
- **upsert** is a pure count fold: the new shard's (g1..g5, n)
  aggregate unions into c5 and sums — associative and exact, so
  build(existing) + upsert(delta) == build(existing ∪ delta)
  byte-for-byte (pinned in pytest), the KMV k-min-fold argument at
  LM scope;
- **score** joins a doc batch's gram counts against the persisted c5
  with the IDENTICAL expressions the in-session form uses —
  store-served scores == ``kneser_ney5_logprob`` recompute by
  construction, so the store entry shares the recompute oracle.

Scale shape: c5 is distinct-n-gram-sized; scoring a snapshot is
delta-driven (the delta's gram table joins gram-keyed against the
store scan — shuffled hash joins AQE can size); the upsert ships one
vocabulary-sized exchange. Nothing collects to the driver.

The scoring contract is upsert-then-score (fold a new shard's counts
BEFORE scoring it): grams absent from the model are dropped by the
inner scoring joins, exactly as documented on ``_kn5_score``.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..artifacts import persisted, session_memo
from ..sources.store import load_documents
from .textual import _kn5_docg, _kn5_score, _mkn5_score

_META_FILE = "_kn5_meta.json"
_C5_DIR = "c5"
_G = ["g1", "g2", "g3", "g4", "g5"]


def kn5_store_build(
    spark: SparkSession,
    docs_df: DataFrame,
    path: str,
    discount: float = 0.75,
) -> dict:
    """Train the 5-gram KN model on ``docs_df`` (doc_id, text) and
    persist it under ``path``: the c5 count parquet + meta. Returns
    {n_distinct_grams}."""
    docg = _kn5_docg(docs_df.select("doc_id", "text"), checkpoint=False)
    c5 = docg.groupBy(*_G).agg(F.sum("n").alias("c5"))
    c5.write.mode("overwrite").parquet(os.path.join(path, _C5_DIR))
    with open(os.path.join(path, _META_FILE), "w") as f:
        json.dump({"discount": discount}, f)
    return {
        "n_distinct_grams": spark.read.parquet(
            os.path.join(path, _C5_DIR)
        ).count()
    }


def kn5_store_upsert(
    spark: SparkSession, docs_df: DataFrame, path: str
) -> dict:
    """Fold a new shard's 5-gram counts into the persisted model:
    union the shard's (g1..g5, n) aggregate with the stored c5 and
    sum per gram — the associative count fold that makes
    build+upsert == build-on-union exact. The merged table is
    checkpointed before the overwrite (reading and rewriting the same
    parquet directory otherwise races). Returns gram counts."""
    docg = _kn5_docg(docs_df.select("doc_id", "text"), checkpoint=False)
    delta = docg.groupBy(*_G).agg(F.sum("n").alias("c5"))
    old = spark.read.parquet(os.path.join(path, _C5_DIR))
    merged = (
        old.unionByName(delta)
        .groupBy(*_G)
        .agg(F.sum("c5").alias("c5"))
        .localCheckpoint(eager=True)
    )
    n = merged.count()
    merged.write.mode("overwrite").parquet(os.path.join(path, _C5_DIR))
    return {"n_distinct_grams": n}


def kn5_store_score(
    spark: SparkSession, docs_df: DataFrame, path: str
) -> DataFrame:
    """Score a doc batch against the PERSISTED model — no corpus gram
    pass, no session cache: the batch's own gram table joins the
    store's c5 scan through ``textual._kn5_score``'s expressions.
    Output: (doc_id, n_grams, mean_kn5_logprob), identical to
    ``kneser_ney5_logprob`` for any batch whose grams the model holds
    (always true under upsert-then-score)."""
    with open(os.path.join(path, _META_FILE)) as f:
        meta = json.load(f)
    c5 = spark.read.parquet(os.path.join(path, _C5_DIR))
    docg = _kn5_docg(docs_df.select("doc_id", "text"), checkpoint=False)
    return _kn5_score(docg, c5, float(meta["discount"]))


def mkn5_store_score(
    spark: SparkSession, docs_df: DataFrame, path: str
) -> DataFrame:
    """MODIFIED-KN scoring off the SAME persisted c5 store: the
    per-level D1/D2/D3+ discounts are count-of-counts functions of c5
    (``textual._mkn5_score``), so one persisted model serves both
    scorers — no separate store, no extra build pass. Output:
    (doc_id, n_grams, mean_mkn5_logprob), identical to
    ``kneser_ney5_modified_logprob`` under upsert-then-score."""
    c5 = spark.read.parquet(os.path.join(path, _C5_DIR))
    docg = _kn5_docg(docs_df.select("doc_id", "text"), checkpoint=False)
    return _mkn5_score(docg, c5)


def corpus_kn5_store(spark: SparkSession, sf_dir: str) -> str:
    """Path of the KN5 model store trained on the whole corpus, built
    once (``artifacts.persisted``); shared by both scorers here and the
    production verdict store in ``pipeline``."""
    return persisted(
        "kn5store", sf_dir, {},
        lambda out: kn5_store_build(spark, _corpus(spark, sf_dir), out),
        lambda path: path,
    )


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_documents(spark, sf_dir).select("doc_id", "text")


def mkn5_store_corpus_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate entry: the modified-KN scores served from the shared
    per-corpus store, memoized per session; == the recompute, same
    oracle."""
    return session_memo(spark, "mkn5_store_scores", sf_dir, {}, lambda: mkn5_store_score(
        spark, _corpus(spark, sf_dir), corpus_kn5_store(spark, sf_dir)
    ).localCheckpoint(eager=True))


def kn5_store_corpus_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate entry: serve the whole corpus's scores FROM the per-corpus
    store, memoized per session. Must equal
    :func:`textual.kneser_ney5_logprob` exactly, so it shares the
    recompute's oracle SQL — the store==recompute pin at model scope."""
    return session_memo(spark, "kn5_store_scores", sf_dir, {}, lambda: kn5_store_score(
        spark, _corpus(spark, sf_dir), corpus_kn5_store(spark, sf_dir)
    ).localCheckpoint(eager=True))
