"""Byte-pair-encoding tokenizer: corpus-scale training + encoding.

Public-knowledge basis: Sennrich, Haddow & Birch 2016 ("Neural Machine
Translation of Rare Words with Subword Units") — iteratively merge the
most frequent adjacent symbol pair; the GPT-2 encoder applies the
learned merges lowest-rank-first. ``textual.bpe_pair_counts`` is the
single-step pair census; this module runs the full loop.

Spark-first shape (the part that matters at 100 TB):

* training operates on the DISTINCT-WORD table with frequencies —
  cost tracks vocabulary size, not corpus size (the standard trick:
  a 100 TB corpus has a ~10^7-word vocabulary);
* each iteration is: explode adjacent pairs (weighted by word count)
  -> count -> TakeOrdered(1) for the winning pair -> apply the merge
  to every word's symbol array with a CODEGEN fold (no Python in the
  loop); lineage is truncated per iteration with localCheckpoint,
  the PageRank pattern (operators/graph.py);
* only the per-iteration winning pair (3 scalars) reaches the driver;
* encoding broadcasts the merge ranks and runs the greedy
  lowest-rank-first merge in an Arrow-batched mapInPandas with a
  per-batch word cache (each distinct word is encoded once per batch).

No SQL oracle (iterative training is not expressible as one query);
both operators are pinned by a pure-Python replay in
tests/test_bpe.py — the gate entries are rows-only, like
neardup_pagerank.

Divergence from the classic formulation, documented: no end-of-word
marker (the operator's consumers count/digest tokens, they don't
detokenize), and words are the whitespace tokens of
``functions.text.tokens`` so vocabulary lines up with every other
text operator in the suite.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..artifacts import persisted
from ..functions import text as TXT
from ..sources.store import load_documents


def _word_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, n) distinct-word frequencies over the corpus."""
    return (
        load_documents(spark, sf_dir)
        .select(F.explode(TXT.tokens("text")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


def _merge_pair_expr(syms, left: str, right: str, merged_sym: str | None = None):
    """Codegen fold replacing every non-overlapping (left, right)
    adjacent pair in a symbol array with the merged symbol (default:
    plain concatenation — the BPE rule; WordPiece passes the
    ##-stripped form), leftmost-first — one merge step on one word."""
    merged = F.lit(left + right if merged_sym is None else merged_sym)
    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("pend"),
    )

    def step(acc, x):
        return (
            F.when(acc.pend.isNull(), F.struct(acc.out.alias("out"), x.alias("pend")))
            .when(
                (acc.pend == F.lit(left)) & (x == F.lit(right)),
                F.struct(
                    F.concat(acc.out, F.array(merged)).alias("out"),
                    F.lit(None).cast("string").alias("pend"),
                ),
            )
            .otherwise(
                F.struct(
                    F.concat(acc.out, F.array(acc.pend)).alias("out"), x.alias("pend")
                )
            )
        )

    return F.aggregate(
        syms,
        init,
        step,
        lambda acc: F.when(acc.pend.isNull(), acc.out).otherwise(
            F.concat(acc.out, F.array(acc.pend))
        ),
    )


def bpe_train(
    spark: SparkSession, sf_dir: str, n_merges: int = 10
) -> DataFrame:
    """Learn ``n_merges`` BPE merges over the corpus vocabulary.
    Output (rank, left, right, pair_count) — pair_count is the
    weighted adjacent-pair frequency at the time of the merge; ties
    break lexicographically on (left, right), so the merge table is
    deterministic under any partitioning."""
    # split-at-every-boundary leaves a trailing "" (the (?!^) lookahead
    # also matches end-of-string); strip it
    words = _word_table(spark, sf_dir).select(
        "n",
        F.array_remove(F.split(F.col("word"), "(?!^)"), "").alias("syms"),
    )
    words = words.localCheckpoint(eager=True)

    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        pairs = (
            words.filter(F.size("syms") >= 2)
            .select(
                "n",
                F.explode(
                    F.expr(
                        "transform(slice(syms, 1, size(syms) - 1), "
                        "(s, i) -> struct(s AS l, syms[i + 1] AS r))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("n").alias("cnt"))
        )
        top = pairs.orderBy(
            F.col("cnt").desc(), F.col("l").asc(), F.col("r").asc()
        ).limit(1).collect()
        if not top:
            break
        l, r, cnt = top[0].l, top[0].r, int(top[0].cnt)
        merges.append((rank, l, r, cnt))
        words = words.select(
            "n", _merge_pair_expr(F.col("syms"), l, r).alias("syms")
        ).localCheckpoint(eager=True)

    return spark.createDataFrame(
        merges, "rank bigint, left string, right string, pair_count bigint"
    )


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Greedy lowest-rank-first BPE encode of one word (the GPT-2
    procedure): repeatedly find the present pair with the lowest merge
    rank and merge all its non-overlapping occurrences leftmost-first.
    Pure Python on purpose — the replay reference for tests AND the
    kernel the Arrow batches call."""
    syms = list(word)
    while len(syms) > 1:
        best_rank, best_pair = None, None
        for i in range(len(syms) - 1):
            rk = ranks.get((syms[i], syms[i + 1]))
            if rk is not None and (best_rank is None or rk < best_rank):
                best_rank, best_pair = rk, (syms[i], syms[i + 1])
        if best_pair is None:
            break
        out: list[str] = []
        i = 0
        while i < len(syms):
            if (
                i + 1 < len(syms)
                and (syms[i], syms[i + 1]) == best_pair
            ):
                out.append(syms[i] + syms[i + 1])
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


_ENCODE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_words", T.LongType()),
        T.StructField("n_bpe_tokens", T.LongType()),
        T.StructField("tokens_md5", T.StringType()),
    ]
)


def bpe_encode_digest(
    spark: SparkSession,
    sf_dir: str,
    merges: Sequence[tuple[str, str]] | None = None,
    n_merges: int = 10,
) -> DataFrame:
    """Encode every document with the learned merges; per-doc digest
    (doc_id, n_words, n_bpe_tokens, tokens_md5) — md5 of the
    space-joined token stream, so the gate row is scalar while the
    whole encoding is pinned. ``merges`` defaults to training on the
    same corpus (the self-contained gate entry)."""
    import hashlib

    if merges is None:
        merges = [
            (r.left, r.right)
            for r in bpe_train(spark, sf_dir, n_merges=n_merges)
            .orderBy("rank")
            .collect()
        ]
    ranks = {pair: i for i, pair in enumerate(merges)}
    bc = spark.sparkContext.broadcast(ranks)

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rk = bc.value
        cache: dict[str, list[str]] = {}
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                words = str(text).lower().strip().split()
                toks: list[str] = []
                for w in words:
                    enc = cache.get(w)
                    if enc is None:
                        enc = encode_word(w, rk)
                        cache[w] = enc
                    toks.extend(enc)
                rows.append(
                    (
                        int(doc_id),
                        len(words),
                        len(toks),
                        hashlib.md5(" ".join(toks).encode()).hexdigest(),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_words", "n_bpe_tokens", "tokens_md5"]
            )

    return (
        load_documents(spark, sf_dir)
        .select("doc_id", "text")
        .mapInPandas(encode, schema=_ENCODE_SCHEMA)
    )


def bpe_store_build(
    spark: SparkSession, sf_dir: str, path: str, n_merges: int = 10
) -> dict:
    """Persist the learned merge table (round 11 — the lm_store
    discipline for the tokenizer family): (rank, left, right,
    pair_count) parquet + meta. The merge table IS the model (the
    GPT-2 vocab file); encoding a new snapshot then reads n_merges
    rows instead of re-running the training loop per session. Like
    the logreg store, no upsert: BPE merges are order-dependent
    greedy choices — refresh is retrain."""
    import json
    import os

    bpe_train(spark, sf_dir, n_merges=n_merges).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "merges"))
    with open(os.path.join(path, "_bpe_meta.json"), "w") as f:
        json.dump({"n_merges": n_merges}, f)
    return {
        "n_merges": spark.read.parquet(os.path.join(path, "merges")).count()
    }


def bpe_encode_from_store(
    spark: SparkSession, sf_dir: str, path: str
) -> DataFrame:
    """Encode the corpus with the PERSISTED merges — must equal
    ``bpe_encode_digest`` with in-session training (the merge table is
    deterministic, so store == retrain byte-for-byte; pinned)."""
    import os

    merges = [
        (r.left, r.right)
        for r in spark.read.parquet(os.path.join(path, "merges"))
        .orderBy("rank")
        .collect()
    ]
    return bpe_encode_digest(spark, sf_dir, merges=merges)


def bpe_encode_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate entry: build the store once (``artifacts.persisted``), encode
    from it; == the self-contained bpe_encode entry
    (rows-only family — the encode digest has no SQL twin)."""
    return persisted(
        "bpestore", sf_dir, {},
        lambda out: bpe_store_build(spark, sf_dir, out),
        lambda path: bpe_encode_from_store(spark, sf_dir, path),
    )
