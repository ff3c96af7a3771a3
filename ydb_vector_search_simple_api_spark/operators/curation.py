"""Corpus-curation operators for the large-scale training-data
pipeline: decontamination, token-budget packing, stratified sampling,
repetition/quality signals, embedding quantization, and label kNN.

The reference has no curation surface; these are north-star
extensions designed Spark-first for 100 TB corpora. Every operator
here is oracle-backed (``oracles_curation.py``) — hashing is md5 and
rounding is ``ROUND(x, 6) + 0.0`` so DuckDB reproduces each value
bit-for-bit.

Scale shapes at a glance:

* **decontaminate**: the benchmark side is SMALL by construction
  (eval sets are thousands of docs, the corpus is billions), so its
  exploded shingle table rides a broadcast — the 100 TB training side
  never shuffles for the probe; only matched (train, bench) pairs
  enter the one aggregation shuffle.
* **pack_chunks**: one window over (doc_id, chunk_id) — the same
  partitioning the chunker already emits.
* **stratified_sample**: pure per-row md5 map, zero shuffles,
  reproducible on any cluster layout (same contract as
  ``sampling.split_assign``).
* **repetition_signals**: one (doc_id, token) aggregation with
  map-side combine for the mode; the n-gram dup ratio is a narrow
  array fold sharing the same tokenization barrier.
* **quantize_embeddings**: narrow per-row map (scale + int8 codes).
* **knn_classify**: exact kNN join (same shape as ``knn_join``), vote
  aggregation over k·|queries| rows — tiny by construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..artifacts import session_memo
from ..functions import text as TXT
from ..sources.store import load_documents, load_embeddings
from . import dedup
from .sampling import _draw, _threshold_hex
from .textual import chunk_documents

#: round() precision shared with every oracle (see oracles.py)
ROUND = 6


# ----------------------------------------------------------- decontam


def decontaminate(
    docs: DataFrame,
    bench_pred: Column,
    n: int = 8,
    min_containment: float = 0.3,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_df: DataFrame | None = None,
) -> DataFrame:
    """Train/eval contamination probe: for every training document,
    the benchmark documents whose n-gram shingle set it contains
    above ``min_containment`` (|train ∩ bench| / |bench|) — the
    overlap direction that matters for eval integrity (a training doc
    that *contains* the benchmark passage leaks the answer, however
    much other text surrounds it).

    ``bench_pred`` marks the benchmark rows; the rest are the
    training side. Inverted-index join on the shingle: documents only
    meet through a shared n-gram, and the benchmark shingle table is
    broadcast (eval sets are small by construction; a corpus-sized
    benchmark would make this a plain shuffle join — drop the hint).

    ``bench_df`` supplies the benchmark as its OWN table (the
    production shape: eval sets live in a small separate store, not
    scattered through the corpus) — then ``docs`` is the whole
    training side and ``bench_pred`` is ignored. Without it the
    benchmark is carved out of ``docs`` by predicate, which costs a
    corpus-wide text scan per benchmark read when the rows are
    scattered (fine at gate scale, measured in text_scale_probe).

    Output: (doc_id, bench_id, n_common, containment), containment
    rounded to 6.
    """
    if bench_df is not None:
        return _decontaminate_pair(
            bench_df, docs, n=n, min_containment=min_containment,
            id_col=id_col, text_col=text_col,
        )
    # predicate split: shingle the table ONCE (one scan + one
    # tokenization behind one exchange) and split the SHINGLED rows —
    # both consumers below read the same exchange (ReusedExchange)
    # instead of re-scanning and re-tokenizing per side
    marked = docs.select(
        F.col(id_col).alias(id_col),
        F.col(text_col).alias(text_col),
        bench_pred.alias("__is_bench"),
    )
    sh_all = dedup.shingled_table(
        marked, id_col=id_col, text_col=text_col, n=n,
        extra_cols=("__is_bench",),
    )
    return _decontaminate_pair(
        None, None, n=n, min_containment=min_containment,
        id_col=id_col, text_col=text_col,
        bench_shingled=sh_all.filter(F.col("__is_bench")).select("id", "sh"),
        train_shingled=sh_all.filter(~F.col("__is_bench")).select("id", "sh"),
    )


def _decontaminate_pair(
    bench: DataFrame,
    train: DataFrame,
    n: int = 8,
    min_containment: float = 0.3,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_shingled: DataFrame | None = None,
    train_shingled: DataFrame | None = None,
) -> DataFrame:
    """The containment join on an explicit (bench, train) split —
    shared by the exact path and the Bloom path's verify stage (which
    must NOT re-derive its candidate set through a union re-filter:
    each filter pass would replay the whole admission scan)."""
    bsh_tbl = (
        bench_shingled
        if bench_shingled is not None
        else dedup.shingled_table(bench, id_col=id_col, text_col=text_col, n=n)
    )
    bench_sh = bsh_tbl.select(
        F.col("id").alias("bench_id"), F.explode("sh").alias("shingle")
    )
    bench_sizes = bench_sh.groupBy("bench_id").agg(
        F.count(F.lit(1)).alias("n_bench_sh")
    )
    tsh_tbl = (
        train_shingled
        if train_shingled is not None
        else dedup.shingled_table(train, id_col=id_col, text_col=text_col, n=n)
    )
    train_sh = tsh_tbl.select(
        F.col("id").alias("doc_id"), F.explode("sh").alias("shingle")
    )
    common = (
        train_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    containment = F.round(
        F.col("n_common").cast("double") / F.col("n_bench_sh").cast("double"),
        ROUND,
    ) + F.lit(0.0)
    return (
        common.join(F.broadcast(bench_sizes), "bench_id")
        .withColumn("containment", containment)
        .filter(F.col("containment") >= min_containment)
        .select("doc_id", "bench_id", "n_common", "containment")
    )


def decontaminate_documents(
    spark: SparkSession, sf_dir: str, n: int = 8, min_containment: float = 0.3
) -> DataFrame:
    """Gate entry: documents from source 'src0' act as the benchmark
    set, the rest as the training corpus."""
    d = load_documents(spark, sf_dir)
    return decontaminate(
        d, F.col("source") == "src0", n=n, min_containment=min_containment
    )


def bloom_admission_state(
    bench: DataFrame,
    n: int = 8,
    fpp: float = 0.01,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple:
    """(bits, k, m) Bloom state over the benchmark's DISTINCT shingle
    xxhash64 hashes — the driver-resident admission structure
    :func:`decontaminate_bloom` probes. The collect is bench-sized
    (Arrow toPandas — py4j row decode measured 11 s vs 7.6 s on the
    same 12k-hash pull at 500k docs); k bit indices per hash via
    Kirsch-Mitzenmacher (h_lo + i*h_hi) mod m."""
    import math

    import numpy as np

    bench_hashes = (
        dedup.shingled_table(bench, id_col=id_col, text_col=text_col, n=n)
        .select(F.explode("sh").alias("shingle"))
        .select(F.xxhash64("shingle").alias("h"))
        .distinct()
        .toPandas()["h"]
        .to_numpy()
    )
    n_items = max(len(bench_hashes), 1)
    m = max(64, int(-n_items * math.log(fpp) / (math.log(2.0) ** 2)))
    m = ((m + 63) // 64) * 64
    k = max(1, int(round(m / n_items * math.log(2.0))))
    bits = np.zeros(m // 64, dtype=np.uint64)
    if len(bench_hashes):
        h = np.asarray(bench_hashes, dtype=np.int64).astype(np.uint64)
        h_lo = h & np.uint64(0xFFFFFFFF)
        h_hi = h >> np.uint64(32)
        for i in range(k):
            idx = (h_lo + np.uint64(i) * h_hi) % np.uint64(m)
            np.bitwise_or.at(
                bits,
                (idx >> np.uint64(6)).astype(np.int64),
                np.uint64(1) << (idx & np.uint64(63)),
            )
    return bits, k, m


def decontaminate_bloom(
    docs: DataFrame,
    bench_pred: Column,
    n: int = 8,
    min_containment: float = 0.3,
    id_col: str = "doc_id",
    text_col: str = "text",
    fpp: float = 0.01,
    bench_df: DataFrame | None = None,
    bloom_state: tuple | None = None,
) -> DataFrame:
    """LARGE-BENCHMARK path for :func:`decontaminate`: Bloom-sketch
    admission, exact verification — identical output (shares the
    oracle). Measured crossover (SCALING.md round-5): with a small
    eval set (~10^4 shingles) the exact broadcast join is faster and
    remains the default; at ~5M benchmark shingles this path wins
    1.6× at 1M docs, and at 10^8 shingles (suite-scale
    decontamination) the exact path's broadcast hash map (~50-100
    B/shingle, 5-10 GB) stops fitting executors at all while the
    bitset (~10 bits/shingle, ~120 MB) still broadcasts.

    The exact path broadcasts the benchmark's exploded shingle-string
    table and hash-joins every training shingle against it. That is
    already shuffle-free on the corpus side, but with a big benchmark
    the probe itself is the cost: every training shingle string enters
    a join against a multi-hundred-MB broadcast hash map. This variant
    compresses the membership structure to a Bloom bitset (~10 bits
    per benchmark shingle at fpp=1%) and probes it with a vectorized
    numpy kernel over packed int64 shingle-hash arrays — no explode,
    no string hash-join, no aggregation shuffle for the non-candidate
    ~all of the corpus. Only admitted docs (any-shingle-hit; a strict
    superset of the true contaminated set, since Bloom filters have
    no false negatives) re-enter the exact inverted-index join, whose
    input is now benchmark-sized, not corpus-sized.

    Both sides hash shingles with Spark's ``xxhash64`` (seed 42), so
    bench build and train probe agree bit-for-bit; the k bit indices
    derive from the one 64-bit hash via Kirsch–Mitzenmacher
    ``(h_lo + i*h_hi) mod m``.

    The bitset rides a SparkContext broadcast (m/8 bytes — ~1 MB per
    1M benchmark shingles) into an Arrow-batched numpy probe that
    flattens each batch's hash arrays and segment-reduces the bit
    tests (``bitwise_or.reduceat``) — k big-array gathers per batch,
    never a per-row Python loop. Two rejected designs, measured at 1M
    docs: a per-row numpy loop (tiny-array dispatch dominates) and a
    pure-JVM ``exists``+``element_at`` probe over an array<bigint>
    literal — PySpark's ``F.lit`` on a 120k-element list costs ~50 s
    of driver plan-build alone and ``element_at`` against it
    evaluates at ~5 us/op, losing to this kernel's vectorized gather
    by orders of magnitude.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    if bench_df is not None:
        bench, train = bench_df, docs
    else:
        bench = docs.filter(bench_pred)
        train = docs.filter(~bench_pred)

    # -- build (or reuse): the bitset is a pure function of the
    # benchmark corpus + (n, fpp); serving keeps it resident across
    # requests (``bloom_admission_state`` + the gate entry's session
    # cache) instead of re-collecting the benchmark per query
    bits, k, m = (
        bloom_state
        if bloom_state is not None
        else bloom_admission_state(
            bench, n=n, fpp=fpp, id_col=id_col, text_col=text_col
        )
    )
    bc = docs.sparkSession.sparkContext.broadcast(bits)
    kk, mm = k, m

    def _any_hit_fn(hash_arrays):
        # ONE flattened pass per Arrow batch: concatenate the batch's
        # hash arrays, k vectorized gathers against the broadcast
        # bitset, then a segment OR (reduceat) back to per-row flags
        bitset = bc.value
        n_rows = len(hash_arrays)
        out = np.zeros(n_rows, dtype=bool)
        lens = np.fromiter(
            (0 if a is None else len(a) for a in hash_arrays),
            dtype=np.int64,
            count=n_rows,
        )
        total = int(lens.sum())
        if total == 0:
            return pd.Series(out)
        flat = np.concatenate(
            [np.asarray(a, dtype=np.int64) for a in hash_arrays
             if a is not None and len(a)]
        ).astype(np.uint64)
        lo = flat & np.uint64(0xFFFFFFFF)
        hi = flat >> np.uint64(32)
        hit = np.ones(total, dtype=bool)
        for i in range(kk):
            idx = (lo + np.uint64(i) * hi) % np.uint64(mm)
            word = bitset[(idx >> np.uint64(6)).astype(np.int64)]
            hit &= (word >> (idx & np.uint64(63))) & np.uint64(1) != 0
        nz = lens > 0
        bounds = np.concatenate(
            ([0], np.cumsum(lens[nz])[:-1])
        ).astype(np.int64)
        out[nz] = np.bitwise_or.reduceat(hit, bounds)
        return pd.Series(out)

    _any_hit = F.pandas_udf(_any_hit_fn, T.BooleanType())

    # -- admit: packed int64 hash array per doc (no explode), one
    # Arrow-batched bit probe; candidates ⊇ true contaminated docs
    # (Bloom filters have no false negatives). The text column rides
    # the shingle exchange (extra_cols) so admission emits complete
    # candidate ROWS — re-fetching them by id would cost a second
    # full corpus scan (measured ~10 s of the 35 s total at 1M docs).
    train_sh = dedup.shingled_table(
        train, id_col=id_col, text_col=text_col, n=n, extra_cols=(text_col,)
    )
    cand_docs = (
        train_sh.withColumn("shh", F.transform("sh", lambda x: F.xxhash64(x)))
        .filter(_any_hit("shh"))
        .select(F.col("id").alias(id_col), text_col)
    )

    # materialize the admitted rows ONCE: the verify stage reads them
    # from two subtrees, and without the barrier each read would
    # replay the full admission scan through lineage — measured 101 s
    # vs the exact path's 40 s at 1M docs before the fix.
    # Contamination is rare by contract, so the checkpoint is small;
    # a wholesale-duplicated benchmark makes it corpus-sized — the
    # same failure mode the exact path's verify join has, no new
    # cliff.
    cand_docs = cand_docs.localCheckpoint(eager=True)

    # -- verify: the exact inverted-index join on the explicit
    # (bench, admitted-train) pair — false positives from the sketch
    # die here, so the output is bit-identical to the exact path.
    return _decontaminate_pair(
        bench,
        cand_docs,
        n=n,
        min_containment=min_containment,
        id_col=id_col,
        text_col=text_col,
    )


def decontaminate_bloom_documents(
    spark: SparkSession, sf_dir: str, n: int = 8, min_containment: float = 0.3
) -> DataFrame:
    """Gate entry: the Bloom-admission twin of ``decontaminate`` —
    same benchmark convention (source 'src0'), same oracle."""
    d = load_documents(spark, sf_dir)
    # a pure corpus function kept session-resident; bench reports its
    # cold build via cold_s
    state = session_memo(spark, "bloom_state", sf_dir, {"n": n}, lambda: (
        bloom_admission_state(d.filter(F.col("source") == "src0"), n=n)
    ))
    return decontaminate_bloom(
        d, F.col("source") == "src0", n=n, min_containment=min_containment,
        bloom_state=state,
    )


# ------------------------------------------------------------ packing


def pack_chunks(
    spark: SparkSession,
    sf_dir: str,
    chunk_size: int = 64,
    stride: int = 48,
    budget: int = 256,
    doc_filter: DataFrame | None = None,
) -> DataFrame:
    """Token-budget sharding of the chunk stream into training bins:
    chunk c (in chunk_id order within its doc) lands in bin
    ``floor(tokens_before_c / budget)``. Deterministic, one window
    over the chunker's own (doc_id, chunk_id) ordering, and
    SQL-expressible — unlike greedy first-fit, whose bin boundaries
    depend on remainder state. A bin's total may overshoot ``budget``
    by at most one chunk (bounded by chunk_size), which a trainer
    absorbs as truncation/padding.

    ``doc_filter`` (a doc_id set) pushes below the chunker — bin
    assignment is within-document, so restriction commutes.
    Output: (doc_id, bin_id, n_chunks, n_bin_tokens).
    """
    c = chunk_documents(
        spark, sf_dir, chunk_size=chunk_size, stride=stride,
        doc_filter=doc_filter,
    )
    w = Window.partitionBy("doc_id").orderBy("chunk_id")
    before = F.sum("n_chunk_tokens").over(w) - F.col("n_chunk_tokens")
    return (
        c.withColumn("bin_id", F.floor(before / budget))
        .groupBy("doc_id", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_chunk_tokens").cast("bigint").alias("n_bin_tokens"),
        )
    )


# ----------------------------------------------------------- sampling


def stratified_sample_stats(
    spark: SparkSession,
    sf_dir: str,
    rates: dict[str, float] | None = None,
    default_rate: float = 1.0,
) -> DataFrame:
    """Language-stratified deterministic sampling — the data-mixing
    primitive (downsample dominant languages, keep the tail). A row
    survives iff its md5 draw (pure function of doc_id, same contract
    as ``sampling.hash_sample``) falls below its language's rate.

    Gate shape: per-language (lang, n_docs, n_sampled) so the result
    is small and the rates are auditable; the row-level filter is
    ``stratified_sample``."""
    rates = RATES_DEFAULT if rates is None else rates
    d = load_documents(spark, sf_dir)
    keep = _keep_col(F.col("doc_id"), F.col("lang"), rates, default_rate)
    return (
        d.select("lang", keep.alias("keep"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("keep").cast("bigint")).alias("n_sampled"),
        )
    )


#: default mix: halve the head language, keep the tail
RATES_DEFAULT = {"en": 0.5, "fr": 0.8}


def _keep_col(
    key: Column, lang: Column, rates: dict[str, float], default_rate: float
) -> Column:
    draw = _draw(key)
    expr = F.lit(None).cast("boolean")
    out = None
    for lang_val, rate in sorted(rates.items()):
        cond = draw < F.lit(_threshold_hex(rate))
        out = (
            F.when(lang == lang_val, cond)
            if out is None
            else out.when(lang == lang_val, cond)
        )
    base = draw < F.lit(_threshold_hex(default_rate))
    return out.otherwise(base) if out is not None else base


def stratified_sample(
    df: DataFrame,
    key_col: str,
    lang_col: str,
    rates: dict[str, float],
    default_rate: float = 1.0,
) -> DataFrame:
    """Row-level stratified filter (the operator the stats query
    audits)."""
    return df.filter(
        _keep_col(F.col(key_col), F.col(lang_col), rates, default_rate)
    )


# ------------------------------------------------------- rep. signals


def repetition_signals(
    spark: SparkSession, sf_dir: str, n: int = 3
) -> DataFrame:
    """Gate entry over ``documents`` — see :func:`repetition_signals_df`."""
    return repetition_signals_df(
        load_documents(spark, sf_dir).select("doc_id", "text"), n=n
    )


def repetition_signals_df(d: DataFrame, n: int = 3) -> DataFrame:
    """Gopher-style repetition quality signals per document:

    * ``top_token_frac`` — occurrences of the most frequent token over
      total tokens (mode via one (doc_id, token) count with map-side
      combine; ties don't matter, only the max count is read);
    * ``dup_ngram_frac`` — 1 − distinct/total word n-grams, the
      boilerplate/loop detector.

    Output: (doc_id, n_tokens, top_token_frac, dup_ngram_frac),
    fractions rounded to 6. Docs shorter than n grams score 0.0
    dup_ngram_frac.
    """
    toks = d.select("doc_id", TXT.tokens("text").alias("t"))
    counts = (
        toks.select("doc_id", F.explode("t").alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.max("cnt").alias("max_cnt"),
            F.sum("cnt").cast("bigint").alias("n_tokens"),
        )
    )
    sh = TXT.shingles_from_tokens(F.col("t"), n)
    grams = toks.select(
        "doc_id",
        F.size(sh).alias("n_sh"),
        F.size(F.array_distinct(sh)).alias("n_sh_distinct"),
    )
    top_frac = F.round(
        F.col("max_cnt").cast("double") / F.col("n_tokens").cast("double"), ROUND
    ) + F.lit(0.0)
    dup_frac = F.when(F.col("n_sh") <= 0, F.lit(0.0)).otherwise(
        F.round(
            1.0
            - F.col("n_sh_distinct").cast("double") / F.col("n_sh").cast("double"),
            ROUND,
        )
        + F.lit(0.0)
    )
    return (
        counts.join(grams, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            top_frac.alias("top_token_frac"),
            dup_frac.alias("dup_ngram_frac"),
        )
    )


# --------------------------------------------------------- quantizing


def quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate entry over ``embeddings`` — see :func:`quantize_df`."""
    return quantize_df(load_embeddings(spark, sf_dir))


def quantize_df(e: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the
    4-8x memory/bandwidth lever for ANN at 100 TB (codes live where
    the vectors lived; exact re-scoring fetches fp candidates only).

    Per vector: ``qscale`` = max|x| rounded to 6; code_i =
    ``floor(x_i * 127 / max|x| + 0.5)`` (round-half-up, exact in
    IEEE double on both engines — banker's-rounding built-ins are NOT
    portable and are avoided). Zero vectors quantize to all-zero
    codes. Gate shape digests the code array: (vec_id, dim, qscale,
    codes_md5) with codes_md5 = md5 of the comma-joined codes.
    """
    v = F.col(vec_col)
    maxabs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    code = lambda x: F.floor(x * 127.0 / maxabs + 0.5).cast("bigint")  # noqa: E731
    codes = F.when(
        maxabs == 0.0, F.transform(v, lambda x: F.lit(0).cast("bigint"))
    ).otherwise(F.transform(v, code))
    return e.select(
        "vec_id",
        F.size(v).alias("dim"),
        (F.round(maxabs, ROUND) + F.lit(0.0)).alias("qscale"),
        F.md5(F.concat_ws(",", codes.cast("array<string>"))).alias("codes_md5"),
    )


# --------------------------------------------------------- components


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
    checkpoint_every: int = 5,
    small_graph_max: int = 1_000_000,
) -> DataFrame:
    """Resolve a near-dup pair graph into components: (doc_id,
    component_id) with component_id = min reachable id — turning
    pairwise dedup output into the canonical-document assignment a
    pipeline actually applies (keep component_id, drop the rest).

    Hash-min label propagation: each round every vertex takes the min
    of its own and its neighbors' labels; rounds = graph diameter,
    and near-dup graphs are shallow (dup clusters are cliques or
    stars, diameter ≤ ~2-3). Iterative-algorithm hygiene: the edge
    table is MATERIALIZED once up front (``localCheckpoint``) —
    without it every round re-derives the (possibly expensive)
    pair-finding plan through lineage, turning diameter rounds into
    diameter × full recomputes — and each round's label table is
    checkpointed too, both to cut the growing lineage and because the
    convergence check reads it twice. Converges exactly; raises if
    ``max_iter`` rounds don't reach the fixpoint.

    For billion-edge graphs the literature's large-star/small-star
    alternation (Kiveris et al.) halves round count; hash-min is the
    right baseline and shares its per-round shape. (``checkpoint_every``
    is retained for API stability but rounds always checkpoint: the
    label table is vertices-of-the-pair-graph sized, far smaller than
    the corpus.)
    """
    edges = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    )
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    # near-dup graphs are O(duplicated docs) — usually TINY next to
    # the corpus. Below ``small_graph_max`` edges, resolve driver-side
    # with union-find: identical output (min reachable id), one
    # bounded collect (≤ ~16 MB at the default bound — the same
    # bounded-driver-collect contract as PQ training / centroid
    # tables), ZERO fixpoint rounds. The distributed loop's ~4 Spark
    # jobs per round cost more than this entire resolution for small
    # graphs (measured: 8 s of round overhead on a 920-edge graph).
    n_sym = sym.count()
    if n_sym <= 2 * small_graph_max:
        rows = sym.collect()
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for r in rows:
            a, b = r.src, r.dst
            if a not in parent:
                parent[a] = a
            if b not in parent:
                parent[b] = b
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[rb] = ra
        comp_min: dict = {}
        for v in parent:
            r = find(v)
            if r not in comp_min or v < comp_min[r]:
                comp_min[r] = v
        out = [(v, comp_min[find(v)]) for v in parent]
        spark = pairs.sparkSession
        id_type = pairs.schema[id_a].dataType.simpleString()
        return spark.createDataFrame(
            out, f"doc_id {id_type}, component_id {id_type}"
        )
    lab = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        nbr = sym.join(lab, sym["dst"] == lab["id"]).select(
            F.col("src").alias("id"), F.col("label")
        )
        new = (
            lab.select("id", "label")
            .union(nbr)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        changed = (
            lab.alias("o")
            .join(new.alias("n"), "id")
            .filter(F.col("o.label") != F.col("n.label"))
            .limit(1)
            .count()
        )
        lab = new
        if changed == 0:
            return lab.select(
                F.col("id").alias("doc_id"), F.col("label").alias("component_id")
            )
    raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")


def dedup_components(
    spark: SparkSession, sf_dir: str, n: int = 3, threshold: float = 0.8
) -> DataFrame:
    """Gate entry: components of the n-gram-Jaccard near-dup graph
    over ``documents`` — the end-to-end 'which doc survives dedup'
    answer."""
    pairs = dedup.ngram_jaccard_pairs(
        load_documents(spark, sf_dir), n=n, threshold=threshold
    )
    return connected_components(pairs)


# ------------------------------------------------------- token budget


def source_token_budget(
    spark: SparkSession, sf_dir: str, budget: int = 20000
) -> DataFrame:
    """Per-source token-budget enforcement — the mixing control that
    caps how much any one source contributes to a training corpus.
    Docs are admitted in doc_id order until the source's cumulative
    whitespace-token count passes ``budget`` (the first overflowing
    doc is the last admitted).

    One window per source + one aggregation; deterministic given the
    (source, doc_id) ordering. Output: (source, n_docs, n_admitted,
    n_admitted_tokens).
    """
    d = load_documents(spark, sf_dir).select(
        "source", "doc_id", TXT.token_count("text").alias("n_tok")
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    before = F.sum("n_tok").over(w) - F.col("n_tok")
    return (
        d.withColumn("admit", (before < budget).cast("int"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("admit").cast("bigint").alias("n_admitted"),
            F.sum(F.col("admit") * F.col("n_tok"))
            .cast("bigint")
            .alias("n_admitted_tokens"),
        )
    )


# -------------------------------------------------------------- label


def knn_classify(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    n_queries: int = 8,
) -> DataFrame:
    """k-nearest-neighbor label vote over the embeddings table (its
    ``label`` column): for each query vector, the majority label among
    its k cosine neighbors (self excluded) — the auto-labeling /
    weak-supervision primitive. Ties break to the smaller label.

    Output: (query_id, pred_label, votes).
    """
    from .search import knn_join

    embs = load_embeddings(spark, sf_dir)
    queries_df = embs.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    corpus = embs.select(F.col("vec_id").alias("id"), "embedding")
    # k+1 then drop the self-match: the query IS a corpus row here
    nn = knn_join(
        spark, queries_df, corpus, k=k + 1, strategy="CosineSimilarity",
        round_digits=ROUND,
    ).filter(F.col("query_id") != F.col("id"))
    labels = embs.select(F.col("vec_id").alias("id"), "label")
    votes = (
        nn.join(F.broadcast(labels), "id")
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("label").asc()
    )
    return (
        votes.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("query_id", F.col("label").alias("pred_label"), "votes")
    )


# ----------------------------------------------------------- PII scrub

#: redaction passes, applied IN ORDER (URLs first so an address inside
#: a URL is counted once, as a URL). Patterns are deliberately written
#: in the common subset of Java regex (Spark) and RE2 (DuckDB): no
#: lookaround, no backreferences, explicit character classes.
PII_PASSES: list[tuple[str, str, str]] = [
    ("n_urls", r"https?://[A-Za-z0-9._/-]+", "<URL>"),
    ("n_emails", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("n_ips", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("n_phones", r"\+\d{1,2} \d{3} \d{4}\b", "<PHONE>"),
]


def attach_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic PII augmentation for testing the scrubber: the
    synthetic corpus contains no addresses, so (same pattern as
    ``multimodal.attach_payload``) each doc gets a contact footer
    derived from ``doc_id`` — an email, a URL, an IPv4, and (for every
    third doc) a phone number. Both the Spark and the DuckDB oracle
    build the identical string, so the gate exercises the actual
    regex machinery, not a no-op."""
    i = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    footer = F.concat(
        F.lit(" Contact user"), s(i), F.lit("@example.org via http://ex"),
        s(i % 7), F.lit(".example.com/p"), s(i),
        F.lit(" at 10."), s(i % 256), F.lit("."), s((i * 7) % 256),
        F.lit("."), s((i * 13) % 256),
        F.when(i % 3 == 0, F.concat(
            F.lit(" or +1 555 "), F.lpad(s((i * 37) % 10000), 4, "0")
        )).otherwise(F.lit("")),
    )
    return df.withColumn("pii_text", F.concat(F.col(text_col), footer))


def redact_pii(df: DataFrame, text_col: str = "pii_text") -> DataFrame:
    """Scrub PII from ``text_col``: per-category match counts plus the
    redacted text. Pure codegen projections (regexp_count /
    regexp_replace chains) — zero shuffles, scales as a narrow map.
    Counts are taken on the SAME intermediate state the corresponding
    replacement runs on, so count == number of tokens inserted."""
    t = F.col(text_col)
    out = df
    for cnt_col, pat, token in PII_PASSES:
        out = out.withColumn(cnt_col, F.regexp_count(t, F.lit(pat)).cast("bigint"))
        out = out.withColumn("_pii_tmp", F.regexp_replace(t, pat, token))
        t = F.col("_pii_tmp")
        out = out.withColumn(text_col, t).drop("_pii_tmp")
        t = F.col(text_col)
    return out.withColumnRenamed(text_col, "redacted")


def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate shape: (doc_id, n_urls, n_emails, n_ips, n_phones,
    clean_md5) over the PII-augmented documents table."""
    d = attach_pii(load_documents(spark, sf_dir))
    r = redact_pii(d.select("doc_id", "pii_text"))
    return r.select(
        "doc_id", "n_urls", "n_emails", "n_ips", "n_phones",
        F.md5(F.col("redacted")).alias("clean_md5"),
    )


# ------------------------------------------------------- vector agg


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid, flat (label, pos, centroid) rows —
    the class-prototype primitive (centroid init for clustering,
    per-class drift monitoring, nearest-class-mean labeling).

    Spark-first shape: posexplode -> groupBy(label, pos) with MAP-SIDE
    partial aggregation, so the shuffle carries at most
    labels x dim x partitions partial sums, not rows x dim values.
    Sums run in DECIMAL(28,10) over the float32 values cast via double
    (exact, order-independent — a float sum would drift between
    partitionings); the single double division afterwards is
    deterministic, and an exact half-way tie at 10 decimal places is
    impossible for binary doubles (5e-11 has no binary representation).
    ``pyspark.ml.stat.Summarizer.mean`` is the one-pass float
    alternative when bit-stability across engines is not required.
    """
    e = load_embeddings(spark, sf_dir)
    ex = e.select("label", F.posexplode("embedding").alias("pos", "val"))
    centroid = (
        F.round(
            F.sum(F.col("val").cast("double").cast("decimal(28,10)"))
            .cast("double")
            / F.count(F.lit(1)),
            ROUND,
        )
        + F.lit(0.0)
    )
    return ex.groupBy("label", (F.col("pos") + 1).alias("pos")).agg(
        centroid.alias("centroid")
    )


# ------------------------------------------------ end-to-end pipeline


def curate_corpus(
    spark: SparkSession,
    sf_dir: str,
    min_quality: float = 0.8,
    min_tokens: int = 16,
    n: int = 8,
    min_containment: float = 0.3,
    train: float = 0.8,
    valid: float = 0.1,
) -> DataFrame:
    """The whole curation flow as ONE verifiable operator: a document
    survives iff it (a) passes the quality filter, (b) is the
    canonical copy of its exact-dup group (min doc_id), (c) is not a
    benchmark document and not contaminated by one (shingle
    containment), and every survivor gets its deterministic split.
    Output: (doc_id, split).

    Every stage is itself a gate-checked operator; this composition is
    ALSO oracle-checked end-to-end (the DuckDB twin chains the same
    stage SQL as CTEs) — the property a pipeline owner actually needs:
    not just each step verified in isolation, but the assembled flow.
    Plan shape: the quality/canonical sides join on doc_id (one
    shuffle each), the contaminated set rides a broadcast anti-join
    (it is near-empty by construction), and splits are a pure
    projection — no operator in the chain re-reads the corpus."""
    from . import textual

    docs = load_documents(spark, sf_dir)
    quality_ok = textual.quality_filter(
        spark, sf_dir, min_quality=min_quality, min_tokens=min_tokens
    ).select("doc_id")
    canonical = dedup.exact_dup_groups(docs).select(
        F.col("keep_id").alias("doc_id")
    )
    contaminated = decontaminate_documents(
        spark, sf_dir, n=n, min_containment=min_containment
    ).select("doc_id").distinct()
    from .sampling import document_splits

    splits = document_splits(spark, sf_dir, train=train, valid=valid)
    return (
        splits.join(quality_ok, "doc_id", "left_semi")
        .join(canonical, "doc_id", "left_semi")
        .join(docs.filter(F.col("source") == "src0").select("doc_id"), "doc_id", "left_anti")
        .join(F.broadcast(contaminated), "doc_id", "left_anti")
        .select("doc_id", "split")
    )


def curated_pack(
    spark: SparkSession,
    sf_dir: str,
    chunk_size: int = 64,
    stride: int = 48,
    budget: int = 256,
) -> DataFrame:
    """Training bins over the CURATED corpus only: the bin layout of
    :func:`pack_chunks` restricted to :func:`curate_corpus` survivors.
    Bin assignment is computed within each document, so restricting
    documents commutes with packing — one semi-join AFTER the pack,
    no re-chunking. Measured A/B (round 5, sf0.1 isolated best-of-3):
    pushing the survivor semi-join below the chunker
    (``pack_chunks(doc_filter=...)``) ran 4.04 s vs 2.74 s for this
    post-join form — chunking the whole corpus is cheap (0.48 s)
    while the filter side carries the full curation chain, and the
    in-chunker join re-shuffles the stream the pack window then
    re-partitions. ``doc_filter`` stays available for callers whose
    filter set is a cheap precomputed id list.
    Output: (doc_id, bin_id, n_chunks, n_bin_tokens)."""
    survivors = curate_corpus(spark, sf_dir).select("doc_id")
    return pack_chunks(
        spark, sf_dir, chunk_size=chunk_size, stride=stride, budget=budget
    ).join(survivors, "doc_id", "left_semi")


# ------------------------------------------------- mixture resampling

#: default target mix (integer percents, must sum <= 100; sources not
#: listed are excluded). Integer weights keep the admission rule exact.
MIX_WEIGHTS: dict[str, int] = {"src0": 50, "src1": 25, "src2": 15, "src3": 10}


def mixture_resample(
    spark: SparkSession,
    sf_dir: str,
    weights: dict[str, int] | None = None,
) -> DataFrame:
    """Resample the corpus so each source's TOKEN share matches a
    target mix — the training-mixture control (distinct from
    ``source_token_budget``'s per-source cap: here shares are relative
    and the binding source sets the achievable total).

    Exact-arithmetic formulation (no float thresholds, so the DuckDB
    twin matches bit-for-bit and results are partitioning-invariant):

    * ``tok_s`` = whitespace tokens per source; ``w_s`` = integer
      percent weights.
    * feasible total ``N = min_s (100 * tok_s) div w_s`` — the largest
      token count whose mix the binding (argmin) source can satisfy.
    * doc admission: deterministic md5 draw (sampling.py contract),
      admit iff ``draw * 100 * tok_s < w_s * N * 16^6`` — the integer
      cross-multiplied form of ``draw/16^6 < (w_s*N)/(100*tok_s)``.
      All terms are int64; safe while ``tok_s`` < ~5e11 (past that,
      cast the products to decimal).

    Output (gate shape): per-source (source, n_docs, tokens_in,
    n_admitted, tokens_admitted) — the achieved token mix is
    ``tokens_admitted / sum`` ≈ ``w_s`` / 100, binding source exact up
    to hash-draw noise.
    """
    w = weights or MIX_WEIGHTS
    if sum(w.values()) > 100 or any(v < 1 for v in w.values()):
        raise ValueError("weights must be positive integer percents summing <= 100")
    w_df = F.broadcast(
        spark.createDataFrame(
            [(s, int(v)) for s, v in sorted(w.items())], "source string, w int"
        )
    )
    d = (
        load_documents(spark, sf_dir)
        .select("source", "doc_id", TXT.token_count("text").alias("n_tok"))
        .join(w_df, "source", "inner")
    )
    tok = d.groupBy("source", "w").agg(
        F.sum("n_tok").cast("bigint").alias("tok_s"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    n_feasible = tok.select(
        F.min(F.expr("(100 * tok_s) DIV w")).cast("bigint").alias("n_total")
    )
    draw_int = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10).cast(
        "bigint"
    )
    admitted = (
        d.join(F.broadcast(tok.select("source", "tok_s")), "source")
        .crossJoin(F.broadcast(n_feasible))
        .withColumn(
            "admit",
            (
                draw_int * F.lit(100) * F.col("tok_s")
                < F.col("w").cast("bigint") * F.col("n_total") * F.lit(16**6)
            ).cast("int"),
        )
    )
    return (
        admitted.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("tokens_in"),
            F.sum("admit").cast("bigint").alias("n_admitted"),
            F.sum(F.col("admit") * F.col("n_tok")).cast("bigint").alias("tokens_admitted"),
        )
        .orderBy("source")
    )


def hard_negatives(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    n_queries: int = 8,
    strategy: str = "CosineSimilarity",
) -> DataFrame:
    """Hard-negative mining for contrastive embedding training: for
    each anchor vector, the top-k most similar corpus vectors with a
    DIFFERENT label — the negatives that actually teach the margin
    (random negatives are trivially far; same-label near rows are
    positives, excluded here).

    Same economics as ``search.knn_join``: the anchor batch is
    broadcast, scoring is map-side codegen over the corpus scan, the
    label-mismatch predicate filters BEFORE the ranked window, so only
    cross-label (query_id, id, score) triples shuffle. At larger
    anchor batches, route through the blocked/IVF join variants first
    and post-filter labels on the k'-deep shortlist (k' > k to survive
    the filter). Output: (query_id, id, score, rank)."""
    from pyspark.sql import Window

    from ..functions.distance import score_expr
    from .search import _order_cols

    e = load_embeddings(spark, sf_dir)
    anchors = e.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )
    corpus = e.select(
        F.col("vec_id").alias("id"), "embedding", F.col("label").alias("label")
    )
    scored = (
        corpus.crossJoin(F.broadcast(anchors))
        .filter(F.col("label") != F.col("query_label"))
        .withColumn(
            "score",
            F.round(
                score_expr(strategy, "embedding", "query_vec"), ROUND
            )
            + F.lit(0.0),
        )
    )
    w = Window.partitionBy("query_id").orderBy(*_order_cols(strategy))
    return (
        scored.select("query_id", "id", "score")
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def attach_updates(
    df: DataFrame, frac: float = 0.2, marker: str = " [rev2]"
) -> DataFrame:
    """Deterministic synthetic CDC batch: docs whose md5 draw falls
    below ``frac`` get a revised text (``marker`` appended) at
    version 2. Returns (doc_id, text, version) — the update side of
    :func:`cdc_merge_snapshot`. Pure per-row map (derives from the
    corpus the same way attach_pii does, so the gate needs no extra
    input table)."""
    from .sampling import _draw, _threshold_hex

    return (
        df.filter(_draw(F.col("doc_id")) < F.lit(_threshold_hex(frac)))
        .select(
            "doc_id",
            F.concat(F.col("text"), F.lit(marker)).alias("text"),
            F.lit(2).alias("version"),
        )
    )


def cdc_merge_snapshot(
    spark: SparkSession, sf_dir: str, frac: float = 0.2
) -> DataFrame:
    """MERGE/SCD-1 upsert in batch: the base corpus (version 1) merged
    with an update batch (version 2 revisions of ~frac of the docs);
    the snapshot keeps the highest version per key — the warehouse
    MERGE primitive a continuously-refreshed corpus needs (the index
    upsert operators are the vector-side twin of this).

    Scale shape: union + one window (or max-version semi-join) keyed
    on doc_id — a single shuffle of (id, version, text-digest); the
    update batch is delta-sized. Output (doc_id, version, text_md5)
    — the digest proves which revision survived without hauling full
    text through the gate."""
    base = load_documents(spark, sf_dir).select(
        "doc_id", "text", F.lit(1).alias("version")
    )
    updates = attach_updates(load_documents(spark, sf_dir), frac=frac)
    merged = base.unionByName(updates)
    w = Window.partitionBy("doc_id").orderBy(F.col("version").desc())
    return (
        merged.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("version").cast("bigint").alias("version"),
            F.md5("text").alias("text_md5"),
        )
    )


def _salted_draw(salt: str, key: Column) -> Column:
    """6-hex md5 draw with a namespace salt — independent uniform
    draws per salt from the same key (cross-engine exact, same
    contract as sampling._draw)."""
    return F.substring(
        F.md5(F.concat(F.lit(salt + "|"), key.cast("string"))), 1, 6
    )


def snapshot_versions(
    df: DataFrame,
    add_frac: float = 0.10,
    rem_frac: float = 0.05,
    chg_frac: float = 0.20,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic synthetic snapshot pair derived from one corpus
    (the gate needs no extra input table, same convention as
    attach_updates): the OLD snapshot lacks the ~add_frac docs that
    arrive later; the NEW snapshot lacks the ~rem_frac docs deleted
    in between and carries revised text for ~chg_frac docs.
    Independent salted draws, so the three events compose freely."""
    old = df.filter(
        _salted_draw("add", F.col("doc_id")) >= F.lit(_threshold_hex(add_frac))
    ).select("doc_id", "source", "text")
    new = df.filter(
        _salted_draw("rem", F.col("doc_id")) >= F.lit(_threshold_hex(rem_frac))
    ).select(
        "doc_id",
        "source",
        F.when(
            _salted_draw("chg", F.col("doc_id")) < F.lit(_threshold_hex(chg_frac)),
            F.concat(F.col("text"), F.lit(" [rev2]")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return old, new


def snapshot_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Corpus snapshot diff — the audit a versioned 100 TB dataset
    publishes between releases: which documents were added, removed,
    or changed, and what each did to the token mass.

    Scale shape: each side collapses to a narrow (doc_id, source,
    text_md5, n_tokens) projection in its own scan — full text never
    crosses the shuffle — then ONE full-outer hash join on doc_id
    classifies every key; unchanged docs (digest equal) drop out.
    Output (doc_id, source, change, token_delta), change in
    {added, removed, changed}."""
    o = old.select(
        F.col("doc_id").alias("o_id"),
        F.col("source").alias("o_source"),
        F.md5("text").alias("o_h"),
        TXT.token_count("text").cast("bigint").alias("o_n"),
    )
    n = new.select(
        F.col("doc_id").alias("n_id"),
        F.col("source").alias("n_source"),
        F.md5("text").alias("n_h"),
        TXT.token_count("text").cast("bigint").alias("n_n"),
    )
    j = o.join(n, F.col("o_id") == F.col("n_id"), "full_outer")
    change = (
        F.when(F.col("o_id").isNull(), F.lit("added"))
        .when(F.col("n_id").isNull(), F.lit("removed"))
        .when(F.col("o_h") != F.col("n_h"), F.lit("changed"))
    )
    return (
        j.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(
            F.coalesce("o_id", "n_id").alias("doc_id"),
            F.coalesce("n_source", "o_source").alias("source"),
            "change",
            (F.coalesce("n_n", F.lit(0)) - F.coalesce("o_n", F.lit(0))).alias(
                "token_delta"
            ),
        )
    )


def snapshot_diff_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate wrapper: diff the deterministic synthetic snapshot pair."""
    old, new = snapshot_versions(load_documents(spark, sf_dir))
    return snapshot_diff(old, new)


def snapshot_diff_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release-notes rollup of :func:`snapshot_diff`: per (source,
    change) document counts and net token delta — the compact view a
    dataset card links between versions."""
    return (
        snapshot_diff_documents(spark, sf_dir)
        .groupBy("source", "change")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("token_delta").cast("bigint").alias("token_delta"),
        )
    )


def dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset-card summary row a pipeline publishes with a
    training corpus: size, token mass, language/source breadth, exact
    duplicate rate, and mean quality — one aggregated row, assembled
    from two corpus passes (a narrow stats aggregation and the
    content-hash distinct count) plus scalar broadcasts.

    Means are exact integer/decimal sums divided once; the dup rate is
    1 − distinct_hashes/docs, rounded 6. Output (n_docs, n_tokens,
    n_langs, n_sources, dup_rate, mean_quality)."""
    d = load_documents(spark, sf_dir)
    base = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(TXT.token_count("text")).cast("bigint").alias("n_tokens"),
        F.count_distinct("lang").alias("n_langs"),
        F.count_distinct("source").alias("n_sources"),
        F.sum(
            (F.round(TXT.quality_score("text"), 6) + F.lit(0.0)).cast("decimal(18,6)")
        ).alias("q_sum"),
    )
    hashes = d.select(TXT.content_fingerprint("text").alias("h")).agg(
        F.count_distinct("h").alias("n_distinct")
    )
    return base.crossJoin(F.broadcast(hashes)).select(
        "n_docs",
        "n_tokens",
        "n_langs",
        "n_sources",
        (
            F.round(
                F.lit(1.0)
                - F.col("n_distinct").cast("double") / F.col("n_docs").cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("dup_rate"),
        (
            F.round(F.col("q_sum").cast("double") / F.col("n_docs").cast("double"), 6)
            + F.lit(0.0)
        ).alias("mean_quality"),
    )


def contrastive_pairs(
    spark: SparkSession, sf_dir: str, shift: int = 7919
) -> DataFrame:
    """Self-supervised training-pair construction over the chunk grid:
    anchor = chunk i, positive = chunk i+1 of the SAME document
    (adjacent text is the standard weak positive), negative = the
    chunk ``shift`` positions away in the global (doc_id, chunk_id)
    ordering — a fixed prime-shift derangement, so negatives are
    deterministic, uniformly spread, and (for shift > max chunks/doc)
    virtually never same-document; the rare same-doc collision is
    kept and flagged rather than resampled (resampling would need
    data-dependent iteration).

    One chunking pass + one global row_number + one self-join on the
    shifted rank — the join moves (rank, ids) triples, not text.
    Output (doc_id, chunk_id, pos_chunk_id, neg_doc_id, neg_chunk_id,
    neg_same_doc)."""
    from .textual import chunk_documents

    c = chunk_documents(spark, sf_dir).select("doc_id", "chunk_id")
    w = Window.orderBy("doc_id", "chunk_id")
    ranked = c.withColumn("rn", F.row_number().over(w)).localCheckpoint(eager=True)
    total = ranked.count()
    anchors = (
        ranked.alias("a")
        .join(
            ranked.select(
                F.col("doc_id").alias("p_doc"), F.col("chunk_id").alias("p_chunk")
            ).alias("p"),
            (F.col("a.doc_id") == F.col("p_doc"))
            & (F.col("a.chunk_id") + 1 == F.col("p_chunk")),
        )
        .select("a.doc_id", "a.chunk_id", F.col("p_chunk").alias("pos_chunk_id"), "a.rn")
    )
    shifted = F.pmod(F.col("rn") - 1 + F.lit(shift), F.lit(total)) + 1
    negs = ranked.select(
        F.col("rn").alias("neg_rn"),
        F.col("doc_id").alias("neg_doc_id"),
        F.col("chunk_id").alias("neg_chunk_id"),
    )
    return (
        anchors.withColumn("neg_rn", shifted)
        .join(negs, "neg_rn")
        .select(
            "doc_id",
            "chunk_id",
            "pos_chunk_id",
            "neg_doc_id",
            "neg_chunk_id",
            (F.col("neg_doc_id") == F.col("doc_id")).alias("neg_same_doc"),
        )
    )


def export_curated(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> DataFrame:
    """The sink side of the pipeline: write the corpus as the
    training-ready layout — parquet partitioned by (split, source) —
    and return the manifest read BACK from the written files
    (round-trip proof, not a promise): per partition, doc and token
    counts. Readers prune by split/source directory, so a trainer
    touching train/src0 reads exactly those files.

    The write shuffles once on the partition keys (repartition before
    partitionBy, so each partition directory gets one file per
    shuffle partition rather than one per input task). Output (split,
    source, n_docs, n_tokens) from the round-trip read."""
    import os
    import tempfile
    import uuid

    from .sampling import split_assign

    out = out_dir or os.path.join(
        tempfile.gettempdir(), f"svs_export_{uuid.uuid4().hex[:8]}"
    )
    d = load_documents(spark, sf_dir).withColumn(
        "split", split_assign(F.col("doc_id"))
    )
    (
        d.repartition("split", "source")
        .write.mode("overwrite")
        .partitionBy("split", "source")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return (
        back.groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(TXT.token_count("text")).cast("bigint").alias("n_tokens"),
        )
    )


def decontamination_sweep(
    spark: SparkSession,
    sf_dir: str,
    configs: tuple = ((5, 0.3), (8, 0.1), (8, 0.3), (13, 0.1)),
) -> DataFrame:
    """Fence-calibration report for the shingle decontamination probe:
    one row per (n-gram order, containment threshold) configuration —
    flagged pair count and flagged distinct-doc count. This is how the
    fence gets CHOSEN in practice (GPT-3 used 13-grams, the Pile
    13-grams, Llama-era reports 8–10: shorter n over-flags on common
    phrases, longer n misses paraphrased leakage); the sweep makes the
    sensitivity visible on the corpus's own data instead of borrowing
    another corpus's constant. Default grid: the repo's probe default
    (8, 0.3), the GPT-3 appendix-C config (13, 0.1), plus the
    aggressive-short and loose-default corners.

    Cost shape: ONE shingle pass per distinct n-gram ORDER (different
    n ⇒ different shingle sets — nothing to share between orders),
    run at the group's loosest threshold; the tighter thresholds of
    the same order are conditional aggregates over that pass's
    rounded ``containment`` column — the identical rounded value the
    direct run filters on, so each row equals its standalone run
    (pinned in pytest). The grid is a constant literal.

    Output: (n, min_containment, n_flagged_pairs, n_flagged_docs),
    ordered by (n, min_containment).
    """
    by_n: dict[int, list[float]] = {}
    for ng, thr in configs:
        by_n.setdefault(int(ng), []).append(float(thr))
    parts = []
    for ng, thrs in by_n.items():
        flagged = decontaminate_documents(
            spark, sf_dir, n=ng, min_containment=min(thrs)
        )
        parts.append(
            flagged.agg(
                *[
                    agg
                    for j, thr in enumerate(sorted(thrs))
                    for agg in (
                        F.count(
                            F.when(F.col("containment") >= thr, 1)
                        ).cast("bigint").alias(f"p_{j}"),
                        F.count_distinct(
                            F.when(
                                F.col("containment") >= thr,
                                F.col("doc_id"),
                            )
                        ).cast("bigint").alias(f"d_{j}"),
                    )
                ]
            ).select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(ng).alias("n"),
                                (F.lit(thr) + F.lit(0.0)).alias(
                                    "min_containment"
                                ),
                                F.col(f"p_{j}").alias("n_flagged_pairs"),
                                F.col(f"d_{j}").alias("n_flagged_docs"),
                            )
                            for j, thr in enumerate(sorted(thrs))
                        ]
                    )
                ).alias("r")
            ).select("r.*")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("n", "min_containment")


def _funnel_from_flags(flags: DataFrame, stages, names) -> DataFrame:
    """Shared tail of the ablation funnels: ONE conditional-sum
    aggregate over the per-doc flag table (requires an ``n_tok``
    column), then the per-stage rows explode from the single
    aggregate row with ROUND(6) retentions against stage 0."""
    one = flags.agg(
        *[
            F.sum(F.when(si, 1).otherwise(0)).cast("bigint").alias(f"d{i}")
            for i, si in enumerate(stages)
        ],
        *[
            F.sum(F.when(si, F.col("n_tok")).otherwise(0))
            .cast("bigint")
            .alias(f"t{i}")
            for i, si in enumerate(stages)
        ],
    )
    rows = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("int").alias("stage_idx"),
                        F.lit(nm).alias("stage"),
                        F.col(f"d{i}").alias("n_docs"),
                        F.col(f"t{i}").alias("n_tokens"),
                    )
                    for i, nm in enumerate(names)
                ]
            )
        ).alias("r"),
        F.col("d0"),
        F.col("t0"),
    )
    return rows.select(
        F.col("r.stage_idx").alias("stage_idx"),
        F.col("r.stage").alias("stage"),
        F.col("r.n_docs").alias("n_docs"),
        F.col("r.n_tokens").alias("n_tokens"),
        (
            F.round(
                F.col("r.n_docs").cast("double") / F.col("d0").cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("doc_retention"),
        (
            F.round(
                F.col("r.n_tokens").cast("double") / F.col("t0").cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("token_retention"),
    ).orderBy("stage_idx")


def curation_funnel(
    spark: SparkSession,
    sf_dir: str,
    min_quality: float = 0.8,
    min_tokens: int = 16,
    n: int = 8,
    min_containment: float = 0.3,
) -> DataFrame:
    """The curation ABLATION FUNNEL: per cumulative stage of the
    :func:`curate_corpus` chain, how many documents and whitespace
    tokens survive — the retention table every dedup/curation paper
    publishes (e.g. Lee et al. 2022 table 1; Penedo et al. FineWeb's
    per-step removal rates) and the first artifact a pipeline owner
    checks before training: which gate is eating the corpus.

    Stages are cumulative and end exactly at ``curate_corpus``'s
    admitted set: raw → non_benchmark (drop the src0 eval slice) →
    quality (the generic gate) → exact_dedup (canonical copies only)
    → decontaminated (shingle-containment fence).

    Plan shape: the per-doc flag table is built once from the audited
    stage operators (doc_id-keyed joins, contaminated broadcast), then
    ONE aggregation computes every stage's doc and token mass as
    conditional sums — the funnel costs one pass over the flags, not
    one filtered scan per stage — and the 5-row output explodes from
    that single aggregate row (fractions computed against the raw
    stage in the same row; nothing corpus-sized reaches the driver).

    Output: (stage_idx, stage, n_docs, n_tokens, doc_retention,
    token_retention), ordered by stage_idx.
    """
    docs = load_documents(spark, sf_dir).select(
        "doc_id",
        (F.col("source") == "src0").alias("bench"),
        TXT.token_count("text").alias("n_tok"),
    )
    from .textual import quality_filter

    q = quality_filter(
        spark, sf_dir, min_quality=min_quality, min_tokens=min_tokens
    ).select("doc_id", F.lit(True).alias("q_ok"))
    canon = dedup.exact_dup_groups(
        load_documents(spark, sf_dir)
    ).select(F.col("keep_id").alias("doc_id"), F.lit(True).alias("canon"))
    cont = (
        decontaminate_documents(
            spark, sf_dir, n=n, min_containment=min_containment
        )
        .select("doc_id")
        .distinct()
        .select("doc_id", F.lit(True).alias("cont"))
    )
    flags = (
        docs.join(q, "doc_id", "left")
        .join(canon, "doc_id", "left")
        .join(F.broadcast(cont), "doc_id", "left")
    )
    s = [
        F.lit(True),
        ~F.col("bench"),
        ~F.col("bench") & F.coalesce("q_ok", F.lit(False)),
        ~F.col("bench")
        & F.coalesce("q_ok", F.lit(False))
        & F.coalesce("canon", F.lit(False)),
        ~F.col("bench")
        & F.coalesce("q_ok", F.lit(False))
        & F.coalesce("canon", F.lit(False))
        & ~F.coalesce("cont", F.lit(False)),
    ]
    names = ["raw", "non_benchmark", "quality", "exact_dedup",
             "decontaminated"]
    return _funnel_from_flags(flags, s, names)


def production_funnel(
    spark: SparkSession,
    sf_dir: str,
    n: int = 8,
    min_containment: float = 0.3,
) -> DataFrame:
    """:func:`curation_funnel`'s sibling for the PRODUCTION config
    (``pipeline.curate_corpus_production``'s enforced gates): per
    cumulative stage — raw → non_benchmark → c4 (line rules) →
    perplexity (KN5 tiles) → exact_dedup → decontaminated — surviving
    doc/token mass and retention. The production recipe splits the
    quality cut into its two named filters, so this funnel shows WHICH
    of them eats the corpus (the number FineWeb's ablation tables
    report per step).

    The per-doc flags come FROM ``curate_corpus_production``'s own
    output columns (not a re-derivation), so the funnel tracks the
    production recipe BY CONSTRUCTION — if the enforced gates change,
    the funnel changes with them; the final stage equals its admitted
    set (pinned in pytest). Same one-pass shape as the generic
    funnel: one conditional-sum aggregate, 6 rows exploded from the
    single aggregate row.

    Output: (stage_idx, stage, n_docs, n_tokens, doc_retention,
    token_retention), ordered by stage_idx.
    """
    from .pipeline import curate_corpus_production

    prod = curate_corpus_production(
        spark, sf_dir, n=n, min_containment=min_containment
    ).select("doc_id", "c4_keep", "ppl_keep", "canonical", "contaminated")
    docs = load_documents(spark, sf_dir).select(
        "doc_id",
        (F.col("source") == "src0").alias("bench"),
        TXT.token_count("text").alias("n_tok"),
    )
    flags = docs.join(prod, "doc_id")
    nb = ~F.col("bench")
    s_c4 = nb & F.col("c4_keep")
    s_ppl = s_c4 & F.col("ppl_keep")
    s_dedup = s_ppl & F.col("canonical")
    s_dec = s_dedup & ~F.col("contaminated")
    s = [F.lit(True), nb, s_c4, s_ppl, s_dedup, s_dec]
    names = ["raw", "non_benchmark", "c4", "perplexity", "exact_dedup",
             "decontaminated"]
    return _funnel_from_flags(flags, s, names)


def quality_vs_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signal-calibration diagnostic: does the quality score actually
    anticorrelate with duplication? Docs bucket by floor(quality·10)
    (fixed-width — no global sort, unlike ntile) and each bucket
    reports its exact-duplicate share (docs whose content hash appears
    more than once in the corpus). Output (q_bucket, n_docs, n_dups,
    dup_rate)."""
    d = load_documents(spark, sf_dir).select("doc_id", "text")
    per_doc = d.select(
        "doc_id",
        F.least(
            F.floor((F.round(TXT.quality_score("text"), 6) + F.lit(0.0)) * 10).cast("int"),
            F.lit(9),
        ).alias("q_bucket"),
        TXT.content_fingerprint("text").alias("h"),
    )
    counts = per_doc.groupBy("h").agg(F.count(F.lit(1)).alias("n_copies"))
    return (
        per_doc.join(counts, "h")
        .groupBy("q_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("n_copies") > 1).cast("bigint")).alias("n_dups"),
        )
        .select(
            "q_bucket",
            "n_docs",
            "n_dups",
            (
                F.round(F.col("n_dups").cast("double") / F.col("n_docs").cast("double"), 6)
                + F.lit(0.0)
            ).alias("dup_rate"),
        )
    )


def leakage_safe_splits(
    spark: SparkSession, sf_dir: str,
    n: int = 3, threshold: float = 0.8,
    train: float = 0.8, valid: float = 0.1,
) -> DataFrame:
    """Leakage-safe train/valid/test assignment: the split is a hash
    of the near-dup COMPONENT id, not the document id, so two
    near-duplicate documents can never land on opposite sides of the
    train/test fence (the classic eval-contamination failure that
    per-doc hash splits — ``document_splits`` — cannot prevent).

    Components come from the same n-gram-Jaccard graph the dedup
    pipeline resolves; singleton docs (no near-dup edge) are their own
    component. One banded pair join + the label-propagation fixpoint +
    one broadcast-sized left join back to the corpus — the component
    table is ``O(duplicated docs)``, far smaller than the corpus, so
    the join back is a broadcast at any scale where dedup itself is
    feasible. Output (doc_id, component_id, split).
    """
    from .sampling import split_assign

    docs = load_documents(spark, sf_dir).select("doc_id")
    comp = dedup_components(spark, sf_dir, n=n, threshold=threshold).select(
        F.col("doc_id").alias("c_doc_id"), "component_id"
    )
    return (
        docs.join(comp, docs["doc_id"] == F.col("c_doc_id"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component_id"), F.col("doc_id")).alias("component_id"),
        )
        .withColumn("split", split_assign(F.col("component_id"), train, valid))
    )


def semantic_dedup(
    spark: SparkSession, sf_dir: str, threshold: float = 0.4
) -> DataFrame:
    """SemDeDup-style semantic deduplication over the embedding space:
    vectors whose cosine similarity clears ``threshold`` form a
    near-dup graph; each connected component keeps exactly one
    representative (min id — the same deterministic election every
    dedup path here uses) and marks the rest as semantic duplicates.

    This is dedup by MEANING (paraphrases, re-encodings, translations
    that embed together) — the layer surface-form dedup (exact md5,
    n-gram Jaccard, MinHash) cannot see. Composition: cosine pair
    graph (exact here — the oracle baseline; swap in
    ``neardup_cosine_blocked``'s IVF-bucketed pairs at corpus scale) →
    label-propagation components → one broadcast-sized join back.

    Output: (vec_id, keep_id, keep) for every vector; singletons keep
    themselves.
    """
    embs = load_embeddings(spark, sf_dir)
    pairs = dedup.neardup_cosine_pairs(embs, threshold=threshold)
    comp = connected_components(pairs).select(
        F.col("doc_id").alias("c_vec_id"), "component_id"
    )
    return (
        embs.select("vec_id")
        .join(comp, F.col("vec_id") == F.col("c_vec_id"), "left")
        .select(
            "vec_id",
            F.coalesce(F.col("component_id"), F.col("vec_id")).alias("keep_id"),
        )
        .withColumn("keep", (F.col("vec_id") == F.col("keep_id")).cast("boolean"))
    )


def semantic_dedup_blocked(
    spark: SparkSession, sf_dir: str,
    centroids=None,
    threshold: float = 0.4,
    probes: int = 2,
    n_clusters: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Scale path of :func:`semantic_dedup`: the pair graph comes from
    IVF-multi-probe blocking (``dedup.neardup_cosine_multiprobe`` —
    each vector probes its ``probes`` nearest centroids; candidates
    share a probed cluster and are verified with the exact cosine)
    instead of the exact all-pairs baseline. Same components, same
    deterministic min-id election, same output schema.

    This is the form that survives 100x: candidate generation is a
    skinny (cluster, id) exchange of rows x probes, the quadratic work
    is confined within clusters, and the election joins are component-
    sized. Recall vs the exact form is pinned in
    ``tests/test_curation.py``; at the gate's corpus/centroid shape
    the two elections are identical, so this entry shares
    ``semantic_dedup``'s exact oracle.

    ``centroids`` (k x dim) normally come from the persisted IVF index
    so search and dedup share one clustering; when None, a
    deterministic KMeans fit over the embeddings supplies them.
    """
    embs = load_embeddings(spark, sf_dir)
    if centroids is None:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        feats = embs.select(
            array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
        )
        model = KMeans(k=n_clusters, seed=seed, featuresCol="features").fit(feats)
        centroids = [c.tolist() for c in model.clusterCenters()]
    pairs = dedup.neardup_cosine_multiprobe(
        embs, centroids, threshold=threshold, probes=probes
    )
    comp = connected_components(pairs).select(
        F.col("doc_id").alias("c_vec_id"), "component_id"
    )
    return (
        embs.select("vec_id")
        .join(comp, F.col("vec_id") == F.col("c_vec_id"), "left")
        .select(
            "vec_id",
            F.coalesce(F.col("component_id"), F.col("vec_id")).alias("keep_id"),
        )
        .withColumn("keep", (F.col("vec_id") == F.col("keep_id")).cast("boolean"))
    )


def split_leakage_audit(
    spark: SparkSession, sf_dir: str,
    n: int = 3, threshold: float = 0.8,
    train: float = 0.8, valid: float = 0.1,
) -> DataFrame:
    """Quantified eval-contamination audit: for each split-assignment
    policy (plain per-doc hash vs component-keyed leakage-safe), how
    many near-dup pairs straddle a split fence. The component policy
    is zero BY CONSTRUCTION — this op measures the risk the per-doc
    policy actually carries on this corpus, which is the number that
    justifies paying for components before splitting.

    One pair table + two broadcast-sized assignment joins per policy.
    Output: (policy, n_pairs, n_cross_split), one row per policy.
    """
    from .dedup import ngram_jaccard_pairs
    from .sampling import split_assign

    docs = load_documents(spark, sf_dir)
    # ONE materialization of the (expensive) pair graph feeds the
    # component resolution AND both audit joins — without the barrier
    # the inverted-index self-join would re-run three times
    pairs = (
        ngram_jaccard_pairs(docs, n=n, threshold=threshold)
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )

    def audit(assign_df: DataFrame, policy: str) -> DataFrame:
        a = assign_df.select(
            F.col("doc_id").alias("id_a"), F.col("split").alias("split_a")
        )
        b = assign_df.select(
            F.col("doc_id").alias("id_b"), F.col("split").alias("split_b")
        )
        return (
            pairs.join(a, "id_a")
            .join(b, "id_b")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
                F.sum(
                    (F.col("split_a") != F.col("split_b")).cast("int")
                ).cast("bigint").alias("n_cross_split"),
            )
            .select(F.lit(policy).alias("policy"), "n_pairs", "n_cross_split")
        )

    per_doc = docs.select(
        "doc_id", split_assign(F.col("doc_id"), train, valid).alias("split")
    )
    comp = connected_components(pairs).select(
        F.col("doc_id").alias("c_doc_id"), "component_id"
    )
    safe = (
        docs.select("doc_id")
        .join(comp, F.col("doc_id") == F.col("c_doc_id"), "left")
        .select(
            "doc_id",
            split_assign(
                F.coalesce(F.col("component_id"), F.col("doc_id")), train, valid
            ).alias("split"),
        )
    )
    return audit(per_doc, "per_doc_hash").unionByName(
        audit(safe, "component_keyed")
    )


def semantic_decontaminate(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.4,
) -> DataFrame:
    """Embedding-level contamination probe: training vectors whose
    cosine similarity to ANY benchmark vector clears ``threshold`` —
    the paraphrase/translation leak that n-gram shingle containment
    (:func:`decontaminate`) is blind to (re-worded benchmark items
    embed together but share no 8-gram). Run BOTH: the shingle probe
    catches verbatim inclusion with provenance, this one catches
    meaning-level leakage.

    Benchmark convention matches the shingle probe (source 'src0');
    vectors attach by the observed doc_id == vec_id identity (the
    ``source_embedding_drift`` bridge). Composition is one broadcast
    join: the benchmark side is eval-set-sized by construction, norms
    are computed once per ROW before the pair join (the
    ``neardup_cosine_pairs`` contract — n folds, not n²), and the
    training side streams through without a shuffle. At corpus scale
    swap the broadcast for the IVF-routed candidate exchange
    (``neardup_cosine_blocked``'s pattern) — admission only, the
    threshold test stays exact.

    Output: (doc_id, bench_id, cos_sim) for every flagged pair,
    ordered (doc_id, bench_id).
    """
    from ..functions.distance import dot, l2_norm

    docs = load_documents(spark, sf_dir).select("doc_id", "source")
    embs = load_embeddings(spark, sf_dir).select("vec_id", "embedding")
    joined = embs.join(
        docs, embs["vec_id"] == docs["doc_id"], "inner"
    ).select("vec_id", "source", "embedding")
    bench = joined.filter(F.col("source") == "src0").select(
        F.col("vec_id").alias("bench_id"),
        F.col("embedding").alias("vb"),
        l2_norm("embedding").alias("nb"),
    )
    train = joined.filter(F.col("source") != "src0").select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").alias("va"),
        l2_norm("embedding").alias("na"),
    )
    denom = F.col("na") * F.col("nb")
    sim = F.when(denom == 0.0, F.lit(None).cast("double")).otherwise(
        dot("va", "vb") / denom
    )
    sim = F.round(sim, ROUND) + F.lit(0.0)
    return (
        train.join(F.broadcast(bench))
        .withColumn("cos_sim", sim)
        .filter(F.col("cos_sim") >= threshold)
        .select("doc_id", "bench_id", "cos_sim")
        .orderBy("doc_id", "bench_id")
    )


def curation_reasons(
    spark: SparkSession,
    sf_dir: str,
    min_quality: float = 0.8,
    min_tokens: int = 16,
    n: int = 8,
    min_containment: float = 0.3,
    train: float = 0.8,
    valid: float = 0.1,
) -> DataFrame:
    """Per-document curation PROVENANCE: every gate's verdict as a
    flag, plus the final admission and split — the "why was this
    document dropped" audit a pipeline owner needs when a corpus
    shrinks unexpectedly. :func:`curate_corpus` answers WHO survives;
    this answers WHY, for every input row, admitted or not.

    Same stage operators, same one-pass plan shape: the flag columns
    are left-semi evidence turned into ints via left joins (each gate
    table joins once on doc_id), so the report costs the same keyed
    joins the filter chain already pays — no extra corpus scans.

    Output: (doc_id, quality_ok, is_canonical, is_benchmark,
    contaminated, admitted, split) — split only for admitted rows
    (NULL otherwise), doc_id ASC.
    """
    from . import textual
    from .sampling import document_splits

    docs = load_documents(spark, sf_dir)
    quality_ok = textual.quality_filter(
        spark, sf_dir, min_quality=min_quality, min_tokens=min_tokens
    ).select("doc_id", F.lit(1).alias("q_ok"))
    canonical = dedup.exact_dup_groups(docs).select(
        F.col("keep_id").alias("doc_id"), F.lit(1).alias("canon")
    )
    contaminated = (
        decontaminate_documents(
            spark, sf_dir, n=n, min_containment=min_containment
        )
        .select("doc_id")
        .distinct()
        .withColumn("contam", F.lit(1))
    )
    splits = document_splits(spark, sf_dir, train=train, valid=valid)
    base = (
        docs.select(
            "doc_id", (F.col("source") == "src0").cast("int").alias("is_benchmark")
        )
        .join(quality_ok, "doc_id", "left")
        .join(canonical, "doc_id", "left")
        .join(F.broadcast(contaminated), "doc_id", "left")
        .join(splits, "doc_id", "left")
    )
    q = F.coalesce(F.col("q_ok"), F.lit(0))
    c = F.coalesce(F.col("canon"), F.lit(0))
    x = F.coalesce(F.col("contam"), F.lit(0))
    admitted = (
        (q == 1)
        & (c == 1)
        & (F.col("is_benchmark") == 0)
        & (x == 0)
    ).cast("int")
    return base.select(
        "doc_id",
        q.alias("quality_ok"),
        c.alias("is_canonical"),
        "is_benchmark",
        x.alias("contaminated"),
        admitted.alias("admitted"),
        F.when(admitted == 1, F.col("split")).alias("split"),
    ).orderBy("doc_id")


def dedup_cluster_sizes(
    spark: SparkSession, sf_dir: str, n: int = 3, threshold: float = 0.8
) -> DataFrame:
    """Near-dup cluster-size histogram: how big the duplicate groups
    are (size 2 = simple pairs; a heavy tail means template families
    — the diagnostic that decides whether keep-first dedup suffices
    or template mining is needed). Output (cluster_size, n_clusters,
    n_docs), ordered by size.

    Scale shape: rides :func:`dedup_components` (keyed joins only),
    then two tiny keyed counts — component count is bounded by the
    duplicate population, the histogram by its distinct sizes."""
    comp = dedup_components(spark, sf_dir, n=n, threshold=threshold)
    sizes = comp.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            (F.count(F.lit(1)) * F.col("cluster_size")).cast("bigint").alias(
                "n_docs"
            ),
        )
        .orderBy("cluster_size")
    )


def packing_efficiency(
    spark: SparkSession,
    sf_dir: str,
    budgets: tuple[int, ...] = (128, 256, 512),
    chunk_size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Padding-waste report across context budgets — the number a
    trainer reads before fixing the sequence length: per budget, how
    many bins the packed corpus yields, what fraction of each bin is
    real tokens vs padding, and how much a bin overshoots (the
    bounded-by-one-chunk truncation the :func:`pack_chunks` contract
    allows).

    One chunk pass per budget over the same chunk stream (the bin
    window depends on the budget, so the window re-runs; the chunker's
    tokenize is the shared cost and rides the scan cache). Output:
    (budget, n_bins, total_tokens, pad_tokens, overflow_tokens,
    fill_ratio) where ``pad`` counts only under-budget bins and
    ``fill_ratio = total/(n_bins·budget)`` rounded to 6.
    """
    per_budget = []
    for budget in budgets:
        bins = pack_chunks(
            spark, sf_dir, chunk_size=chunk_size, stride=stride, budget=budget
        )
        per_budget.append(
            bins.agg(
                F.lit(budget).cast("bigint").alias("budget"),
                F.count(F.lit(1)).cast("bigint").alias("n_bins"),
                F.sum("n_bin_tokens").cast("bigint").alias("total_tokens"),
                F.sum(
                    F.greatest(F.lit(budget) - F.col("n_bin_tokens"), F.lit(0))
                )
                .cast("bigint")
                .alias("pad_tokens"),
                F.sum(
                    F.greatest(F.col("n_bin_tokens") - F.lit(budget), F.lit(0))
                )
                .cast("bigint")
                .alias("overflow_tokens"),
                (
                    F.round(
                        F.sum("n_bin_tokens").cast("double")
                        / (F.count(F.lit(1)) * F.lit(budget)).cast("double"),
                        6,
                    )
                    + F.lit(0.0)
                ).alias("fill_ratio"),
            )
        )
    rep = per_budget[0]
    for p in per_budget[1:]:
        rep = rep.unionByName(p)
    return rep
