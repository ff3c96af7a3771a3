"""Seeded input generation.

Every input a workload uses is a pure function of ``(workload, seed)``:
the serving corpus (a Gaussian mixture shared by all workloads), its
``documents`` rows, the query pools, the writer's batches and the small
relational/text tables the batch suite runs on.  :func:`fingerprint`
hashes all of them so that two runs can show they used the same inputs.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Reserved for verifying a later performance claim; never used while
#: tuning the benchmark or writing a change.
HELD_OUT_SEED = 9973

_WORKLOAD_CODES = {"serve_ivf": 1, "ingest_serve": 2, "batch_analytics": 3}
#: upsert batches the workload's writer may commit
_WRITER_BATCHES = {"serve_ivf": 0, "ingest_serve": None, "batch_analytics": 1}

VENDORS = tuple(f"v{i}" for i in range(8))
WORDS = (
    "join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window a spark "
    "part group big sort query fast the"
).split()


@dataclass(frozen=True)
class Sizes:
    n_corpus: int = 20_000
    dim: int = 64
    n_components: int = 256
    n_clusters: int = 64
    fit_sample_rows: int = 2048
    pool_size: int = 1000
    #: Zipf exponent of query popularity over the pool. Breslau et al.,
    #: "Web Caching and Zipf-like Distributions: Evidence and
    #: Implications" (INFOCOM 1999), measured 0.64-0.83 on six web proxy
    #: traces; 0.8 sits in that range. The run prints the share of
    #: requests that repeat an earlier one, which is what a cache hits.
    zipf_s: float = 0.8
    #: Gaussian noise added to a corpus vector to make a query: about the
    #: spread of a mixture component (0.35), so a query is a new point of
    #: the corpus's distribution, not a copy of a corpus row.
    query_noise: float = 0.3
    n_unique_queries: int = 4000
    upsert_rows: int = 2000
    n_upsert_batches: int = 12
    delete_rows: int = 500
    batch_queries: int = 256
    #: more batches than the warm-up and the window send, so none repeats
    n_query_batches: int = 16
    # batch-suite tables (testdata-shaped, small)
    suite_docs: int = 500
    suite_embeddings: int = 300
    suite_orders: int = 15_000
    suite_lineitems: int = 60_000


SMOKE = Sizes(
    n_corpus=2_000,
    n_components=16,
    n_clusters=8,
    fit_sample_rows=256,
    pool_size=50,
    n_unique_queries=200,
    upsert_rows=100,
    n_upsert_batches=6,
    delete_rows=20,
    batch_queries=16,
    n_query_batches=2,
    suite_docs=120,
    suite_embeddings=80,
    suite_orders=600,
    suite_lineitems=2_000,
)


@dataclass
class Inputs:
    workload: str
    seed: int
    sizes: Sizes
    corpus: np.ndarray  # (n_corpus + writer rows, dim) float32; row i is id i
    vendors: np.ndarray  # vendor index per id
    pool: np.ndarray = field(default_factory=lambda: np.empty((0, 0)))
    pool_draws: np.ndarray = field(default_factory=lambda: np.empty(0, np.int64))
    unique_queries: np.ndarray = field(default_factory=lambda: np.empty((0, 0)))
    delete_plan: list = field(default_factory=list)
    query_batches: np.ndarray = field(default_factory=lambda: np.empty((0, 0, 0)))
    suite_tables: dict = field(default_factory=dict)

    def upsert_batch(self, i: int) -> tuple[np.ndarray, np.ndarray]:
        """(ids, vectors) of the writer's i-th upsert batch."""
        s = self.sizes
        lo = s.n_corpus + i * s.upsert_rows
        ids = np.arange(lo, lo + s.upsert_rows, dtype=np.int64)
        return ids, self.corpus[lo : lo + s.upsert_rows]


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _near(rng, corpus: np.ndarray, n: int, n_live: int, noise: float) -> np.ndarray:
    base = corpus[rng.integers(0, n_live, n)].astype(np.float64)
    return base + noise * rng.normal(size=base.shape)


def generate(workload: str, seed: int, sizes: Sizes) -> Inputs:
    if workload not in _WORKLOAD_CODES:
        raise ValueError(f"unknown workload {workload!r}")
    s = sizes
    # the corpus and the writer's rows depend on the seed only: every
    # workload shares them, each taking the writer rows it may commit
    rng = _rng(seed, 0)
    centers = rng.normal(size=(s.n_components, s.dim))

    def mixture(r, n):
        comp = r.integers(0, s.n_components, n)
        x = (centers[comp] + 0.35 * r.normal(size=(n, s.dim))).astype(np.float32)
        return x, r.integers(0, len(VENDORS), n)

    corpus, vendors = mixture(rng, s.n_corpus)
    w_rows, w_vendors = mixture(_rng(seed, 0, 1), s.upsert_rows * s.n_upsert_batches)
    n_batches = _WRITER_BATCHES[workload]
    n_w = s.upsert_rows * (s.n_upsert_batches if n_batches is None else n_batches)
    inp = Inputs(
        workload,
        seed,
        s,
        np.concatenate([corpus, w_rows[:n_w]]),
        np.concatenate([vendors, w_vendors[:n_w]]),
    )

    w = _rng(seed, _WORKLOAD_CODES[workload])
    if workload == "serve_ivf":
        inp.pool = _near(w, corpus, s.pool_size, s.n_corpus, s.query_noise)
        # Zipf ranks over the pool: hot queries repeat
        p = 1.0 / np.arange(1, s.pool_size + 1) ** s.zipf_s
        inp.pool_draws = w.choice(s.pool_size, size=200_000, p=p / p.sum())
    else:
        # each delete removes delete_rows distinct pre-existing ids
        order = w.permutation(s.n_corpus)
        inp.delete_plan = [
            order[i * s.delete_rows : (i + 1) * s.delete_rows]
            for i in range(max(n_w // s.upsert_rows, 1))
        ]
    if workload == "ingest_serve":
        inp.unique_queries = _near(w, corpus, s.n_unique_queries, s.n_corpus, s.query_noise)
    elif workload == "batch_analytics":
        inp.query_batches = np.stack(
            [
                _near(w, corpus, s.batch_queries, s.n_corpus, s.query_noise)
                for _ in range(s.n_query_batches)
            ]
        )
        inp.suite_tables = suite_tables(w, s)
    return inp


def fingerprint(inp: Inputs) -> str:
    h = hashlib.sha256()
    for arr in (
        inp.corpus,
        inp.vendors,
        inp.pool,
        inp.pool_draws,
        inp.unique_queries,
        inp.query_batches,
        *inp.delete_plan,
    ):
        a = np.ascontiguousarray(arr)
        h.update(str((a.dtype.str, a.shape)).encode())
        h.update(a.tobytes())
    for name in sorted(inp.suite_tables):
        h.update(name.encode())
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, inp.suite_tables[name].schema) as w:
            w.write_table(inp.suite_tables[name])
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()[:16]


# ------------------------------------------------------------ writing


def write_corpus(inp: Inputs, sf_dir: str) -> None:
    """The serving store: ``embeddings`` for the initial corpus and a
    ``documents`` row for every id, including the writer's future ids."""
    os.makedirs(sf_dir, exist_ok=True)
    s = inp.sizes
    ids = np.arange(len(inp.corpus), dtype=np.int64)
    pq.write_table(
        pa.table(
            {
                "vec_id": ids[: s.n_corpus],
                "embedding": pa.FixedSizeListArray.from_arrays(
                    inp.corpus[: s.n_corpus].ravel(), s.dim
                ).cast(pa.list_(pa.float32())),
                "label": (ids[: s.n_corpus] % 10).astype(np.int32),
            }
        ),
        os.path.join(sf_dir, "embeddings.parquet"),
    )
    text = [f"doc {i}" for i in ids]
    pq.write_table(
        pa.table(
            {
                "doc_id": ids,
                "text": text,
                "lang": np.asarray(VENDORS)[inp.vendors],
                "source": [f"t{i % 100}" for i in ids],
                "n_chars": np.fromiter((len(t) for t in text), np.int64, len(text)),
            }
        ),
        os.path.join(sf_dir, "documents.parquet"),
    )


def suite_tables(rng: np.random.Generator, s: Sizes) -> dict[str, pa.Table]:
    """Testdata-shaped tables (TPC-H-ish star schema, ``events``, text
    ``documents`` with exact and near duplicates, unit ``embeddings``),
    small enough that a cold pass fits in one run."""
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": np.arange(5, dtype=np.int64),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": np.arange(25, dtype=np.int64),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25, dtype=np.int64) % 5,
        }
    )
    n_cust, n_supp, n_part = s.suite_orders // 10, 100, 2000
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                n_cust,
            ),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(["small", "red", "large", "blue"], n_part),
                    rng.choice(["ring", "widget", "bolt", "gear"], n_part),
                )
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "STANDARD", "PROMO"], n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
        }
    )
    day = np.datetime64("1992-01-01", "us")
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(s.suite_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, s.suite_orders),
            "o_orderstatus": rng.choice(["F", "O", "P"], s.suite_orders),
            "o_totalprice": np.round(rng.uniform(1e3, 5e5, s.suite_orders), 2),
            "o_orderdate": day
            + rng.integers(0, 2500, s.suite_orders) * np.timedelta64(1, "D"),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                s.suite_orders,
            ),
        }
    )
    n_li = s.suite_lineitems
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, s.suite_orders, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 1e5, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": day + rng.integers(0, 2500, n_li) * np.timedelta64(1, "D"),
        }
    )
    n_ev = 10 * s.suite_docs
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us")
            + np.cumsum(rng.integers(1, 400_000_000, n_ev)) * np.timedelta64(1, "us"),
            "user_id": rng.integers(0, 100, n_ev),
            "event_type": rng.choice(["error", "click", "view", "signup", "purchase"], n_ev),
            "value": np.round(rng.uniform(0, 20, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for i in range(s.suite_docs):
        r = rng.random()
        if i > 10 and r < 0.05:  # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.10:  # near duplicate: an earlier text, retouched
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(s.suite_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(["en", "en", "en", "de", "fr", "es", "zh"], s.suite_docs),
            "source": [f"src{i % 10}" for i in range(s.suite_docs)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    e = rng.normal(size=(s.suite_embeddings, 64))
    e /= np.linalg.norm(e, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(s.suite_embeddings, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                e.astype(np.float32).ravel(), 64
            ).cast(pa.list_(pa.float32())),
            "label": rng.integers(0, 10, s.suite_embeddings).astype(np.int32),
        }
    )
    return t


def write_suite(inp: Inputs, sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in inp.suite_tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
