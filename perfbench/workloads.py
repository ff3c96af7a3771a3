"""The three workloads. Each drives the package's public surface:
``http_server.serve`` over ``api.VectorSearchEngine``,
``operators.index``, ``operators.tombstones`` and
``__spark_entry__.queries()``.

All load is closed loop: a client sends its next request only after
the reply to the previous one.
"""

from __future__ import annotations

import http.client
import itertools
import json
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import check
import gen

NPROC = len(os.sched_getaffinity(0))  # what `nproc` prints
K = 10
WIDTH = 10  # index_tree_search_top_size, the reference default
#: Closed-loop warm-up before the window. In a fresh JVM, serving latency
#: keeps falling for half a minute of load or more; the warm-up keeps the
#: first, steepest part (and each client's first, full-width request) out
#: of the window.
WARM_SECONDS = 6

#: The batch suite: a cold pass over these ``queries()`` entries, the
#: ones the open performance items target. ``multimodal_curation`` and
#: ``wordpiece_train`` are left out, since each one's cold cost alone
#: would push a run past its time budget, and ``curate_corpus``, which no
#: item targets, to keep the whole benchmark within its budget.
SUITE = (
    "semantic_dedup",
    "duplicate_char_spans",
    "tfidf_cosine_prefix",
    "winnowing_fingerprints",
    "bpe_train",
    "winnowing_arrow",
)


def post(port: int, path: str, payload: dict) -> tuple[int, dict]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=150)
    try:
        body = json.dumps(payload).encode()
        conn.request("POST", path, body, {"Content-Type": "application/json"})
        resp = conn.getresponse()
        return resp.status, json.loads(resp.read())
    finally:
        conn.close()


class Harness:
    """State shared by the phases of one run."""

    def __init__(self, args, sizes, run_dir, tracer, ledger, t0):
        self.t0 = t0
        self.args = args
        self.sizes = sizes
        self.run_dir = run_dir
        self.tracer = tracer
        self.ledger = ledger
        self.spark = None
        self.metrics: dict[str, float] = {}
        self.report: dict[str, object] = {}
        self.samples: list[dict] = []  # one per measured request
        self._rid = itertools.count(1)
        self.window_start = 0.0  # wall times the measured window opened
        self.window_end = 0.0  # and closed
        self.gc_window_ms = 0.0
        self.suite_names: tuple[str, ...] = ()
        self.suite_dir = ""

    def mark(self, phase: str) -> float:
        """Record when ``phase`` ended, in seconds since process start."""
        t = time.perf_counter() - self.t0
        self.report.setdefault("timeline_s", {})[phase] = round(t, 2)
        return t

    def mark_setup_done(self) -> None:
        """Set-up ends here, at the workload's first timed operation:
        process start, input generation, session start, index build and
        warm-up (in ``batch_analytics`` also the cold suite pass, the index
        writes and the compaction) are behind us."""
        self.metrics["setup_s"] = self.mark("setup")

    # ---------------------------------------------------------- setup

    def start_spark(self, event_dir: str | None):
        from pyspark.sql import SparkSession

        n = NPROC
        b = (
            SparkSession.builder.master(f"local[{n}]")
            .appName(f"perfbench-{self.args.workload}")
            .config("spark.driver.memory", "2g")
            .config("spark.sql.shuffle.partitions", str(n))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
            .config("spark.sql.warehouse.dir", os.path.join(self.run_dir, "warehouse"))
            # a fixed heap size keeps the JVM's resident set from
            # depending on when the collector chose to grow the heap
            .config(
                "spark.driver.extraJavaOptions",
                f"-Xms2g -Dderby.system.home={self.run_dir}",
            )
        )
        if event_dir:
            os.makedirs(event_dir, exist_ok=True)
            b = (
                b.config("spark.eventLog.enabled", "true")
                .config("spark.eventLog.dir", "file://" + event_dir)
                .config("spark.eventLog.compress", "false")
                .config("spark.eventLog.rolling.enabled", "false")
            )
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def build_index(self, inp: gen.Inputs, sf_dir: str, out_dir: str):
        from pyspark.sql import functions as F

        from ydb_vector_search_simple_api_spark.operators import index as ivf
        from ydb_vector_search_simple_api_spark.sources.store import load_embeddings

        src = load_embeddings(self.spark, sf_dir).select(
            F.col("vec_id").alias("id"), "embedding"
        )
        t0 = time.perf_counter()
        with self.tracer.span("index.build", self.spark, tag="index-build"):
            idx = ivf.build_ivf_index(
                self.spark,
                src,
                out_dir,
                n_clusters=self.sizes.n_clusters,
                seed=inp.seed,
                fit_sample_rows=self.sizes.fit_sample_rows,
            )
        self.metrics["index.build_s"] = time.perf_counter() - t0
        return idx

    def serve(self, engine):
        """``http_server.serve`` on a free port; traced, the same server
        with a handler subclass over a wrapped engine."""
        from ydb_vector_search_simple_api_spark import http_server

        if self.tracer.enabled:
            handler = self._traced_handler(
                http_server.make_handler(self._traced_engine(engine))
            )
            server = http_server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
        else:
            server = http_server.serve(engine, "127.0.0.1", 0)
        server.daemon_threads = True
        threading.Thread(target=server.serve_forever, daemon=True).start()
        return server

    def _traced_handler(self, base):
        h = self

        class Traced(base):
            def do_POST(self):  # noqa: N802
                rid = next(h._rid)
                with h.tracer.span("http.request", h.spark, tag=f"req-{rid}", rid=rid):
                    super().do_POST()

        return Traced

    def _traced_engine(self, engine):
        """Wrap the engine's entry points in spans (instance attributes
        shadow the methods, so the engine's own calls go through them)."""
        tr = self.tracer
        for name in ("search", "search_df", "search_batch", "search_batch_df"):
            fn = getattr(engine, name)

            def wrapped(*a, _fn=fn, _name=name, **kw):
                with tr.span(f"api.{_name}"):
                    return _fn(*a, **kw)

            object.__setattr__(engine, name, wrapped)
        return engine

    # ------------------------------------------------------- load loop

    def measure(self, port, clients, make_request, on_window=None) -> list[dict]:
        """``clients`` closed-loop threads: ``WARM_SECONDS`` of warm-up,
        then the measured window of ``--seconds``, with no pause between
        them. A request belongs to the phase in which it started. After
        the window, clients keep sending unmeasured requests until every
        window request has returned, so that each one ran at full
        concurrency. Set-up ends, and ``on_window`` is called, when the
        window opens. Each request is ``make_request(client, i) ->
        (path, payload, meta)``. Returns the replies by phase, ``warm``,
        ``window`` and ``tail`` (the unmeasured ones after the window);
        the window's also go to ``self.samples``."""
        import spans

        t0 = time.perf_counter()
        window_at, window_end = t0 + WARM_SECONDS, t0 + WARM_SECONDS + self.args.seconds
        lock = threading.Lock()
        in_flight = [0]  # window requests sent and not yet returned
        errors: list[BaseException] = []
        phases: dict[str, list[dict]] = {"warm": [], "window": [], "tail": []}

        def loop(c):
            try:
                for i in itertools.count():
                    with lock:
                        now = time.perf_counter()
                        if now >= window_end and not in_flight[0]:
                            return
                        phase = (
                            "warm" if now < window_at else "window" if now < window_end else "tail"
                        )
                        in_flight[0] += phase == "window"
                    path, payload, meta = make_request(c, i)
                    wall0 = time.time()
                    t1 = time.perf_counter()
                    try:
                        status, body = post(port, path, payload)
                    except (OSError, http.client.HTTPException, ValueError) as e:
                        status, body = -1, {"error": f"{type(e).__name__}: {e}"}
                    t2 = time.perf_counter()
                    rec = {
                        "client": c,
                        "status": status,
                        "body": body,
                        "ms": (t2 - t1) * 1000.0,
                        "start": wall0,
                        "end": time.time(),
                        "t_start": t1,
                        "t_end": t2,
                        **meta,
                    }
                    with lock:
                        in_flight[0] -= phase == "window"
                        phases[phase].append(rec)
            except BaseException as e:  # surface in the main thread
                errors.append(e)
                raise

        threads = [threading.Thread(target=loop, args=(c,)) for c in range(clients)]
        for t in threads:
            t.start()
        time.sleep(max(0.0, window_at - time.perf_counter()))
        self.mark_setup_done()
        self.window_start = time.time()
        self.window_end = self.window_start + self.args.seconds
        gc0 = spans.jvm_gc_ms(self.spark)
        if on_window is not None:
            on_window()
        for t in threads:
            t.join()
        if errors:
            raise errors[0]
        self.gc_window_ms = spans.jvm_gc_ms(self.spark) - gc0
        self.samples = phases["window"]
        return phases

    def repeat_share(self, warm_up, window) -> None:
        """Report the share of requests whose ``key`` an earlier request
        since the server started already sent: what a result cache would
        hit."""
        seen = set()

        def share(samples):
            n = 0
            for r in sorted(samples, key=lambda r: r["start"]):
                n += r["key"] in seen
                seen.add(r["key"])
            return round(n / len(samples), 3) if samples else 0.0

        self.report["repeat_share"] = {"warm_up": share(warm_up), "window": share(window)}

    def latency_metrics(self, samples):
        if not samples:
            raise RuntimeError("no request in the measured window")
        ok = [s for s in samples if s["status"] == 200]
        # each client's window requests ran back to back: its successful
        # replies over the span from its first send to its last reply
        qps = 0.0
        for c in {s["client"] for s in samples}:
            mine = [s for s in samples if s["client"] == c]
            span = max(s["t_end"] for s in mine) - min(s["t_start"] for s in mine)
            qps += sum(s["status"] == 200 for s in mine) / span
        # latencies of the successful replies; when reads raced a writer
        # and every one failed (ingest_serve), of the failed ones
        ms = np.sort([s["ms"] for s in ok or samples])
        n = len(ms)
        self.metrics["search_qps"] = qps
        self.metrics["search_p50_ms"] = float(np.median(ms))
        # p75, interpolated. A window holds 12-21 serving or 4-5 batch
        # requests, too few for a percentile above the median with 10
        # samples beyond it; p75 is the steadiest upper percentile left.
        self.metrics["search_tail_ms"] = float(np.percentile(ms, 75))
        self.report["search_tail"] = f"p75 of {n} samples, {int(n * 0.25)} beyond"
        self.report["latencies_ms"] = [round(x) for x in ms]


# ------------------------------------------------------------ serving


def _store_engine(h: Harness, sf_dir: str, idx):
    from ydb_vector_search_simple_api_spark.api import VectorSearchEngine
    from ydb_vector_search_simple_api_spark.config import SearchConfig

    return VectorSearchEngine(
        spark=h.spark, sf_dir=sf_dir, config=SearchConfig(index_enabled=True), index=idx
    )


def _rows(body) -> tuple[list[int], list[float]]:
    res = body.get("results", [])
    return [int(r["id"]) for r in res], [float(r["score"]) for r in res]


def _index_stats(index_path: str) -> tuple[int, float]:
    """(bytes on disk, mean data files per cluster directory)."""
    total, files = 0, []
    for d, _, fs in os.walk(index_path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in fs)
        if os.path.basename(d).startswith("cluster_id="):
            files.append(sum(f.endswith(".parquet") for f in fs))
    return total, float(np.mean(files)) if files else 0.0


def serve_ivf(h: Harness, inp: gen.Inputs, sf_dir: str) -> None:
    s = inp.sizes
    gen.write_corpus(inp, sf_dir)
    idx = h.build_index(inp, sf_dir, os.path.join(h.run_dir, "ivf"))
    engine = _store_engine(h, sf_dir, idx)
    server = h.serve(engine)
    port = server.server_address[1]
    clients = min(4, NPROC)
    pool = inp.pool.tolist()
    draws = inp.pool_draws

    def make_request(c, i):
        # each client's first request, in the warm-up, is a full-width
        # (exact) search
        qi = int(draws[(c * len(draws)) // clients + i])
        width = s.n_clusters if i == 0 else WIDTH
        return (
            "/search",
            {"embedding": pool[qi], "k": K, "index_tree_search_top_size": width},
            {"q": qi, "exact": width == s.n_clusters, "key": (qi, width)},
        )

    phases = h.measure(port, clients, make_request)
    server.shutdown()
    server.server_close()
    h.latency_metrics(h.samples)
    h.repeat_share(phases["warm"], h.samples)

    oracle = check.Oracle(inp.corpus[: s.n_corpus])
    live = np.arange(s.n_corpus, dtype=np.int64)
    live_mask = np.ones(s.n_corpus, dtype=bool)
    # recall over every width-10 request of the run, not the window's
    # alone: a window holds 12-21 requests, and a few queries with low
    # recall then moved the mean by several points from run to run
    recalls = []
    for r in itertools.chain(*phases.values()):
        h.ledger.attempt()
        if r["status"] != 200:
            h.ledger.fail(f"http_{r['status']}")
            continue
        ids, scores = _rows(r["body"])
        q = inp.pool[r["q"]]
        if r["exact"]:
            bad = check.check_exact(oracle, q, ids, scores, live, K)
        else:
            bad = check.check_ranked(oracle, q, ids, scores, K, live_mask)
        if bad:
            h.ledger.fail(bad)
            continue
        if not r["exact"]:
            recalls.append(check.recall(oracle, q, ids, live, K))
    h.metrics["recall_at_10"] = float(np.mean(recalls)) if recalls else 0.0
    nbytes, fpc = _index_stats(idx.path)
    h.metrics["index_bytes_per_vector"] = nbytes / s.n_corpus
    h.metrics["index.files_per_cluster"] = fpc
    h.metrics["tombstones.rows"] = 0.0


# ------------------------------------------------------------ ingest


def ingest_serve(h: Harness, inp: gen.Inputs, sf_dir: str) -> None:
    """Not a scored workload: 3 readers query the IVF index while 1
    writer loops. Each writer cycle upserts one batch, every 2nd cycle
    also tombstones a batch of existing ids and every 5th compacts into
    a new generation and points the engine at it. An upsert that runs
    while tombstones exist deletes and rewrites the tombstone set
    (``tombstones.resurrect_ids``) under the readers; the run counts the
    failed reads and returned deleted ids this causes, by kind. One
    request in three is a full-width freshness or deletion probe."""
    delete_every, compact_every = 2, 5
    from ydb_vector_search_simple_api_spark.operators import index as ivf
    from ydb_vector_search_simple_api_spark.operators import tombstones

    s = inp.sizes
    gen.write_corpus(inp, sf_dir)
    gen_root = os.path.join(h.run_dir, "ivf")
    idx = h.build_index(inp, sf_dir, os.path.join(gen_root, "g0"))
    tombstones.set_serving_generation(gen_root, idx.path)
    engine = _store_engine(h, sf_dir, idx)
    server = h.serve(engine)
    port = server.server_address[1]
    readers = max(1, min(3, NPROC - 1))
    uq = inp.unique_queries.tolist()

    # commit log: (wall time the op began, wall time it returned, kind,
    # ids); readers and the checks read it
    commits: list[tuple[float, float, str, np.ndarray]] = []
    lock = threading.Lock()
    stop = threading.Event()
    op_times: dict[str, list[float]] = {"upsert": [], "delete": [], "compact": []}
    rows_committed = [0]

    def writer():
        spark, cur = h.spark, idx
        for cycle in itertools.count(1):
            if stop.is_set() or cycle > s.n_upsert_batches:
                return
            ids, vecs = inp.upsert_batch(cycle - 1)
            df = spark.createDataFrame(
                [(int(i), v.tolist()) for i, v in zip(ids, vecs)],
                "id bigint, embedding array<float>",
            )
            t0, began = time.perf_counter(), time.time()
            with h.tracer.span("index.upsert", spark, tag=f"upsert-{cycle}"):
                ivf.ivf_upsert(spark, cur, df)
            op_times["upsert"].append(time.perf_counter() - t0)
            with lock:
                commits.append((began, time.time(), "upsert", ids))
                rows_committed[0] += len(ids)
            if cycle % delete_every == 0 and not stop.is_set():
                dels = inp.delete_plan[cycle // delete_every - 1]
                t0, began = time.perf_counter(), time.time()
                with h.tracer.span("tombstones.delete", spark, tag=f"delete-{cycle}"):
                    tombstones.delete_ids(spark, cur.path, dels.tolist())
                op_times["delete"].append(time.perf_counter() - t0)
                with lock:
                    commits.append((began, time.time(), "delete", dels))
            if cycle % compact_every == 0 and not stop.is_set():
                t0 = time.perf_counter()
                with h.tracer.span("index.compact", spark, tag=f"compact-{cycle}"):
                    new = ivf.ivf_compact(spark, cur, os.path.join(gen_root, f"g{cycle}"))
                    tombstones.set_serving_generation(gen_root, new.path)
                    engine.index = cur = new
                op_times["compact"].append(time.perf_counter() - t0)

    def state(t: float, began: bool = False):
        """(ids upserted, ids deleted) by the ops that returned (or, with
        ``began``, started) before wall time t."""
        with lock:
            done = [c for c in commits if c[0 if began else 1] < t]
        ups = [c[3] for c in done if c[2] == "upsert"]
        dels = [c[3] for c in done if c[2] == "delete"]
        return ups, dels

    def make_request(c, i):
        # once the writer has committed, one request in three is a
        # full-width probe, alternately of freshness (the last upserted
        # vector must come back first) and deletion (a deleted vector
        # must not come back)
        if i % 3 == 2:
            ups, dels = state(time.time())
            if dels and i % 6 == 5:
                pid = int(dels[-1][(c * 7 + i) % len(dels[-1])])
                kind = "delete_probe"
            elif ups:
                pid = int(ups[-1][(c * 7 + i) % len(ups[-1])])
                kind = "fresh_probe"
            else:
                pid, kind = None, None
            if pid is not None:
                return (
                    "/search",
                    {
                        "embedding": inp.corpus[pid].astype(np.float64).tolist(),
                        "k": K,
                        "index_tree_search_top_size": s.n_clusters,
                    },
                    {"kind": kind, "pid": pid},
                )
        qi = (c * len(uq)) // readers + i
        return (
            "/search",
            {"embedding": uq[qi % len(uq)], "k": K, "index_tree_search_top_size": WIDTH},
            {"kind": "query", "q": qi % len(uq)},
        )

    wt = threading.Thread(target=writer)
    t_w = [0.0]

    def start_writer():  # when the window opens
        t_w[0] = time.perf_counter()
        wt.start()

    try:
        h.measure(port, readers, make_request, on_window=start_writer)
    finally:
        stop.set()
        if wt.is_alive():
            wt.join()
    w_elapsed = time.perf_counter() - t_w[0]
    server.shutdown()
    server.server_close()

    queries = [r for r in h.samples if r["kind"] == "query"]
    h.latency_metrics(queries)
    h.metrics["upsert_rows_per_s"] = rows_committed[0] / w_elapsed
    for k_, name in (("upsert", "index.upsert_s"), ("delete", "tombstones.delete_s"),
                     ("compact", "index.compact_s")):
        h.metrics[name] = float(np.mean(op_times[k_])) if op_times[k_] else 0.0
    h.report["writer_ops"] = {k_: len(v) for k_, v in op_times.items()}

    oracle = check.Oracle(inp.corpus)
    base = np.arange(s.n_corpus, dtype=np.int64)
    recalls = []
    for r in h.samples:
        h.ledger.attempt()
        if r["status"] != 200:
            err = str(r["body"].get("error", ""))
            kind = next(
                (k for marker, k in _READ_ERRORS if marker in err), f"http_{r['status']}"
            )
            h.ledger.fail(kind)
            h.report.setdefault("error_samples", {}).setdefault(kind, err[:200])
            continue
        ids, scores = _rows(r["body"])
        # a deletion that returned before the request must hold; rows of
        # an upsert that began before the reply may already be visible
        ups_start, dels_start = state(r["start"])
        ups_end, _ = state(r["end"], began=True)
        deleted = np.concatenate(dels_start) if dels_start else np.empty(0, np.int64)
        if np.isin(ids, deleted).any():
            h.ledger.fail("deleted_id_returned")
            continue
        if r["kind"] == "fresh_probe" and (not ids or ids[0] != r["pid"]):
            h.ledger.fail("fresh_probe_missed")
            continue
        allowed = np.zeros(len(inp.corpus), dtype=bool)
        allowed[np.concatenate([base, *ups_end])] = True
        q = inp.unique_queries[r["q"]] if r["kind"] == "query" else inp.corpus[r["pid"]]
        bad = check.check_ranked(oracle, q, ids, scores, K, allowed)
        if bad:
            h.ledger.fail(bad)
        elif r["kind"] == "query":
            live = np.setdiff1d(np.concatenate([base, *ups_start]), deleted)
            recalls.append(check.recall(oracle, q, ids, live, K))
    h.metrics["recall_at_10"] = float(np.mean(recalls)) if recalls else 0.0
    h.report["probes"] = {
        k_: sum(r["kind"] == k_ for r in h.samples) for k_ in ("fresh_probe", "delete_probe")
    }

    serving = tombstones.current_generation(gen_root)
    ups, dels = state(time.time())
    n_deleted = len(np.concatenate(dels)) if dels else 0
    live_n = s.n_corpus + sum(len(u) for u in ups) - n_deleted
    nbytes, fpc = _index_stats(serving)
    h.metrics["index_bytes_per_vector"] = nbytes / live_n
    h.metrics["index.files_per_cluster"] = fpc
    h.metrics["tombstones.rows"] = float(_tombstone_rows(serving))


#: (marker in the error text, failure kind) for reads that raced a writer
_READ_ERRORS = (
    ("FILE_NOT_EXIST", "read_file_not_exist"),
    ("FileNotFound", "read_file_not_exist"),
    ("PATH_NOT_FOUND", "read_path_not_found"),
    ("UNABLE_TO_INFER_SCHEMA", "read_no_schema"),
)


def _tombstone_rows(index_path: str) -> int:
    import pyarrow.parquet as pq

    from ydb_vector_search_simple_api_spark.operators import tombstones

    p = tombstones.tombstone_path(index_path)
    if not os.path.isdir(p):
        return 0
    return sum(
        pq.ParquetFile(os.path.join(p, f)).metadata.num_rows
        for f in os.listdir(p)
        if f.endswith(".parquet")
    )


# ------------------------------------------------------------ batch


def batch_analytics(h: Harness, inp: gen.Inputs, sf_dir: str) -> None:
    """One client, offline work in sequence: a cold pass over the suite
    entries; a delete and an upsert on the IVF index, then its
    compaction into a new generation; a warm-up and then the measured
    window of ``/search_batch`` requests (``search_batch`` through the
    routed blocked IVF join) on the compacted generation.

    Set-up ends at the window, so ``setup_s`` carries the index build,
    the cold suite pass, the delete, the upsert, the compaction and the
    warm-up."""
    import __spark_entry__ as entry

    from ydb_vector_search_simple_api_spark.operators import index as ivf
    from ydb_vector_search_simple_api_spark.operators import tombstones

    s, spark = inp.sizes, h.spark
    suite_dir = os.path.join(h.run_dir, "suite")
    gen.write_suite(inp, suite_dir)
    gen.write_corpus(inp, sf_dir)
    idx = h.build_index(inp, sf_dir, os.path.join(h.run_dir, "ivf", "g0"))
    engine = _store_engine(h, sf_dir, idx)
    server = h.serve(engine)
    port = server.server_address[1]
    batches = [b.tolist() for b in inp.query_batches]

    # the cold pass: svs_* artifacts are built on first use, as a batch
    # user meets them once per corpus
    qs = entry.queries()
    names = SUITE if not h.args.smoke else SUITE[-4:]
    results = {}
    t_suite = time.perf_counter()
    for name in names:
        t0 = time.perf_counter()
        with h.tracer.span(f"suite.{name}", window=True):
            results[name] = qs[name](spark, suite_dir).toPandas()
        h.metrics[f"suite.{name}_s"] = time.perf_counter() - t0
    h.metrics["suite_s"] = time.perf_counter() - t_suite
    h.mark("suite")

    deleted = inp.delete_plan[0]
    t0 = time.perf_counter()
    with h.tracer.span("tombstones.delete", spark, tag="delete-1"):
        tombstones.delete_ids(spark, idx.path, deleted.tolist())
    h.metrics["tombstones.delete_s"] = time.perf_counter() - t0
    up_ids, up_vecs = inp.upsert_batch(0)
    df = spark.createDataFrame(
        [(int(i), v.tolist()) for i, v in zip(up_ids, up_vecs)],
        "id bigint, embedding array<float>",
    )
    t0 = time.perf_counter()
    with h.tracer.span("index.upsert", spark, tag="upsert-1"):
        ivf.ivf_upsert(spark, idx, df)
    h.metrics["index.upsert_s"] = time.perf_counter() - t0
    h.metrics["upsert_rows_per_s"] = len(up_ids) / h.metrics["index.upsert_s"]
    # the read amplification the writes left, which compaction removes
    _, h.metrics["index.files_per_cluster"] = _index_stats(idx.path)
    h.metrics["tombstones.rows"] = float(_tombstone_rows(idx.path))
    t0 = time.perf_counter()
    with h.tracer.span("index.compact", spark, tag="compact-1"):
        idx = ivf.ivf_compact(spark, idx, os.path.join(h.run_dir, "ivf", "g1"))
        engine.index = idx
    h.metrics["index.compact_s"] = time.perf_counter() - t0
    h.mark("writer")

    def make_request(c, i):
        bi = i % len(batches)
        return (
            "/search_batch",
            {"embeddings": batches[bi], "k": K, "index_tree_search_top_size": WIDTH},
            {"b": bi, "key": bi},
        )

    # the warm-up matters: a fresh JVM's first batch request takes about
    # 1.5 times a settled one, which in a window of a few requests would
    # move the median
    phases = h.measure(port, 1, make_request)
    h.mark("window")
    server.shutdown()
    server.server_close()
    h.latency_metrics(h.samples)
    h.repeat_share(phases["warm"], h.samples)
    h.metrics["batch_queries_per_s"] = h.metrics["search_qps"] * s.batch_queries

    live = np.setdiff1d(
        np.concatenate([np.arange(s.n_corpus, dtype=np.int64), up_ids]), deleted
    )
    # outputs of the suite against their DuckDB oracles, untimed. DuckDB
    # runs outside the interpreter lock, so the entries are checked in
    # threads while the replies are checked
    import suite_check

    oracles = entry.oracle_sql()
    with ThreadPoolExecutor(len(results)) as pool:
        suite_bad = {
            name: pool.submit(suite_check.check, name, pdf, oracles.get(name), suite_dir)
            for name, pdf in results.items()
        }
        _check_batch_replies(h, inp, itertools.chain(*phases.values()), live, deleted)
    for fut in suite_bad.values():
        h.ledger.attempt()
        bad = fut.result()
        if bad:
            h.ledger.fail(f"suite_{bad}")
    nbytes, _ = _index_stats(idx.path)
    h.metrics["index_bytes_per_vector"] = nbytes / len(live)
    h.suite_names = names
    h.suite_dir = suite_dir
    h.mark("checks")


def _check_batch_replies(h: Harness, inp: gen.Inputs, replies, live, deleted) -> None:
    """Every ``/search_batch`` reply against the exact oracle over the
    live ids; ``recall_at_10`` over all of their queries."""
    oracle = check.Oracle(inp.corpus)
    live_mask = np.zeros(len(inp.corpus), dtype=bool)
    live_mask[live] = True
    recalls = []
    for r in replies:
        h.ledger.attempt()
        if r["status"] != 200:
            h.ledger.fail(f"http_{r['status']}")
            continue
        bad = None
        for q, res in zip(inp.query_batches[r["b"]], r["body"]["results"]):
            ids = [int(x["id"]) for x in res]
            if np.isin(ids, deleted).any():
                bad = "deleted_id_returned"
                break
            bad = check.check_ranked(
                oracle, q, ids, [float(x["score"]) for x in res], K, live_mask
            )
            if bad:
                break
            recalls.append(check.recall(oracle, q, ids, live, K))
        if bad:
            h.ledger.fail(bad)
    h.metrics["recall_at_10"] = float(np.mean(recalls)) if recalls else 0.0


WORKLOADS = {
    "serve_ivf": serve_ivf,
    "ingest_serve": ingest_serve,
    "batch_analytics": batch_analytics,
}
