"""The per-layer table of a traced run and the printed report.

A request's spans form a chain: ``http.request`` (the handler) ->
``api.search`` (or ``api.search_batch``) -> ``api.search_df`` (or
``api.search_batch_df``: query routing and plan build); the rest of
``api.search`` is the collect. Its Spark jobs carry the request's tag.
"""

from __future__ import annotations

import statistics
import time

import numpy as np


def _dur_ms(s: dict) -> float:
    return (s["end"] - s["start"]) * 1000.0


def attribute(h, log) -> None:
    """Fill the per-layer metrics of ``h`` from its spans and event log."""
    tr, m = h.tracer, h.metrics
    reqs = [
        s for s in tr.by_name("http.request") if h.window_start <= s["start"] < h.window_end
    ]
    children: dict[int, dict[str, dict]] = {}
    for s in tr.spans:
        if s["parent"] is not None:
            children.setdefault(s["root"], {})[s["name"]] = s
    per_req = []
    for r in reqs:
        kids = children.get(r["id"], {})
        api = kids.get("api.search") or kids.get("api.search_batch")
        plan = kids.get("api.search_df") or kids.get("api.search_batch_df")
        if api is None or plan is None:
            continue  # rejected before reaching the engine
        summary = log.summarize(log.jobs_tagged(f"req-{r['rid']}"))
        summary.update(
            http_ms=_dur_ms(r),
            overhead_ms=_dur_ms(r) - _dur_ms(api),
            plan_ms=_dur_ms(plan),
            collect_ms=_dur_ms(api) - _dur_ms(plan),
        )
        per_req.append(summary)
    if not per_req:
        raise RuntimeError("no traced request reached the engine")

    def med(key):
        return float(statistics.median(p[key] for p in per_req))

    def mean(key):
        return float(np.mean([p[key] for p in per_req]))

    m["http.overhead_ms"] = med("overhead_ms")
    m["api.search_df_ms"] = med("plan_ms")
    m["spark.collect_ms"] = med("collect_ms")
    m["spark.executor_run_ms"] = mean("run_ms")
    m["spark.executor_cpu_ms"] = mean("cpu_ms")
    m["spark.gc_ms"] = h.gc_window_ms / len(per_req)
    m["spark.input_bytes"] = mean("input_bytes")
    m["spark.jobs_per_req"] = mean("jobs")
    m["spark.tasks_per_req"] = mean("tasks")
    m["spark.sched_delay_ms"] = mean("sched_ms")
    results = sum(
        sum(len(x) for x in s["body"]["results"])
        if s["body"]["results"] and isinstance(s["body"]["results"][0], list)
        else len(s["body"]["results"])
        for s in h.samples
        if s["status"] == 200
    )
    m["spark.rows_read_per_result"] = sum(p["records_read"] for p in per_req) / max(results, 1)
    h.report["traced_requests"] = len(per_req)

    # writer operations and the index build, by tag
    for name, prefix in (("index.upsert", "upsert-"), ("tombstones.delete", "delete-"),
                         ("index.compact", "compact-"), ("index.build", "index-build")):
        ops = tr.by_name(name)
        if ops:
            jobs = [j for s in ops for j in log.jobs_tagged(s["tag"])]
            st = log.summarize(jobs)
            h.report[f"{name}.jobs"] = st["jobs"]
            h.report[f"{name}.shuffle_bytes"] = st["shuffle_bytes"]

    # suite entries ran alone: attribute their jobs by time window,
    # which also catches jobs submitted from pooled threads
    for s in tr.spans:
        if s.get("window"):
            st = log.summarize(log.jobs_between(s["start"], s["end"]))
            name = s["name"]
            m[f"{name}.shuffle_bytes"] = st["shuffle_bytes"]
            m[f"{name}.spill_bytes"] = st["spill_bytes"]
            m[f"{name}.task_skew"] = st["task_skew"]
            m[f"{name}.jobs"] = st["jobs"]


def warm_suite(h) -> None:
    """Traced runs time a second (warm) pass over the suite entries."""
    names = getattr(h, "suite_names", ())
    if not names:
        return
    import __spark_entry__ as entry

    qs = entry.queries()
    for name in names:
        t0 = time.perf_counter()
        qs[name](h.spark, h.suite_dir).toPandas()
        h.metrics[f"suite.{name}.warm_s"] = time.perf_counter() - t0


def print_report(h, units: dict[str, str]) -> None:
    a = h.args
    print(f"workload={a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace}")
    for k, v in h.report.items():
        print(f"  {k}: {v}")
    print(f"  attempted: {h.ledger.attempted}  failed: {h.ledger.failed}")
    for kind, n in sorted(h.ledger.failures.items()):
        print(f"  failures.{kind}: {n}")
    for k in sorted(h.metrics):
        unit = units.get(k) or ("s" if k.endswith("_s") else "B" if k.endswith("bytes") else "")
        print(f"  {k:40s} {h.metrics[k]:14.6f} {unit}")
