"""Tracing: in-memory spans, Spark job tags, event-log attribution and
process counters.

Spans are recorded only in a traced run and written out when the run
ends. A span's Spark jobs are found through the tag its thread set
with ``spark.addTag`` (serving requests, writer operations) or, for
work that runs alone (the batch suite), through the
span's time window, so that jobs on pooled threads are counted too.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Span recorder. Disabled, every method is a cheap no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self._lock = threading.Lock()
        self._local = threading.local()
        self.spans: list[dict] = []
        self._next = 0

    def _new_id(self) -> int:
        with self._lock:
            self._next += 1
            return self._next

    @contextmanager
    def span(self, name: str, spark=None, tag: str | None = None, **attrs):
        """Record ``name`` around the block. With ``spark`` and ``tag``,
        the thread's Spark jobs carry the tag for the block's duration."""
        if not self.enabled:
            yield None
            return
        parent = getattr(self._local, "current", None)
        sid = self._new_id()
        rec = {
            "id": sid,
            "parent": parent["id"] if parent else None,
            "root": parent["root"] if parent else sid,
            "name": name,
            "tag": tag,
            **attrs,
        }
        self._local.current = rec
        if spark is not None and tag:
            spark.addTag(tag)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            if spark is not None and tag:
                spark.removeTag(tag)
            self._local.current = parent
            with self._lock:
                self.spans.append(rec)

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ------------------------------------------------------------ event log


def _task_row(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    info = ev["Task Info"]
    dur = info["Finish Time"] - info["Launch Time"]
    run = m.get("Executor Run Time", 0)
    inp = m.get("Input Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    return {
        "stage": ev["Stage ID"],
        "run_ms": run,
        "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
        "gc_ms": m.get("JVM GC Time", 0),
        "input_bytes": inp.get("Bytes Read", 0),
        "records_read": inp.get("Records Read", 0),
        "shuffle_bytes": sw.get("Shuffle Bytes Written", 0)
        + sr.get("Remote Bytes Read", 0)
        + sr.get("Local Bytes Read", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "sched_ms": max(
            dur
            - run
            - m.get("Executor Deserialize Time", 0)
            - m.get("Result Serialization Time", 0),
            0,
        ),
    }


class EventLog:
    """Jobs and tasks of one uncompressed, non-rolling Spark event log."""

    def __init__(self, log_dir: str):
        files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks_by_stage: dict[int, list[dict]] = defaultdict(list)
        for path in files:
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        tags = props.get("spark.job.tags", "")
                        self.jobs[ev["Job ID"]] = {
                            "submit": ev["Submission Time"] / 1000.0,
                            "tags": [t for t in tags.split(",") if t],
                        }
                        for sid in ev.get("Stage IDs", []):
                            self.stage_job[sid] = ev["Job ID"]
                    elif kind == "SparkListenerTaskEnd":
                        row = _task_row(ev)
                        self.tasks_by_stage[row["stage"]].append(row)
        self.tasks_by_job: dict[int, list[dict]] = defaultdict(list)
        for sid, rows in self.tasks_by_stage.items():
            if sid in self.stage_job:
                self.tasks_by_job[self.stage_job[sid]].extend(rows)

    def jobs_tagged(self, tag: str) -> list[int]:
        """Jobs whose tags end with ``tag`` (Spark prefixes the session
        and thread to a user tag)."""
        pat = re.compile(r"(^|-)" + re.escape(tag) + r"$")
        return [j for j, info in self.jobs.items() if any(pat.search(t) for t in info["tags"])]

    def jobs_between(self, start: float, end: float) -> list[int]:
        return [j for j, info in self.jobs.items() if start <= info["submit"] <= end]

    def summarize(self, jobs: list[int]) -> dict:
        tasks = [t for j in jobs for t in self.tasks_by_job.get(j, [])]
        out = {"jobs": len(jobs), "tasks": len(tasks)}
        for key in (
            "run_ms",
            "cpu_ms",
            "gc_ms",
            "input_bytes",
            "records_read",
            "shuffle_bytes",
            "spill_bytes",
            "sched_ms",
        ):
            out[key] = float(sum(t[key] for t in tasks))
        runs = sorted(t["run_ms"] for t in tasks)
        out["task_skew"] = (
            runs[-1] / max(statistics.median(runs), 1.0) if runs else 1.0
        )
        return out


# ------------------------------------------------------------ process


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of this process plus the driver JVM's (each
    process's own high-water mark, summed). ``spark-submit`` and
    ``spark-class`` exec java, so the gateway's child is the JVM."""
    kb = _status_kb(os.getpid(), "VmHWM")
    kb += _status_kb(spark.sparkContext._gateway.proc.pid, "VmHWM")
    return kb / 1024.0


def jvm_gc_ms(spark) -> float:
    """Cumulative GC time of the driver JVM, which in local mode is also
    the executor."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return float(sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()))
