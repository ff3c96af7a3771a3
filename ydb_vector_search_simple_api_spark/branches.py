"""Independent Spark branches, run concurrently from threads so each
branch's tasks back-fill the executor slots the others leave idle.

Each branch runs on a ``pyspark.InheritableThread`` (its jobs keep the
caller's job group, scheduler pool and tags) and tags its jobs with its
name. The first branch to fail cancels its siblings by SparkContext
job tag: classic Spark scopes ``spark.addTag`` session tags to the
adding thread, so ``spark.interruptTag`` from the caller cannot reach
them.
"""

from __future__ import annotations

import queue
import uuid
from collections.abc import Callable
from typing import Any

from pyspark import InheritableThread
from pyspark.sql import SparkSession


def run_branches(
    spark: SparkSession, branches: dict[str, Callable[[], Any]]
) -> dict[str, Any]:
    """``{name: thunk()}`` for every branch, computed concurrently.
    Names have the form ``<caller>/<branch>``. If a branch raises, its
    unfinished siblings are cancelled and waited for, and its exception
    is raised."""
    sc = spark.sparkContext
    # one tag per call, so a cancel never reaches another call's jobs
    call = f"run-branches-{uuid.uuid4().hex}"
    finished: queue.Queue = queue.Queue()

    def run(name: str, thunk: Callable[[], Any]) -> None:
        sc.addJobTag(name)
        sc.addJobTag(call)
        sc.setJobDescription(name)
        try:
            finished.put((name, None, thunk()))
        except BaseException as e:
            finished.put((name, e, None))

    threads = [InheritableThread(run, args=b, session=spark, daemon=True)
               for b in branches.items()]
    for t in threads:
        t.start()
    results = {}
    try:
        for _ in threads:
            name, error, value = finished.get()
            if error is not None:
                raise error
            results[name] = value
    except BaseException:
        # a sibling between two jobs has nothing active to cancel, so
        # repeat the cancel until every branch has exited
        for t in threads:
            while t.is_alive():
                sc.cancelJobsWithTag(call)
                t.join(0.1)
        raise
    return {name: results[name] for name in branches}
