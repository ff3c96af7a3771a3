"""Concurrent Spark branches: the caller's job properties reach every
branch, each branch's jobs carry its name, and a failing branch
cancels its siblings."""

from __future__ import annotations

import re
import time
import uuid
from pathlib import Path

import pytest

from ydb_vector_search_simple_api_spark.branches import run_branches
from ydb_vector_search_simple_api_spark.operators import blocking

from conftest import spark_jobs

ROOT = Path(__file__).resolve().parents[1]


def test_failing_branch_cancels_its_sibling(spark):
    """The sibling runs 20 one-second jobs back to back, so a cancel
    can land between two of its jobs as well as inside one."""

    def sleepy(it):
        for pdf in it:
            time.sleep(1)
            yield pdf

    def sibling():
        for _ in range(20):
            spark.range(1, numPartitions=1).mapInPandas(sleepy, "id long").collect()

    def failing():
        spark.range(4).collect()
        raise ValueError("branch failed")

    start = time.monotonic()
    with pytest.raises(ValueError, match="branch failed"):
        run_branches(spark, {"test/failing": failing, "test/sibling": sibling})
    assert time.monotonic() - start < 10
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getActiveJobsIds()) == []


def test_branches_keep_the_callers_job_group(spark):
    """The pooled two-pass SNM launches at least the jobs of one pass
    inside the caller's job group."""
    tail = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(1, "a" + tail), (2, "z" + tail)]
    rows += [(10 + i, f"{chr(ord('b') + i)} filler document number {i} "
                      f"with its own unrelated content entirely")
             for i in range(12)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    _, one = spark_jobs(
        spark, lambda: blocking.sorted_neighborhood_pairs(df, window=4)
    )
    _, two = spark_jobs(
        spark, lambda: blocking.sorted_neighborhood_multi_key(df, window=4)
    )
    assert one > 0
    assert two >= one


def test_branch_jobs_carry_the_branch_name(spark):
    sc = spark.sparkContext
    group = f"tags-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = run_branches(spark, {
            "test/one": lambda: spark.range(3).count(),
            "test/two": lambda: spark.range(5).count() + spark.range(7).count(),
        })
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert out == {"test/one": 3, "test/two": 12}
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    named = [
        {"test/one", "test/two"} & set(store.job(j).jobTags().mkString(",").split(","))
        for j in sc.statusTracker().getJobIdsForGroup(group)
    ]
    assert all(len(names) == 1 for names in named)
    assert set().union(*named) == {"test/one", "test/two"}


def test_branches_run_only_through_the_branches_module():
    """No module but ``branches.py`` starts its own Spark thread pool
    or sets a job description: the branch policy lives in one place."""
    pool = re.compile(r"concurrent\.futures|ThreadPoolExecutor|setJobDescription")
    package = ROOT / "ydb_vector_search_simple_api_spark"
    files = [ROOT / "__spark_entry__.py", *package.rglob("*.py")]
    offenders = [
        f"{p.relative_to(ROOT)}:{i}"
        for p in files
        if p.name != "branches.py"
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if pool.search(line)
    ]
    assert offenders == []
