from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import SparkSession

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # warehouse dir is a static conf (needed by bucketed-table tests);
    # keep metastore artifacts out of the repo tree
    warehouse = tempfile.mkdtemp(prefix="svs_warehouse_")
    s = (
        SparkSession.builder.master("local[4]")
        .appName("svs-tests")
        .config("spark.sql.warehouse.dir", warehouse)
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SVS_TEST_DRIVER_MEM", "4g"))
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("WARN")
    yield s
    s.stop()


def spark_jobs(spark, fn):
    """Run ``fn()`` under a fresh job group; return (its result, the
    number of Spark jobs it launched). The status tracker is fed by the
    listener bus, so the bus is drained before counting."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
