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


def py4j_commands(spark, fn):
    """Run ``fn()``; return (its result, the number of py4j commands
    the calling thread sent to the JVM). The cyclic collector is off
    while counting, so proxy deletes it would schedule do not land in
    the count; deletes that py4j's finalizer thread sends are not the
    caller's and are not counted."""
    import gc
    import threading

    client = spark.sparkContext._gateway._gateway_client
    caller = threading.get_ident()
    send = client.send_command
    n = 0

    def counting(*args, **kwargs):
        nonlocal n
        if threading.get_ident() == caller:
            n += 1
        return send(*args, **kwargs)

    was_enabled = gc.isenabled()
    gc.disable()
    client.send_command = counting
    try:
        out = fn()
    finally:
        del client.send_command
        if was_enabled:
            gc.enable()
    return out, n
