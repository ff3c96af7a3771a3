"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_ivf --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from the seed, drives the package's
public surface, checks every output, prints a report and, as its last
line, one JSON object with the end-to-end metrics (``--trace 0``) or
the per-layer metrics (``--trace 1``). See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "ydb_vector_search_simple_api_spark"

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "search_qps": "req/s",
    "search_p50_ms": "ms",
    "search_tail_ms": "ms",
    "recall_at_10": "ratio",
    "index_bytes_per_vector": "B",
}
PER_LAYER = {
    "http.overhead_ms": "ms",
    "api.search_df_ms": "ms",
    "spark.collect_ms": "ms",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.rows_read_per_result": "rows",
    "spark.input_bytes": "B",
    "spark.jobs_per_req": "count",
    "spark.tasks_per_req": "count",
    "spark.sched_delay_ms": "ms",
    "index.build_s": "s",
    "index.files_per_cluster": "count",
    "tombstones.rows": "count",
    "host.calib_s": "s",
}
#: Printed in the report of the workloads they apply to.
EXTRA_UNITS = {
    "error_rate": "ratio",
    "upsert_rows_per_s": "rows/s",
    "index.upsert_s": "s",
    "tombstones.delete_s": "s",
    "index.compact_s": "s",
    "batch_queries_per_s": "q/s",
    "suite_s": "s",
}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, for the tests")
    return p.parse_args(argv)


def _isolate(run_dir: str) -> None:
    """Private temp and Spark local dirs for this run: the package keys
    its persisted ``svs_*`` artifacts by ``tempfile.gettempdir()``, so a
    shared temp dir would let one run reuse another's indexes."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # every JVM the run starts (the launcher too): temp files here, and
    # no hsperfdata files under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = tmp
    # Python workers (mapInPandas, pandas UDFs) import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path[:0] = [ROOT]


def calibrate(spark) -> float:
    """The host-speed fold of ``bench.py``: xxhash64 over 200M rows."""
    from pyspark.sql import functions as F

    def fold(n):
        spark.range(n).select(
            F.sum(F.pmod(F.xxhash64("id"), F.lit(1_000_000))).alias("s")
        ).collect()

    fold(2_000_000)
    t0 = time.perf_counter()
    fold(200_000_000)
    return time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session, then close the JVM's stdin pipe (its signal to
    exit) and wait until it has exited."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    if gateway.proc is not None:
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: package {PACKAGE} not found beside perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import gen
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    import check
    import layers
    import spans

    run_dir = os.path.join(
        ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    _isolate(run_dir)
    tracer = spans.Tracer(bool(args.trace))
    h = workloads.Harness(args, gen.SMOKE if args.smoke else gen.Sizes(), run_dir,
                          tracer, check.Ledger(), T0)
    try:
        inp = gen.generate(args.workload, args.seed, h.sizes)
        h.report["fingerprint"] = gen.fingerprint(inp)
        event_dir = os.path.join(run_dir, "events") if args.trace else None
        spark = h.start_spark(event_dir)
        workloads.WORKLOADS[args.workload](h, inp, os.path.join(run_dir, "store"))
        if args.trace:
            layers.warm_suite(h)
        h.metrics["host.calib_s"] = calibrate(spark)
        h.metrics["peak_rss_mb"] = spans.peak_rss_mb(spark)
        h.mark("calib")
        h.spark = None
        stop_spark(spark)
        h.mark("stop")
        if args.trace:
            layers.attribute(h, spans.EventLog(event_dir))
            tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"))
    finally:
        if h.spark is not None:
            stop_spark(h.spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    m = h.metrics
    m["error_rate"] = h.ledger.error_rate
    names = PER_LAYER if args.trace else END_TO_END
    e2e_path = os.path.join(
        out_dir, f"e2e-{args.workload}-{args.seed}{'-smoke' if args.smoke else ''}.json"
    )
    if not args.trace:
        with open(e2e_path, "w") as f:
            json.dump({k: m[k] for k in END_TO_END}, f)
    elif os.path.exists(e2e_path):
        with open(e2e_path) as f:
            base = json.load(f)
        h.report["tracing_overhead"] = {
            k: f"{100.0 * (m[k] - v) / v:+.1f}%" for k, v in base.items() if k in m and v
        }
    layers.print_report(h, {**END_TO_END, **PER_LAYER, **EXTRA_UNITS})
    result = {
        "correct": h.ledger.failed == 0,
        "attempted": h.ledger.attempted,
        "failed": h.ledger.failed,
        "metrics": {k: {"value": m[k], "unit": u} for k, u in names.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
