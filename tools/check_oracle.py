"""Local replica of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB over
the same parquet, compare row-count + column names + sorted values.

Mimics the driver faithfully where it bit us in round 1:
* canonicalization goes through PANDAS (``toPandas`` / ``.df()``) and
  ``sort_values`` over all columns — array-typed cells raise the same
  ``TypeError: unhashable type`` the driver raised;
* cell canon is dtype-sensitive — int64 ``269`` != float64 ``269.0``
  (the DuckDB HUGEINT->float64 trap);
* only the FIRST 50 entries get checked by the driver: entries past
  the cap are printed with an ``[UNCHECKED BY DRIVER]`` tag.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime
import math
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from ydb_vector_search_simple_api_spark.sources.store import TABLES

DRIVER_CAP = 50


def duck_connection(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon_cell(v):
    if hasattr(v, "item"):  # numpy scalar -> python, keeps int/float split
        v = v.item()
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        return v.isoformat()
    return repr(v)


def canon(pdf: pd.DataFrame):
    """Driver-style canonical form: columns sorted by name, rows sorted
    by all columns (raises on unsortable cells — intentionally), then
    dtype-sensitive per-cell canon strings."""
    pdf = pdf[sorted(pdf.columns)]
    if len(pdf):
        pdf = pdf.sort_values(list(pdf.columns), kind="mergesort").reset_index(
            drop=True
        )
    return [tuple(_canon_cell(c) for c in row) for row in pdf.itertuples(index=False)]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("check-oracle")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connection(sf_dir)

    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    orphans = set(os_) - set(qs)
    if orphans:
        print(f"WARNING: oracle_sql keys without queries(): {sorted(orphans)}")
    failures = 0
    for pos, (name, fn) in enumerate(qs.items(), start=1):
        if only and name not in only:
            continue
        tag = "" if pos <= DRIVER_CAP else "  [UNCHECKED BY DRIVER]"
        if pos <= DRIVER_CAP and name not in os_:
            tag = "  [rows-only inside cap]"
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
        except Exception as exc:
            print(f"  #{pos:2d} {name:32s} SPARK-ERROR {type(exc).__name__}: {exc}")
            failures += 1
            continue
        if name not in os_:
            # driver records spark_rows with err=no_oracle — but its
            # canonicalizer still must not crash on the result shape
            try:
                canon(spdf)
                shape_ok = "canon-ok"
            except Exception as exc:
                shape_ok = f"CANON-FAIL {type(exc).__name__}"
                failures += 1
            print(f"  #{pos:2d} {name:32s} rows-only: {len(spdf)} rows  {shape_ok}{tag}")
            continue
        dpdf = con.execute(os_[name]).df()
        ok_cols = sorted(spdf.columns) == sorted(dpdf.columns)
        try:
            sn, dn = canon(spdf), canon(dpdf)
        except Exception as exc:
            print(f"  #{pos:2d} {name:32s} CANON-FAIL {type(exc).__name__}: {exc}{tag}")
            failures += 1
            continue
        ok_vals = sn == dn
        status = "OK " if (ok_cols and ok_vals) else "FAIL"
        print(
            f"  #{pos:2d} {name:32s} {status} spark={len(spdf)} duck={len(dpdf)} "
            f"cols_match={ok_cols} vals_match={ok_vals}{tag}"
        )
        if not (ok_cols and ok_vals):
            failures += 1
            if not ok_cols:
                print(f"    spark cols: {list(spdf.columns)}\n    duck  cols: {list(dpdf.columns)}")
            for a, b in list(zip(sn, dn))[:200]:
                if a != b:
                    print(f"    spark: {a}\n    duck : {b}")
                    break
            extra_s = [r for r in sn if r not in dn][:3]
            extra_d = [r for r in dn if r not in sn][:3]
            if extra_s:
                print(f"    only-in-spark: {extra_s}")
            if extra_d:
                print(f"    only-in-duck : {extra_d}")
    n = len(qs)
    n_oracle_past_cap = sum(
        1 for pos, name in enumerate(qs, start=1) if pos > DRIVER_CAP and name in os_
    )
    print(f"TOTAL ENTRIES: {n} (driver checks first {DRIVER_CAP})")
    if n_oracle_past_cap:
        print(
            f"NOTE: {n_oracle_past_cap} oracle-backed entries past the cap "
            "(documented overflow — each has an in-cap sibling; validated "
            "here, unchecked by the driver)"
        )
    print("FAILURES:", failures)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
