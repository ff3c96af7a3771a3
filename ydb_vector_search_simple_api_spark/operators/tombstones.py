"""Tombstone-based deletion for the persisted index layouts.

The reference's workload is read-only (SURVEY.md §1.3), but a
production vector store needs deletes (right-to-be-forgotten, content
takedowns) without rewriting a multi-TB layout. Standard LSM-ish
pattern, object-store friendly:

* ``delete_ids`` APPENDS the ids to a small ``_tombstones`` parquet
  directory beside the index — no touch of data files.
* every read path anti-joins the tombstone set out of its candidate
  scan (the set is broadcast — deletes are assumed small relative to
  the corpus; a corpus-scale purge should be a rebuild, not a
  tombstone flood).
* compaction (``layout.compact``) folds tombstones into the new
  generation permanently and starts it with an empty set.
* re-upserting a tombstoned id RESURRECTS it: the upsert
  (``layout.append_batch``) replaces the (tiny) tombstone set by the
  set minus the incoming ids before appending, so "latest operation
  wins" holds without per-row versioning.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_DIR = "_tombstones"
_SCHEMA = "id long"


def tombstone_path(index_path: str) -> str:
    return os.path.join(index_path, _DIR)


def has_tombstones(index_path: str) -> bool:
    p = tombstone_path(index_path)
    return os.path.isdir(p) and any(
        f.endswith(".parquet") for f in os.listdir(p)
    )


def load_tombstones(spark: SparkSession, index_path: str) -> DataFrame | None:
    """The distinct tombstoned id set, or None when there is none. The
    set's schema is fixed, so reading it launches no footer-inference
    job while a search plan is built."""
    if not has_tombstones(index_path):
        return None
    return spark.read.schema(_SCHEMA).parquet(tombstone_path(index_path)).distinct()


def delete_ids(spark: SparkSession, index_path: str, ids: DataFrame | list) -> int:
    """Append ids to the tombstone set. ``ids``: a 1-column DataFrame
    (any column name) or a plain list. Returns the number appended."""
    if isinstance(ids, DataFrame):
        df = ids.select(F.col(ids.columns[0]).cast("long").alias("id"))
    else:
        df = spark.createDataFrame([(int(i),) for i in ids], _SCHEMA)
    df = df.distinct()
    n = df.count()
    if n:
        df.write.mode("append").parquet(tombstone_path(index_path))
    return n


def apply_tombstones(
    spark: SparkSession, index_path: str, df: DataFrame, id_col: str = "id"
) -> DataFrame:
    """Anti-join the tombstone set out of a candidate scan (no-op when
    the set is empty). Broadcast: the set is deletes-sized."""
    t = load_tombstones(spark, index_path)
    if t is None:
        return df
    return df.join(F.broadcast(t.withColumnRenamed("id", id_col)), id_col, "left_anti")


def resurrect_ids(
    spark: SparkSession, index_path: str, ids_df: DataFrame, id_col: str = "id"
) -> None:
    """Remove ``ids_df``'s ids from the tombstone set (upsert-wins
    semantics); no-op without one. The remaining set is appended as new
    files first and the old files are then removed by name, so a reader
    only ever sees a superset of the remaining set, a failed write
    leaves the old set in place, and ids a concurrent ``delete_ids``
    appends meanwhile are kept."""
    t = load_tombstones(spark, index_path)
    if t is None:
        return
    root = tombstone_path(index_path)
    old = [f for f in os.listdir(root) if f.endswith((".parquet", ".parquet.crc"))]
    remaining = t.join(
        ids_df.select(F.col(id_col).alias("id")).distinct(), "id", "left_anti"
    )
    rows = remaining.collect()  # deletes-sized by contract
    if rows:
        spark.createDataFrame(rows, t.schema).write.mode("append").parquet(root)
    for name in old:
        os.remove(os.path.join(root, name))


# ------------------------------------------------ generation pointer

_POINTER = "_serving_pointer.json"


def set_serving_generation(root: str, generation_path: str) -> None:
    """Atomically flip which index generation serves: write the
    pointer to a temp file and rename over the old one (rename is
    atomic on POSIX; object stores use their conditional-put
    equivalent). Compaction writes a NEW generation directory in full,
    then this flip makes it live — readers of the old generation are
    never disturbed and a crash between write and rename leaves the
    old pointer intact."""
    import json as _json

    os.makedirs(root, exist_ok=True)
    tmp = os.path.join(root, _POINTER + ".tmp")
    with open(tmp, "w") as f:
        _json.dump({"generation": generation_path}, f)
    os.replace(tmp, os.path.join(root, _POINTER))


def current_generation(root: str) -> str | None:
    """The serving generation path, or None before the first flip."""
    import json as _json

    p = os.path.join(root, _POINTER)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return _json.load(f)["generation"]
