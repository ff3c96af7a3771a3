"""The maintenance half of the index layouts: one append, one
generation rewrite and one metadata writer for the IVF, k-means tree,
PQ, SQ8 and BQ layouts (the k-NN graph shares the append's
materialise-and-check step and keeps its own linking).

The reference never maintains an index itself: YDB keeps its
``vector_kmeans_tree`` fresh as rows arrive. The Spark counterpart is
"append, then compact into a new generation", written once here:

* :func:`append_batch` — every upsert. It projects ``(id, embedding)``,
  runs the layout's per-batch kernel (route, encode, or both), persists
  the result once and takes, in one aggregate job, the row count, the
  per-partition stats and the number of rows whose vector length is not
  the index dim. A batch with such a row raises before anything is
  written; otherwise re-inserted ids are resurrected from the tombstone
  set and the rows are appended with ``partitionBy`` on the layout's
  keys. Every upsert returns the same stats dict.
* :func:`compact` — every generation rewrite. It reads the layout,
  folds the tombstones, optionally keeps one row per id, and writes one
  file per partition directory (a flat table is one directory, so one
  file) into a new generation, then its metadata.
* :func:`nearest` — the one nearest-centroid routing (L2), used by the
  IVF, both tree levels and the IVF-composed code layouts.

A layout class supplies ``meta_file``, ``layout_dir``,
``partition_cols``, ``n_partitions`` (the rewrite's shuffle width, None
for Spark's) and ``rows(spark)``; a code layout also ``code_fields`` and
``encode(E)`` (:class:`CodeLayout`).
"""

from __future__ import annotations

import dataclasses
import json
import os
from collections.abc import Callable, Sequence
from typing import ClassVar

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import tombstones


def nearest(centroids: np.ndarray, E: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """The nearest centroid of each row of ``E`` by L2, ties to the
    lower index: (int32 indexes, float64 distances). The KMeans build
    objective, so an appended row lands where a rebuild would put it."""
    idx = np.empty(len(E), dtype=np.int32)
    dist = np.empty(len(E))
    for i, q in enumerate(E):
        d2 = ((centroids - q) ** 2).sum(axis=1)
        idx[i] = j = int(d2.argmin())
        dist[i] = np.sqrt(d2[j])
    return idx, dist


def _jsonable(v):
    if isinstance(v, np.ndarray):
        return v.tolist()
    if isinstance(v, (list, tuple)):
        return [_jsonable(x) for x in v]
    if isinstance(v, T.StructType):
        return json.loads(v.json())
    return v


def write_meta(index) -> None:
    """Write every field of ``index`` but its path into the metadata
    file of its generation (``index.meta_file`` under ``index.path``)."""
    meta = {
        f.name: _jsonable(getattr(index, f.name))
        for f in dataclasses.fields(index)
        if f.name != "path"
    }
    os.makedirs(index.path, exist_ok=True)
    with open(os.path.join(index.path, index.meta_file), "w") as f:
        json.dump(meta, f)


def count_appended(index, n: int) -> None:
    """Add ``n`` to the ``n_rows`` of the metadata file on disk (SQ8,
    BQ, graph), so an upsert through a stale handle still counts every
    row appended before it."""
    path = os.path.join(index.path, index.meta_file)
    with open(path) as f:
        meta = json.load(f)
    meta["n_rows"] += n
    with open(path, "w") as f:
        json.dump(meta, f)


class CodeLayout:
    """The maintenance protocol of a code layout (PQ, SQ8, BQ): its rows
    live under ``layout_dir`` (``path`` itself, or its ``subdir``), flat
    or hive-partitioned by ``partition_col`` (the IVF ``cluster_id`` of
    a composed layout)."""

    subdir: ClassVar[str] = ""

    @property
    def layout_dir(self) -> str:
        return os.path.join(self.path, self.subdir) if self.subdir else self.path

    @property
    def partition_cols(self) -> tuple[str, ...]:
        return (self.partition_col,) if self.partition_col else ()

    @property
    def n_partitions(self) -> int | None:
        return None if self.partition_col else 1

    def rows(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.layout_dir)


def encode_rows(df: DataFrame, codes, extra_cols: Sequence[str] = ()) -> DataFrame:
    """``(id, <codes.code_fields>, extras)`` of the ``(id, embedding)``
    rows of ``df``: ``codes.encode`` (a code layout, or its class when
    the encoder has no trained state) once per Arrow batch, the build's
    encode pass. ``extra_cols`` ride along (the ``cluster_id`` of an
    IVF-composed layout)."""
    import pandas as pd

    schema = T.StructType(
        [T.StructField("id", df.schema["id"].dataType), *codes.code_fields]
        + [df.schema[c] for c in extra_cols]
    )

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            out = codes.encode(np.array(pdf["embedding"].tolist(), dtype=np.float64))
            out["id"] = pdf["id"].to_numpy()
            for c in extra_cols:
                out[c] = pdf[c].to_numpy()
            yield pd.DataFrame(out)

    return df.select("id", "embedding", *extra_cols).mapInPandas(run, schema)


def append_rows(df: DataFrame, layout_dir: str, keys: Sequence[str] = ()) -> None:
    """The one append into a layout's directory."""
    df.write.mode("append").partitionBy(*keys).parquet(layout_dir)


def _kernel_udf(kernel: Callable, fields: Sequence[T.StructField], dim: int):
    """``kernel`` (an ``(n, dim)`` float64 matrix -> {column: values})
    as a scalar Arrow UDF over the embedding column, returning the
    struct of ``fields`` plus ``d``, the assignment distance (NULL when
    the kernel routes nothing)."""
    import pandas as pd

    out_type = T.StructType([*fields, T.StructField("d", T.DoubleType())])
    names = out_type.fieldNames()

    def run(vecs):
        n = len(vecs)
        if not n or not all(v is not None and len(v) == dim for v in vecs):
            # a batch with a wrong-dimension row is rejected before any
            # write: its outputs are never read
            return pd.DataFrame({c: [None] * n for c in names})
        cols = kernel(np.array(vecs.tolist(), dtype=np.float64).reshape(n, dim))
        return pd.DataFrame({c: cols.get(c) for c in names})

    return F.pandas_udf(run, out_type)


def append_batch(
    spark: SparkSession,
    index,
    new_df: DataFrame,
    kernel: Callable | None = None,
    fields: Sequence[T.StructField] = (),
    keep_vectors: bool = True,
    write: Callable[[DataFrame], None] | None = None,
) -> dict:
    """Append the ``(id, embedding)`` rows of ``new_df`` to ``index``.

    1. Project ``(id, embedding)``, flagging rows whose vector length
       is not ``index.dim``.
    2. Run ``kernel`` per Arrow batch: its ``fields`` (the partition
       keys a router assigns, the codes an encoder writes) and ``d``,
       the distance to the assigned centroid. ``keep_vectors`` keeps
       the embedding beside them (the vector layouts).
    3. Persist the result, so the stats, the resurrection and the write
       see one evaluation of a non-deterministic source.
    4. One aggregate job over ``index.partition_cols``: rows, the
       largest ``d`` and the wrong-dimension rows per partition.
    5. Raise ``ValueError`` if a row has the wrong dimension (codes or
       vectors of another length would score NULL in every later
       search); nothing is written.
    6. Resurrect the batch's tombstoned ids (upsert wins) and append the
       rows with ``partitionBy`` on the layout's keys into
       ``index.layout_dir``, or hand them to ``write``.

    Returns {"n_appended", "per_partition" (partition key tuple -> rows;
    a flat layout's key is ``()``), "max_assign_l2"}. The centroids and
    codebooks stay frozen; ``max_assign_l2`` is the drift a rebuild
    trigger watches."""
    keys = list(index.partition_cols)
    rows = new_df.selectExpr(
        "id", "embedding", f"coalesce(size(embedding) = {index.dim}, false) AS dim_ok"
    )
    if kernel is None:
        rows = rows.withColumn("d", F.lit(None).cast("double"))
    else:
        vec = ["embedding"] if keep_vectors else []
        rows = rows.withColumn(
            "_k", _kernel_udf(kernel, fields, index.dim)(F.col("embedding"))
        ).select("id", *vec, "_k.*", "dim_ok")
    rows.persist()
    try:
        stats = (
            # one task aggregates the persisted rows: no exchange, so
            # the stats cost no job beyond the persist's materialization
            rows.coalesce(1)
            .groupBy(*keys)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.max("d").alias("max_d"),
                F.count_if(~F.col("dim_ok")).alias("n_bad"),
            )
            .collect()
        )
        n_bad = sum(r.n_bad for r in stats)
        if n_bad:
            raise ValueError(
                f"upsert batch holds {n_bad} vector(s) whose length is not "
                f"the index dim {index.dim}"
            )
        n = sum(r.n for r in stats)
        if n:
            tombstones.resurrect_ids(spark, index.path, rows)
            out = rows.drop("d", "dim_ok")
            if write is None:
                append_rows(out, index.layout_dir, keys)
            else:
                write(out)
    finally:
        rows.unpersist()
    return {
        "n_appended": n,
        "per_partition": {tuple(r[k] for k in keys): r.n for r in stats},
        "max_assign_l2": max(
            (float(r.max_d) for r in stats if r.max_d is not None), default=0.0
        ),
    }


def codes_upsert(spark: SparkSession, index: CodeLayout, new_df: DataFrame, ivf_index=None) -> dict:
    """The one upsert of the code layouts (PQ, SQ8, BQ): encode the
    ``(id, embedding)`` batch with the layout's frozen state (PQ
    codebooks; SQ8 and BQ have none) and append it through
    :func:`append_batch`.

    An IVF-composed layout is partitioned by the IVF ``cluster_id``: it
    takes the ``ivf_index`` it was built from, whose centroids route
    each row (:func:`nearest`, the ``ivf_upsert`` assignment), so the
    new codes land in their cluster's directory. A flat layout takes no
    ``ivf_index``. SQ8 and BQ count the appended rows in their metadata;
    load the index again for its new ``n_rows``."""
    if (index.partition_col is None) != (ivf_index is None):
        raise ValueError(
            "an IVF-partitioned codes layout is upserted with the ivf_index= "
            "it was built from, and a flat one without"
        )
    fields = list(index.code_fields)
    cents = None
    if ivf_index is not None:
        fields.append(T.StructField(index.partition_col, T.IntegerType()))
        cents = ivf_index.centroids

    def kernel(E):
        cols = index.encode(E)
        if cents is not None:
            cols[index.partition_col], cols["d"] = nearest(cents, E)
        return cols

    stats = append_batch(spark, index, new_df, kernel, fields, keep_vectors=False)
    if hasattr(index, "n_rows"):
        count_appended(index, stats["n_appended"])
    return stats


def compact(spark: SparkSession, index, out_dir: str, dedup_ids: bool = False):
    """The one generation rewrite of the IVF, tree, PQ, SQ8 and BQ
    layouts: read the layout, fold its tombstones, keep one row per id
    with ``dedup_ids`` (replayed stream batches re-append rows; this
    costs a second exchange, keyed on id, so versions of one id routed
    to different partitions collapse too), and write one file per
    partition directory into ``out_dir`` — the rows are hash-partitioned
    on the layout's keys, so each directory's rows meet in one task; a
    flat table is one directory and one file. Centroids and codebooks
    are carried over in the metadata.

    Generations are immutable: the new directory is written in full and
    serving then flips its pointer (``tombstones.set_serving_generation``),
    so readers of the old generation are never disturbed. Returns the
    new generation's index."""
    keys = list(index.partition_cols)
    src = index.rows(spark)
    df = tombstones.apply_tombstones(spark, index.path, src)
    if dedup_ids:
        df = df.dropDuplicates(["id"])
    n = index.n_partitions
    shaped = df.repartition(n, *keys) if n else df.repartition(*keys)
    new = dataclasses.replace(index, path=out_dir)
    shaped.write.mode("overwrite").partitionBy(*keys).parquet(new.layout_dir)
    if hasattr(index, "schema"):  # the vector layouts store their schema
        new = dataclasses.replace(new, schema=src.schema)
    if hasattr(index, "n_rows"):
        new = dataclasses.replace(new, n_rows=spark.read.parquet(new.layout_dir).count())
    write_meta(new)
    return new
