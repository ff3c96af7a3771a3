"""Sources: the 5-column vector store and the raw testdata tables.

The reference reads exactly one row table (``FROM {YDB_TABLE}``,
``/root/reference/app.py:223``). Here the store is Parquet-backed
(columnar at rest — an upgrade, not a semantic change, SURVEY.md §1.4)
and the 5-column logical shape (id/title/vendor/description/embedding)
is reconstructed from the driver testdata ``documents`` +
``embeddings`` tables joined 1:1 on id.

Scale note: ``load_embeddings`` / ``load_documents`` return raw scans
so callers can defer/elide the join — the hot vector-search path scores
the narrow ``embeddings`` table only and attaches metadata AFTER top-k
(:func:`doc_metadata`, a driver-side point read of the k ids), rather
than dragging text columns through the scan. See ``operators/search.py``.
"""

from __future__ import annotations

import bisect
import functools
import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..artifacts import listing, persisted
from ..config import ColumnMap

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


#: (applicationId, path, file listing) -> scan DataFrame.
#: ``spark.read.parquet`` re-lists the directory and re-reads footers
#: on EVERY call (~0.3 s for the embeddings table) — measurable driver
#: latency on a serving path that builds a fresh query plan per
#: request. The analyzed scan relation is reusable for as long as the
#: table's files are unchanged; the listing (one ``stat`` for a
#: single-file table) keys a table rewritten in place to a fresh scan.
#: Plans derived from it are still built fresh per query.
_SCAN_CACHE: dict[tuple, DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = table_path(sf_dir, name)
    key = (spark.sparkContext.applicationId, path, tuple(listing(path)))
    df = _SCAN_CACHE.get(key)
    if df is None:
        df = spark.read.parquet(path)
        _SCAN_CACHE[key] = df
    return df


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def load_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events table with ``ts`` normalized to TIMESTAMP_NTZ.

    Ingest normalization tolerates both testdata layouts seen across
    driver rounds: TIMESTAMP(MICROS) parquet (read natively as
    TIMESTAMP_NTZ) and TIMESTAMP(NANOS) (which Spark's reader rejects
    unless ``nanosAsLong`` maps it to raw int64 nanos; we then truncate
    ns -> us). NTZ is the canonical engine type for event time: it is
    session-timezone-independent and identical to the naive timestamps
    the DuckDB oracles operate on. Session tz is pinned to UTC so the
    few epoch-math expressions (``unix_timestamp``) are deterministic
    regardless of host configuration."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = load_table(spark, sf_dir, "events")
    ts_type = dict(df.dtypes)["ts"]
    if ts_type in ("bigint", "long"):
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    elif ts_type != "timestamp_ntz":
        # a TIMESTAMP(MICROS) with isAdjustedToUTC=true loads as
        # TIMESTAMP_LTZ; cast explicitly so the NTZ output contract
        # holds by construction, not via the UTC session-tz pin
        df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return df


def load_store_df(
    spark: SparkSession, sf_dir: str, columns: ColumnMap | None = None
) -> DataFrame:
    """The reference's store table shape (SURVEY.md §1.1): 5 logical
    columns id/title/vendor/description/embedding, physical names
    remapped per ``ColumnMap`` (reference app.py:47-51)."""
    m = columns or ColumnMap()
    docs = load_documents(spark, sf_dir)
    embs = load_embeddings(spark, sf_dir)
    joined = docs.join(embs, docs["doc_id"] == embs["vec_id"], "inner")
    return joined.select(
        F.col(m.id).alias("id"),
        F.col(m.title).alias("title"),
        F.col(m.vendor).alias("vendor"),
        F.col(m.description).alias("description"),
        F.col(m.embedding).alias("embedding"),
    )


#: the metadata columns a result row carries, under the reference's names
META_COLUMNS = ("id", "title", "vendor", "description")
#: rows per row group of the id-clustered metadata copy: a lookup reads
#: whole row groups, about one per requested id
META_ROW_GROUP_ROWS = 1024


def _write_doc_metadata(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...], out: str
) -> None:
    """The metadata columns of ``documents``, renamed from the physical
    ``names`` to :data:`META_COLUMNS`, range-partitioned and sorted by
    id in row groups of at most :data:`META_ROW_GROUP_ROWS` rows, so the
    id statistics of the row groups bound disjoint id ranges."""
    (
        load_documents(spark, sf_dir)
        .selectExpr(*(f"`{c}` AS `{n}`" for c, n in zip(names, META_COLUMNS)))
        .repartitionByRange("id")
        .sortWithinPartitions("id")
        .write.option("parquet.block.row.count.limit", META_ROW_GROUP_ROWS)
        .parquet(out)
    )


class _MetaLayout:
    """The row groups of one metadata copy by id range, from the part
    files' footers, read once."""

    def __init__(self, path: str):
        import pyarrow.parquet as pq

        self.files = []  # (part file, its footer)
        ranges = []  # (min id, max id, file index, row group)
        self.unbounded = []  # (file index, row group) without id statistics
        for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
            md = pq.read_metadata(f)
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(0).statistics
                if st is not None and st.has_min_max:
                    ranges.append((st.min, st.max, len(self.files), g))
                else:
                    self.unbounded.append((len(self.files), g))
            self.files.append((f, md))
        ranges.sort()
        self.lo = [r[0] for r in ranges]
        self.hi = [r[1] for r in ranges]
        self.at = [r[2:] for r in ranges]

    def lookup(self, ids: list) -> dict:
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        groups = set(self.unbounded)
        for i in ids:
            # the ranges are sorted and disjoint, except where one id's
            # rows span a row-group boundary
            j = bisect.bisect_right(self.lo, i) - 1
            while j >= 0 and self.hi[j] >= i:
                groups.add(self.at[j])
                j -= 1
        by_file: dict[int, list[int]] = {}
        for fi, g in sorted(groups):
            by_file.setdefault(fi, []).append(g)
        out: dict = {}
        for fi, gs in by_file.items():
            f, md = self.files[fi]
            with pq.ParquetFile(f, metadata=md) as pf:
                t = pf.read_row_groups(gs, columns=list(META_COLUMNS))
            t = t.filter(pc.is_in(t["id"], pa.array(ids, t.schema.field("id").type)))
            for row in zip(*(t[c].to_pylist() for c in META_COLUMNS)):
                out.setdefault(row[0], []).append(row[1:])
        return out


#: (documents path, physical column names) -> (artifact path, layout):
#: one live layout per table and column map
_META: dict[tuple, tuple[str, _MetaLayout]] = {}


def doc_metadata(
    spark: SparkSession, sf_dir: str, columns: ColumnMap | None, ids
) -> dict:
    """``{id: [(title, vendor, description), ...]}`` for the ``ids``
    that have ``documents`` rows: one tuple per row, so an id without a
    row is absent and an id with two rows has two tuples.

    Reads an id-clustered copy of the four metadata columns (physical
    names per ``columns``), built by Spark on the first lookup through
    :func:`~..artifacts.persisted` and keyed by the ``documents``
    listing, so a rewritten table gets a new copy. A lookup runs on the
    driver and reads only the row groups whose id range holds a
    requested id; it launches no Spark job once the copy exists."""
    ids = sorted({i for i in ids if i is not None})
    if not ids:
        return {}
    m = columns or ColumnMap()
    names = (m.id, m.title, m.vendor, m.description)
    docs = table_path(sf_dir, "documents")
    slot = (docs, names)

    def load(path: str) -> _MetaLayout:
        hit = _META.get(slot)
        if hit is None or hit[0] != path:
            hit = _META[slot] = (path, _MetaLayout(path))
        return hit[1]

    layout = persisted(
        "doc_meta",
        docs,
        {"columns": list(names)},
        functools.partial(_write_doc_metadata, spark, sf_dir, names),
        load,
    )
    return layout.lookup(ids)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for the SQL surface."""
    for name in TABLES:
        df = (
            load_events(spark, sf_dir)
            if name == "events"
            else load_table(spark, sf_dir, name)
        )
        df.createOrReplaceTempView(name)
