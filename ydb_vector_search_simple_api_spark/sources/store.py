"""Sources: the 5-column vector store and the raw testdata tables.

The reference reads exactly one row table (``FROM {YDB_TABLE}``,
``/root/reference/app.py:223``). Here the store is Parquet-backed
(columnar at rest — an upgrade, not a semantic change, SURVEY.md §1.4)
and the 5-column logical shape (id/title/vendor/description/embedding)
is reconstructed from the driver testdata ``documents`` +
``embeddings`` tables joined 1:1 on id.

Scale note: ``load_embeddings`` / ``load_documents`` return raw scans
so callers can defer/elide the join — the hot vector-search path scores
the narrow ``embeddings`` table only and joins metadata AFTER top-k
(k rows, broadcast), rather than dragging text columns through the
scan. See ``operators/search.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..artifacts import listing
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


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for the SQL surface."""
    for name in TABLES:
        df = (
            load_events(spark, sf_dir)
            if name == "events"
            else load_table(spark, sf_dir, name)
        )
        df.createOrReplaceTempView(name)
