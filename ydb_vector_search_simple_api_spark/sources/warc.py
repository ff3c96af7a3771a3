"""WET/WARC-style web-archive source: record-framed text export and a
distributed record-split reader.

Web corpora arrive as WARC/WET archives — concatenated records, each a
``WARC/1.0`` header block, a blank line, and a payload whose extent is
governed by ``Content-Length``. This module gives the engine that
ingestion path Spark-natively:

- **Writer** (:func:`write_wet_export`): one codegen ``concat``
  projection per document → ``spark.write.text`` — no driver
  serialization, no UDF.
- **Reader** (:func:`read_wet`): ``spark.read.option("lineSep",
  "WARC/1.0\\r\\n").text(...)`` — Hadoop's TextInputFormat splits on
  the RECORD delimiter, and correctly handles delimiters spanning
  file-split boundaries, so a multi-TB archive parallelizes into
  ordinary splits with no custom InputFormat. Header fields parse with
  native string expressions (``instr``/``substring``/
  ``regexp_extract``) and the payload is cut to exactly
  ``Content-Length`` characters — all whole-stage codegen.

Length semantics: ``Content-Length`` here counts CHARACTERS, not
octets (the synthetic corpus is in-memory strings; character extents
make the round trip engine-exact on both sides of the oracle). Real
WET files count octets — switching means one ``encode``/``substr`` on
binary, same plan shape.

Framing caveat (documented, not hidden): a payload containing the
record delimiter byte-sequence would break framing — real WARC writers
guarantee records never embed ``WARC/1.0`` at line start after CRLF;
the corpus here contains no ``\\r`` at all, and
:func:`write_wet_export` refuses payloads that do.

Reference note: no file-ingestion surface exists in the reference
(app.py reads one YDB table); extension scope per SURVEY.md.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: record delimiter — the reader's lineSep and the writer's frame open.
RECORD_OPEN = "WARC/1.0\r\n"


def write_wet_export(docs: DataFrame, out_dir: str) -> None:
    """Serialize (doc_id, text, lang, source) as a WET-style archive.

    One narrow projection per doc; refuses payloads that would break
    framing (any CR in the text)."""
    framed = docs.select(
        F.concat(
            F.lit(RECORD_OPEN),
            F.lit("WARC-Type: conversion\r\n"),
            F.concat(F.lit("WARC-Record-ID: "), F.col("doc_id").cast("string"), F.lit("\r\n")),
            F.concat(F.lit("WARC-Language: "), F.col("lang"), F.lit("\r\n")),
            F.concat(F.lit("WARC-Source: "), F.col("source"), F.lit("\r\n")),
            F.concat(
                F.lit("Content-Length: "),
                F.length("text").cast("string"),
                F.lit("\r\n"),
            ),
            F.lit("\r\n"),
            F.assert_true(
                ~F.col("text").contains("\r"), "CR in payload breaks WET framing"
            ).isNull()
            .cast("string")
            .substr(1, 0),  # assert rides the projection, adds ''
            F.col("text"),
            F.lit("\r\n"),
        ).alias("value")
    )
    framed.write.mode("overwrite").text(out_dir)


def read_wet(spark: SparkSession, path: str) -> DataFrame:
    """Parse a WET-style archive back into
    (doc_id, lang, source, n_chars, text).

    Record split happens in the text source itself (lineSep =
    ``WARC/1.0\\r\\n``); everything after is codegen string ops. The
    payload is cut to exactly ``Content-Length`` characters, so
    trailing frame bytes never leak into the text."""
    raw = spark.read.option("lineSep", RECORD_OPEN).text(path)
    rec = raw.filter(F.col("value").contains("WARC-Type: "))
    hdr_end = F.instr(F.col("value"), "\r\n\r\n")
    headers = F.substring(F.col("value"), 1, hdr_end - 1)
    clen = F.regexp_extract(headers, r"Content-Length: ([0-9]+)", 1).cast("int")
    payload = F.expr(
        "substring(value, instr(value, '\r\n\r\n') + 4, "
        "cast(regexp_extract(substring(value, 1, instr(value, '\r\n\r\n') - 1), "
        "'Content-Length: ([0-9]+)', 1) as int))"
    )
    return rec.select(
        F.regexp_extract(headers, r"WARC-Record-ID: ([0-9]+)", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.regexp_extract(headers, r"WARC-Language: (\S+)", 1).alias("lang"),
        F.regexp_extract(headers, r"WARC-Source: (\S+)", 1).alias("source"),
        clen.cast("bigint").alias("n_chars"),
        payload.alias("text"),
    )


def wet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate entry: export the documents table as a WET archive (once,
    ``artifacts.persisted``), read it back through the
    record-split reader, and surface per-doc digests. The oracle is a
    plain projection of ``documents`` — equality proves the writer and
    the distributed parser are exact inverses."""
    from ..artifacts import persisted
    from .store import load_documents

    docs = load_documents(spark, sf_dir).select("doc_id", "text", "lang", "source")
    parsed = persisted(
        "wet", sf_dir, {}, lambda out: write_wet_export(docs, out),
        lambda path: read_wet(spark, path),
    )
    return parsed.select(
        "doc_id",
        "lang",
        "source",
        F.length("text").cast("bigint").alias("n_chars_rt"),
        F.md5("text").alias("text_md5"),
    )
