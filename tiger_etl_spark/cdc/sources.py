"""Change-file sources (SURVEY.md §2.1 S11): the binlog/WAL-tail
directory read, in either physical format.

- "parquet": columnar change files (the default; schema-on-file with a
  superset read schema, absent columns NULL).
- "jsonl": text-WAL tail, one JSON object per line — the shape a
  Debezium/Maxwell-style binlog forwarder actually lands. Binary
  payloads ride as base64 (`body_b64` v1 / `html_b64` v2), timestamps
  as epoch-microsecond longs; decoding to the normalized binary/
  timestamp columns is JVM-side (`unbase64`, `timestamp_micros`) —
  no Python in the row loop.
- "warc": Common-Crawl-style header-block records (`Name: value`
  lines, blank-line separated). The text reader splits records via
  `lineSep`; each field is one codegen'd `regexp_extract`, payload
  decode the same `unbase64` path as JSONL.
- "debezium": Debezium/Maxwell change-event envelopes (one JSON object
  per line, schemas disabled): `before`/`after` row images, `source`
  block with WAL position (`lsn`) and commit time, single-letter op
  codes c/u/d. The decode flattens the nested structs with
  `coalesce(after.x, before.x)` — all JVM-side.

All formats return the same EVENTS_READ_SCHEMA column set, so everything
downstream (validate → schema-id mapping → fused dedup+extract → MERGE)
is format-agnostic. Scale: the JSON parse is Jackson inside whole-stage
codegen and the explicit schema prevents the runaway schema-inference
scan Spark would otherwise do over the whole directory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tiger_etl_spark.cdc.schemas import EVENTS_READ_SCHEMA

# Wire schema of a JSONL change line. Binary → base64 strings,
# timestamp → epoch micros; both schema eras' fields present (absent
# fields read NULL, same superset trick as the parquet path).
EVENTS_JSONL_SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType(), True),
        T.StructField("op_seq", T.LongType(), True),
        T.StructField("url", T.StringType(), True),
        T.StructField("warc_ts_us", T.LongType(), True),
        T.StructField("body_b64", T.StringType(), True),
        T.StructField("html_b64", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("content_len", T.LongType(), True),
        T.StructField("schema_id", T.IntegerType(), True),
        T.StructField("batch_file", T.StringType(), True),
    ]
)


def _decode_jsonl(df: DataFrame) -> DataFrame:
    """JSONL wire columns → EVENTS_READ_SCHEMA columns (all JVM
    expressions: unbase64 for the binary payloads, timestamp_micros for
    event time)."""
    return df.select(
        "op",
        "op_seq",
        "url",
        F.timestamp_micros(F.col("warc_ts_us")).alias("warc_ts"),
        F.unbase64(F.col("body_b64")).alias("body"),
        F.unbase64(F.col("html_b64")).alias("html"),
        "lang",
        "content_len",
        "schema_id",
        "batch_file",
    )


# Row image inside a Debezium envelope: the pages-table columns as a
# connector would forward them (binary as base64, event time as epoch
# micros, both schema eras' fields present — absent fields read NULL).
_DEBEZIUM_IMAGE = T.StructType(
    [
        T.StructField("url", T.StringType(), True),
        T.StructField("warc_ts_us", T.LongType(), True),
        T.StructField("body_b64", T.StringType(), True),
        T.StructField("html_b64", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("content_len", T.LongType(), True),
    ]
)

# Debezium-with-schemas-disabled envelope: before/after row images,
# source block with WAL position + commit time, single-letter op.
EVENTS_DEBEZIUM_SCHEMA = T.StructType(
    [
        T.StructField("before", _DEBEZIUM_IMAGE, True),
        T.StructField("after", _DEBEZIUM_IMAGE, True),
        T.StructField(
            "source",
            T.StructType(
                [
                    T.StructField("lsn", T.LongType(), True),
                    T.StructField("ts_us", T.LongType(), True),
                    T.StructField("schema_id", T.IntegerType(), True),
                    T.StructField("file", T.StringType(), True),
                ]
            ),
            True,
        ),
        T.StructField("op", T.StringType(), True),
        T.StructField("ts_ms", T.LongType(), True),
    ]
)


def _decode_debezium(df: DataFrame) -> DataFrame:
    """Debezium envelope → EVENTS_READ_SCHEMA columns. The row image is
    `after` for c/u (no pre-image under REPLICA IDENTITY DEFAULT) and
    `before` for d (key image), so every field reads
    `coalesce(after.x, before.x)`; op codes map c/u/d → I/U/D with
    unknown codes passed through verbatim (they hit the same
    quarantine rules as on the other wire formats). All JVM
    expressions — no Python in the row loop."""

    def img(field: str) -> F.Column:
        return F.coalesce(F.col(f"after.{field}"), F.col(f"before.{field}"))

    op = F.col("op")
    return df.select(
        F.when(op == "c", F.lit("I"))
        .when(op == "u", F.lit("U"))
        .when(op == "d", F.lit("D"))
        .otherwise(op)
        .alias("op"),
        F.col("source.lsn").alias("op_seq"),
        img("url").alias("url"),
        F.timestamp_micros(F.coalesce(img("warc_ts_us"), F.col("source.ts_us"))).alias(
            "warc_ts"
        ),
        F.unbase64(img("body_b64")).alias("body"),
        F.unbase64(img("html_b64")).alias("html"),
        img("lang").alias("lang"),
        img("content_len").alias("content_len"),
        F.col("source.schema_id").alias("schema_id"),
        F.col("source.file").alias("batch_file"),
    )


def _decode_warc(df: DataFrame) -> DataFrame:
    """WARC-style header-block records → EVENTS_READ_SCHEMA columns.
    One record per row (the reader splits on the blank line via
    `lineSep`); every field is one `regexp_extract` — JVM-side,
    whole-stage-codegen'd, no Python. Absent headers read NULL."""

    def g(name: str):
        # presence-gated: an absent header reads NULL, while a present
        # header with an empty value reads "" (empty url / empty
        # payload are valid wire states distinct from absent — the
        # byte-parity test vs the parquet path pins this)
        return F.when(
            F.col("value").rlike(f"(?m)^{name}: "),
            F.regexp_extract("value", f"(?m)^{name}: (.*)$", 1),
        )

    return df.where(F.length(F.trim(F.col("value"))) > 0).select(
        g("WARC-Type").alias("op"),
        g("WARC-Record-ID").cast("long").alias("op_seq"),
        g("WARC-Target-URI").alias("url"),
        F.timestamp_micros(g("WARC-Date-US").cast("long")).alias("warc_ts"),
        F.unbase64(g("Body-B64")).alias("body"),
        F.unbase64(g("Html-B64")).alias("html"),
        g("Content-Lang").alias("lang"),
        g("Content-Length-Orig").cast("long").alias("content_len"),
        g("WARC-Schema-Id").cast("int").alias("schema_id"),
        g("WARC-Batch-File").alias("batch_file"),
    )


def _read_events(reader, path: str, file_format: str) -> DataFrame:
    """`path` in EVENTS_READ_SCHEMA shape, read by `reader` — a batch
    `DataFrameReader` or a streaming `DataStreamReader`; both spell
    every format's read the same way."""
    if file_format == "parquet":
        return reader.schema(EVENTS_READ_SCHEMA).parquet(path)
    if file_format == "jsonl":
        return _decode_jsonl(reader.schema(EVENTS_JSONL_SCHEMA).json(path))
    if file_format == "warc":
        return _decode_warc(reader.option("lineSep", "\n\n").text(path))
    if file_format == "debezium":
        return _decode_debezium(reader.schema(EVENTS_DEBEZIUM_SCHEMA).json(path))
    raise ValueError(f"unsupported change-file format: {file_format}")


def read_change_batch(
    spark: SparkSession, path: str, file_format: str = "parquet"
) -> DataFrame:
    """One bounded batch of change events from a file (or glob) in
    EVENTS_READ_SCHEMA shape."""
    return _read_events(spark.read, path, file_format)


def read_change_stream(
    spark: SparkSession,
    change_dir: str,
    file_format: str = "parquet",
    max_files_per_trigger: int = 4,
) -> DataFrame:
    """Streaming tail of the change directory in EVENTS_READ_SCHEMA
    shape (lexicographic filename order == offset order, FIXTURES.md §2;
    `maxFilesPerTrigger` bounds each micro-batch)."""
    reader = (
        spark.readStream.option("maxFilesPerTrigger", max_files_per_trigger)
        .option("latestFirst", "false")
    )
    return _read_events(reader, change_dir, file_format)
