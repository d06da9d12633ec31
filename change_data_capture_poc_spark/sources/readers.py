"""Event-log readers (SURVEY.md §2.1 S4-S6).

The reference consumes its S3 event log three ways. The engine reads
it with an explicit envelope schema, which stays deterministic at
100 TB:

- S4 ``read_ndjson_objects`` (raw strings, runtime extraction)
  → ``read_envelope_log`` (text scan + one ``parse_envelope_json``);
  ``read_envelope_log_between`` prunes the landed ``year=/month=/day=``
  layout to a date window, and ``read_envelope_log_tolerant``
  quarantines malformed lines;
- S5 ``read_json_auto`` (schema inference) → plain ``spark.read.json``;
- S6 ``read_parquet`` → plain ``spark.read.parquet``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from change_data_capture_poc_spark.cdc.envelope import (
    envelope_schema,
    parse_envelope_json,
)


def read_envelope_log(
    spark: SparkSession, path: str, row_fields: list[T.StructField]
) -> DataFrame:
    """NDJSON envelope log → typed envelope rows: a raw-string scan
    (one row per JSON line, the analogue of ``read_ndjson_objects``,
    transform_scd2.py:38; globs and gzip are handled by the text
    source) and a single from_json parse with the explicit schema."""
    return parse_envelope_json(spark.read.text(path), row_fields)


def read_envelope_log_between(
    spark: SparkSession,
    path: str,
    row_fields: list[T.StructField],
    start: str,
    end: str,
) -> DataFrame:
    """Date-bounded scan of the LANDED log layout — the
    ``year=/month=/day=`` Hive partitioning the S3-sink analogue
    writes (sources/writers.py ``write_partitioned_json``; reference
    layout connectors/s3-sink.json:15-27).

    ``start``/``end`` are inclusive ISO dates ('2024-03-01'). The
    bound is expressed ONLY over the discovered partition columns, so
    it lands in the scan's PartitionFilters: directories outside the
    window are never listed or opened — the difference between
    re-reading a day and re-reading a year when backfilling at 100 TB
    (SURVEY.md §4's action item; ``read_envelope_log`` deliberately
    mirrors the reference's full-glob read, transform_scd2.py:38).
    Pinned plan-level by tests/test_plans.py::
    test_envelope_log_between_prunes_partitions.
    """
    df = (
        spark.read.schema(envelope_schema(row_fields))
        .option("basePath", path)
        .json(path)
    )
    day = F.make_date(
        F.col("year").cast("int"),
        F.col("month").cast("int"),
        F.col("day").cast("int"),
    )
    bounded = df.where(
        (day >= F.to_date(F.lit(start))) & (day <= F.to_date(F.lit(end)))
    )
    return bounded.drop("year", "month", "day")


def read_envelope_log_tolerant(
    spark: SparkSession,
    path: str,
    row_fields: list[T.StructField],
    quarantine_col: str = "_corrupt_record",
) -> DataFrame:
    """Envelope log scan that SURVIVES malformed lines (an at-least-
    once transport WILL deliver truncated/garbled messages): PERMISSIVE
    mode parses what it can and lands the raw text of unparseable
    lines in ``quarantine_col`` instead of failing the job or silently
    dropping them (DROPMALFORMED). Callers split the frame:

        ok  = df.where(df[quarantine_col].isNull()).drop(quarantine_col)
        bad = df.where(df[quarantine_col].isNotNull())

    and route ``bad`` to a quarantine sink for replay — at 100 TB a
    FAILFAST job restart costs hours; a quarantine table costs a
    filter.

    Note: Spark refuses queries that reference ONLY the corrupt-record
    column of an uncached raw scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN);
    ``.cache()`` (or persist to a table) the returned frame before
    splitting it.
    """
    schema = T.StructType(
        envelope_schema(row_fields).fields
        + [T.StructField(quarantine_col, T.StringType())]
    )
    return (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", quarantine_col)
        .json(path)
    )
