"""Event-log and table sinks (SURVEY.md §2.1 S3, S7-S9).

- ``write_partitioned_json``: the S3-sink analogue — Hive-style
  ``year=/month=/day=`` partition dirs derived from the envelope
  event time (``with_date_partitions``), gzipped JSON objects
  (connectors/s3-sink.json:15-27, UTC daily partitioner). The
  reference flushes every 3 records producing pathological tiny files
  (SURVEY.md §7); here file count follows Spark partitioning, and a
  parquet rewrite (``compact_small_files`` for an existing directory)
  is the recommended next hop for anything at scale.
- ``write_bucketed_table`` and ``write_sorted_layout``: layouts that
  buy shuffle-free joins and min/max file pruning.
- The reference's CREATE OR REPLACE TABLE ... AS (transform_scd2.py:20)
  and CREATE VIEW (scd2_example.sql:10-14) are plain
  ``df.write.mode("overwrite").parquet`` and
  ``createOrReplaceTempView`` calls.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_date_partitions(df: DataFrame, ts_ms_col: str = "payload.ts_ms") -> DataFrame:
    """Derive UTC year/month/day partition columns from epoch millis
    (the S3 sink's DailyPartitioner, path.format 'year'=YYYY/...)."""
    ts = F.timestamp_millis(F.col(ts_ms_col))
    return (
        df.withColumn("year", F.date_format(ts, "yyyy"))
        .withColumn("month", F.date_format(ts, "MM"))
        .withColumn("day", F.date_format(ts, "dd"))
    )


def write_partitioned_json(
    df: DataFrame, path: str, ts_ms_col: str = "payload.ts_ms", mode: str = "append"
) -> None:
    """Land envelope rows as gzipped JSON under year=/month=/day=."""
    (
        with_date_partitions(df, ts_ms_col)
        .write.mode(mode)
        .partitionBy("year", "month", "day")
        .option("compression", "gzip")
        .json(path)
    )


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist as a bucketed (optionally sort-bucketed) table.

    Bucketing pre-shuffles the data ONCE at write time: two tables
    bucketed by the same key into the same bucket count join with NO
    exchange on either side (and no sort, if sort-bucketed) — the
    co-located join that makes repeated fact-fact joins viable at
    100 TB. Verified plan-level in tests/test_bucketing.py.
    """
    w = df.write.mode("overwrite").format("parquet").bucketBy(
        n_buckets, *bucket_cols
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(name)


def write_sorted_layout(
    df: DataFrame,
    path: str,
    range_col: str,
    n_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Range-clustered parquet layout: rows are range-partitioned on
    ``range_col`` (one contiguous value range per output file) and
    sorted within each file.

    This is what makes selective range scans cheap at 100 TB: parquet
    footers carry per-file and per-row-group min/max for the sort
    column, so a ``WHERE range_col BETWEEN ...`` scan prunes whole
    files/row groups instead of reading and filtering — the poor
    man's Z-order for a single dominant predicate column. One range
    shuffle (sampling-based bounds) at write time buys it.
    """
    (
        df.repartitionByRange(n_files, F.col(range_col))
        .sortWithinPartitions(range_col)
        .write.mode(mode)
        .parquet(path)
    )


def compact_small_files(
    spark,
    src_dir: str,
    dst_dir: str,
    target_file_mb: int = 128,
    mode: str = "overwrite",
) -> int:
    """Small-files compaction: rewrite a parquet directory into files
    sized for scan efficiency, returning the output file count.

    The small-files problem is the classic streaming-sink pathology —
    a micro-batch sink or an over-partitioned write leaves thousands
    of KB-sized files whose open/footer overhead dominates a 100 TB
    scan and bloats the driver's file listing. Compaction sizes the
    output from the INPUT BYTES (cheap: file statuses only, no data
    read), then performs one round-robin repartition — a full
    rewrite, which is the point: it runs as a maintenance job on cold
    partitions, not in the hot path.
    """
    import math
    import os

    total = 0
    for root, _, files in os.walk(src_dir):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    n_files = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(src_dir)
    df.repartition(n_files).write.mode(mode).parquet(dst_dir)
    return n_files
