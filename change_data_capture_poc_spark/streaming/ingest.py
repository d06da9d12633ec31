"""Streaming ingest: the reference's transport path as Structured
Streaming (SURVEY.md §2.8).

Reference flow: Debezium → Kafka topic → S3 sink lands gzipped JSON
under ``year=/month=/day=`` (connectors/s3-sink.json:15-27, flush every
3 records, offsets committed every 10 s). The engine replaces the
Kafka hop with one replayable file source:

- source: ``readStream`` over the landed NDJSON files, typed by the
  explicit envelope schema; a file source is replayable, which with an
  idempotent sink gives end-to-end exactly-once (Structured Streaming,
  SIGMOD 2018);
- sink: ``writeStream`` with ``partitionBy(year, month, day)``;
  checkpointing replaces Kafka's offset topics (T1);
- cadence: ``availableNow`` drains the backlog exactly once.

At scale the landed JSON should be rewritten as parquet (SURVEY.md §7
tiny-file pathology); ``streaming/scd2_stream.py`` lands each
micro-batch's decoded events as parquet this way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from change_data_capture_poc_spark.cdc.envelope import envelope_schema
from change_data_capture_poc_spark.sources.writers import with_date_partitions


def stream_envelope_log(
    spark: SparkSession,
    path: str,
    row_fields: list[T.StructField],
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream of typed envelope rows.

    ``maxFilesPerTrigger`` bounds micro-batch size (the analogue of the
    sink's flush granularity); leave None for availableNow drains.
    """
    reader = spark.readStream.schema(envelope_schema(row_fields))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path)


def stream_to_partitioned_json(
    df: DataFrame,
    path: str,
    checkpoint: str,
) -> StreamingQuery:
    """Drain an envelope stream as gzipped JSON under year=/month=/day=
    (the S3 sink analogue, S3)."""
    return (
        with_date_partitions(df)
        .writeStream.format("json")
        .partitionBy("year", "month", "day")
        .option("compression", "gzip")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
