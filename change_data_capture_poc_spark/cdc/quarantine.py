"""The malformed-envelope quarantine log: its damage rule, its one
build and the report oracle its batch and stream readers share.

The reference's S3 sink lands raw Debezium JSON in day-partitioned
objects (connectors/s3-sink.json) and its DuckDB layer reads them back
with read_json, so one garbled message fails, or silently drops from,
the whole day's scan. ``ensure_quarantine_log`` writes that layout once
per SF from the events table, damaged by a deterministic rule, so
DuckDB can state the expected readout without reading the files:

- ``event_id % 97 == 0``: the line is truncated at half length
  (``truncated``);
- ``event_id % 89 == 3``: the line gets a non-JSON transport prefix
  (``not_json``);
- otherwise the envelope is well formed. Truncation wins when both
  rules hit.

The engine never sees event_id at read time: it classifies each line
from its raw text alone (a corrupt line starting with '{' can only be
the truncation), so the classifier works on any log and the rule-based
oracle certifies it on this one. ``cdc_quarantine_report`` reads the
log in batch through sources/readers.read_envelope_log_tolerant and
``streaming_quarantine_drain`` reads it as a text stream; both are
checked against ``QUAR_REPORT_ORACLE``. ``cdc_quarantine_replay``
re-parses the quarantined lines under the same rule.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from change_data_capture_poc_spark.functions.artifacts import persisted
from change_data_capture_poc_spark.sources.tables import load_table

QUAR_TRUNC_MOD = 97
QUAR_GARBLE_MOD = 89
QUAR_GARBLE_REM = 3
QUAR_PREFIX = "xlog-v1|"

# The after-image fields every reader parses the log's envelopes with.
QUAR_ROW_FIELDS = [
    T.StructField("id", T.LongType()),
    T.StructField("etype", T.StringType()),
]


def ensure_quarantine_log(
    spark: SparkSession, sf_dir: str, force: bool = False
) -> str:
    """Write the day-partitioned corrupted envelope log iff absent or
    stale — the S3-sink layout (sources/writers.py partitioned-JSON
    shape, day= dirs) with transport damage injected by the
    deterministic damage rule. One linear map over events, no shuffle:
    partitionBy splits the write by the ~|days| distinct day values."""

    def build(d: str) -> None:
        line = F.to_json(
            F.struct(
                F.struct(
                    F.struct(
                        F.col("user_id").alias("id"),
                        F.col("event_type").alias("etype"),
                    ).alias("after"),
                    F.lit("u").alias("op"),
                    F.unix_millis("ts").alias("ts_ms"),
                    F.struct(F.col("event_id").alias("lsn")).alias("source"),
                ).alias("payload")
            )
        )
        damaged = (
            F.when(
                F.col("event_id") % QUAR_TRUNC_MOD == 0,
                F.substring(line, 1, (F.length(line) / 2).cast("int")),
            )
            .when(
                F.col("event_id") % QUAR_GARBLE_MOD == QUAR_GARBLE_REM,
                F.concat(F.lit(QUAR_PREFIX), line),
            )
            .otherwise(line)
        )
        load_table(spark, sf_dir, "events").where(
            F.col("user_id").isNotNull()
        ).select(
            damaged.alias("value"),
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
        ).write.partitionBy("day").mode("overwrite").text(d)

    return persisted("quarlog", sf_dir, "events", build, force)[0]


# Each event's line, by the damage rule: the DuckDB side of
# quarantine_reason, read by the report and replay oracles.
QUAR_REASON_SQL = f"""CASE
                   WHEN event_id % {QUAR_TRUNC_MOD} = 0 THEN 'truncated'
                   WHEN event_id % {QUAR_GARBLE_MOD} = {QUAR_GARBLE_REM}
                       THEN 'not_json'
                   ELSE 'ok'
               END"""

# Shared by the batch report and its stream twin (streaming_q):
# identical readout contract, so the drain proves the streaming path
# computes the same dashboard.
QUAR_REPORT_ORACLE = f"""
    WITH e AS (
        SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
               {QUAR_REASON_SQL} AS reason
        FROM events WHERE user_id IS NOT NULL
    )
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(COUNT(*) FILTER (reason = 'ok') AS BIGINT) AS n_ok,
           CAST(COUNT(*) FILTER (reason = 'truncated') AS BIGINT)
               AS n_truncated,
           CAST(COUNT(*) FILTER (reason = 'not_json') AS BIGINT)
               AS n_not_json,
           ROUND(COUNT(*) FILTER (reason != 'ok') * 1.0 / COUNT(*)
                 + 1e-9, 6) AS bad_fraction
    FROM e GROUP BY day
    """


def quarantine_reason(parsed: Column, line: Column) -> Column:
    """'ok' for a line that parsed, else the damage read off its raw
    text: a line cut short still starts with '{' ('truncated'), a
    prefixed one does not ('not_json')."""
    return (
        F.when(parsed, F.lit("ok"))
        .when(F.substring(line, 1, 1) != "{", F.lit("not_json"))
        .otherwise(F.lit("truncated"))
    )


def quarantine_report(
    reasons: DataFrame, n_lines: Column, weight: Column
) -> DataFrame:
    """Per-day report columns of ``QUAR_REPORT_ORACLE`` from (day,
    reason) rows: ``n_lines`` counts a day's lines and each reason
    count sums ``weight`` over that reason's rows."""

    def n_reason(r: str) -> Column:
        return F.sum(
            F.when(F.col("reason") == r, weight).otherwise(0)
        ).cast("long")

    return (
        reasons.groupBy("day")
        .agg(
            n_lines.cast("long").alias("n_lines"),
            n_reason("ok").alias("n_ok"),
            n_reason("truncated").alias("n_truncated"),
            n_reason("not_json").alias("n_not_json"),
        )
        .select(
            "day",
            "n_lines",
            "n_ok",
            "n_truncated",
            "n_not_json",
            F.round(
                (F.col("n_lines") - F.col("n_ok")) * 1.0 / F.col("n_lines")
                + F.lit(1e-9),
                6,
            ).alias("bad_fraction"),
        )
    )
