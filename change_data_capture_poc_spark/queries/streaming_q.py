"""Streaming queries on the oracle-checked surface.

Each query builds a REAL Structured Streaming pipeline (readStream →
stateful transform → memory sink), drains it with ``availableNow``,
and returns the sink's contents as the result DataFrame — so the
driver's correctness gate exercises the streaming execution path
end-to-end against a plain-SQL oracle, not just the batch twin.

Determinism rules for streamed results:
- emit KEYS or fully-aggregated values only — a streaming
  ``dropDuplicates`` keeps whichever row arrived first, and arrival
  order is not part of the contract;
- aggregations drain in ``complete`` mode so no window is withheld by
  a watermark at end-of-stream.

``events.parquet`` has shipped as both TIMESTAMP(NANOS) and plain µs
TIMESTAMP across data generations: the streaming reader needs the same
encoding branch as the batch catalog (sources/tables.load_table),
mirrored here with an explicit schema (file streams require one) chosen
by peeking the batch-read schema once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from change_data_capture_poc_spark.cdc.quarantine import (
    QUAR_REPORT_ORACLE,
    QUAR_ROW_FIELDS,
    ensure_quarantine_log,
    quarantine_reason,
    quarantine_report,
)
from change_data_capture_poc_spark.functions.hashing import md5_mod
from change_data_capture_poc_spark.functions.url import (
    URL_CANON_CTE_SQL,
    canonical_url_col,
    raw_url_col,
)
from change_data_capture_poc_spark.operators.chunking import (
    CHUNK_ORACLE,
    CDC_CHUNK_ORACLE,
    cdc_chunks_from,
    chunk_sliding_window,
)
from change_data_capture_poc_spark.operators.sketch import (
    CMS_D,
    CMS_ORACLE_CORE,
    HIST_ORACLE_CORE,
    HLL_REGISTERS_SQL,
    MG_ORACLE,
    SPAN_K,
    bloom_bits,
    BLOOM_ORACLE,
    bloom_readout,
    bloom_split_spans,
    cms_bucket_sql,
    cms_estimates,
    cms_registers,
    hist_quantile_readout,
    hist_register_exprs,
    hll_estimate,
    hll_estimate_sql,
    hll_raw_estimate,
    hll_registers,
    hll_sums,
    mg_candidates,
    mg_heavy_hitters,
    span_hash_sql,
    span_hashes,
)
from change_data_capture_poc_spark.registry import register
from change_data_capture_poc_spark.functions.hints import vocab_broadcast
from change_data_capture_poc_spark.sources.tables import read_events_raw
from change_data_capture_poc_spark.operators.topk import (
    WPS_K,
    WPS_ORACLE,
    wps_scored,
)
from change_data_capture_poc_spark.operators.minhash import (
    BAND_CTES_SQL,
    NGRAM_SQL,
    spark_bands,
    spark_grams,
)
from change_data_capture_poc_spark.functions.vectors import SEED_ASSIGN_SQL

_EVENTS_RAW_SCHEMA_NANOS = (
    "event_id bigint, ts bigint, user_id bigint, event_type string, "
    "value double, props string"
)
_EVENTS_RAW_SCHEMA_MICROS = (
    "event_id bigint, ts timestamp_ntz, user_id bigint, "
    "event_type string, value double, props string"
)


def _stream_dir(sf_dir: str, table: str, suffix: str = "") -> str:
    """The file stream source only accepts DIRECTORIES (it watches them
    for new files); each testdata table is a single parquet file, so
    expose it through a per-(SF, table) symlink directory under /tmp —
    zero copy, and exactly how a production stream would watch a
    landing directory. Shared by the events/embeddings/documents
    streams (suffix keeps their historical directory names). A
    dangling symlink left by a deleted sf_dir is replaced, not
    silently kept. Two processes creating the link at once both
    succeed: the loser accepts the winner's identical link."""
    import contextlib
    import hashlib
    import os

    key = hashlib.md5(f"{sf_dir}{suffix}".encode()).hexdigest()[:10]
    d = f"/tmp/spark_graft_stream{suffix.replace('/', '_')}_{key}"
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, f"{table}.parquet")
    target = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.lexists(link) and not os.path.exists(link):
        with contextlib.suppress(FileNotFoundError):
            os.remove(link)
    if not os.path.lexists(link):
        try:
            os.symlink(target, link)
        except FileExistsError:
            if os.readlink(link) != target:
                raise
    return d


def _events_stream_dir(sf_dir: str) -> str:
    return _stream_dir(sf_dir, "events")


def _events_encoding_is_nanos(spark: SparkSession, sf_dir: str) -> bool:
    # Peek the physical encoding with a schema-only batch read (no
    # scan). The stream itself needs no flag: it gets an EXPLICIT schema.
    peek = dict(read_events_raw(spark, sf_dir).dtypes)
    return peek.get("ts") == "bigint"


def _events_stream_from_dir(
    spark: SparkSession, stream_dir: str, nanos: bool
) -> DataFrame:
    schema = _EVENTS_RAW_SCHEMA_NANOS if nanos else _EVENTS_RAW_SCHEMA_MICROS
    raw = spark.readStream.schema(schema).parquet(stream_dir)
    if nanos:
        raw = raw.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    else:
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    nanos = _events_encoding_is_nanos(spark, sf_dir)
    return _events_stream_from_dir(
        spark, _events_stream_dir(sf_dir), nanos
    )


_SENTINEL_TS_S = 4_102_444_800  # 2100-01-01 UTC — past any test event


def _stream_events_with_sentinel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Events stream twin whose watched directory also carries one
    far-future sentinel row per side ('purchase' + 'signup',
    user_id/event_id = -1): once the sentinel is processed, the
    watermark provably passes every real row's eviction threshold, so
    an OUTER join's NULL-padded results all emit before the
    availableNow drain terminates. Production equivalent: the source
    keeps flowing, so the watermark keeps advancing on its own — the
    sentinel replays that property on a bounded replay. Sentinel rows
    are filtered out of the query output by their negative ids."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    nanos = _events_encoding_is_nanos(spark, sf_dir)
    d = _stream_dir(sf_dir, "events", "/outerj")
    sentinel = os.path.join(d, "z_sentinel.parquet")
    if not os.path.exists(sentinel):
        if nanos:
            ts_arr = pa.array(
                [_SENTINEL_TS_S * 10**9] * 2, type=pa.int64()
            )
        else:
            ts_arr = pa.array(
                [_SENTINEL_TS_S * 10**6] * 2, type=pa.timestamp("us")
            )
        tbl = pa.table(
            {
                "event_id": pa.array([-1, -1], type=pa.int64()),
                "ts": ts_arr,
                "user_id": pa.array([-1, -1], type=pa.int64()),
                "event_type": pa.array(["purchase", "signup"]),
                "value": pa.array([None, None], type=pa.float64()),
                "props": pa.array([None, None], type=pa.string()),
            }
        )
        pq.write_table(tbl, sentinel)
    return _events_stream_from_dir(spark, d, nanos)


# State partition count scoped around every drain's start() call.
# _LAST_STATE_PARTITIONS records what the most recent stateful drain
# ACTUALLY used (from its own progress JSON) so tests can pin the
# scoping without reaching into a stopped query.
_DRAIN_STATE_PARTITIONS = 8
_LAST_STATE_PARTITIONS: int | None = None


def _drain(stream_df: DataFrame, name: str, output_mode: str) -> DataFrame:
    spark = stream_df.sparkSession
    # Stateful streaming fixes its STATE partition count from
    # spark.sql.shuffle.partitions at first query start, and every
    # micro-batch then schedules that many state-store tasks per
    # stateful operator (x4 stores for a stream-stream join). At the
    # drain's data scale the session default (32) is almost pure
    # per-task/commit overhead — round 11 measured the full-outer
    # interval join drain as the single biggest bench line (9.2s,
    # 5.9% of the whole run). Scope the partition count down for the
    # START call only (batch queries in the session are untouched);
    # production drains of real volume would size this to volume.
    # Correctness is partitioning-independent — the drained row set
    # is pinned by the oracle either way.
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(_DRAIN_STATE_PARTITIONS)
    )
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        # Restoring immediately after start() leans on StreamExecution
        # cloning the session conf synchronously INSIDE start() — true
        # in current Spark but an undocumented implementation detail.
        # The progress check below closes the gap: every stateful
        # drain verifies, from its own progress JSON, that the state
        # stores were actually sized at the scoped count, so a future
        # clone-timing change fails loudly instead of silently
        # changing state sizing (round-12 ADVICE).
        spark.conf.set("spark.sql.shuffle.partitions", prior)
    finished = q.awaitTermination(300)
    q.stop()
    if not finished:
        raise TimeoutError(f"streaming drain {name} did not finish in 300s")
    global _LAST_STATE_PARTITIONS
    last = q.lastProgress or {}
    for op in last.get("stateOperators", []):
        nsp = op.get("numShufflePartitions")
        if nsp is None:
            continue
        _LAST_STATE_PARTITIONS = int(nsp)
        if int(nsp) != _DRAIN_STATE_PARTITIONS:
            raise RuntimeError(
                f"streaming drain {name}: state stores sized at {nsp} "
                f"partitions, expected {_DRAIN_STATE_PARTITIONS} — the "
                "scoped shuffle-partition setting raced with query "
                "start (conf clone timing changed?)"
            )
    return spark.table(name)


@register(
    "streaming_dedup_drain",
    oracle="SELECT DISTINCT user_id FROM events",
    doc="Streaming exact dedup, executed AS A STREAM: readStream over "
        "the events parquet -> dropDuplicates state on user_id -> "
        "memory sink, availableNow drain (streaming/dedup.py). Only "
        "the key survives to the output (first-arrival payloads are "
        "not part of the contract), so the plain DISTINCT oracle "
        "checks the streaming state machinery exactly.",
)
def streaming_dedup_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from change_data_capture_poc_spark.streaming.dedup import dedup_stream

    ev = _stream_events(spark, sf_dir).select("user_id")
    out = dedup_stream(ev, ["user_id"])
    return _drain(out, "streaming_dedup_drain_tbl", "append")


@register(
    "streaming_hourly_rollup_drain",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 6) AS value_sum
    FROM events
    GROUP BY date_trunc('hour', ts)
    """,
    doc="Streaming tumbling-window rollup, executed AS A STREAM: "
        "1-hour event-time windows aggregated in streaming state, "
        "drained in complete mode so end-of-stream windows are not "
        "withheld; the window struct is flattened to its start "
        "timestamp (harness rule: no struct output columns). Oracle "
        "is the batch GROUP BY over the same hours.",
)
def streaming_hourly_rollup_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = _stream_events(spark, sf_dir).select("ts", "value")
    agg = ev.groupBy(F.window("ts", "1 hour")).agg(
        F.count("*").cast("long").alias("n_events"),
        F.round(F.sum("value"), 6).alias("value_sum"),
    )
    out = agg.select(
        F.col("window.start").alias("hour"), "n_events", "value_sum"
    )
    return _drain(out, "streaming_hourly_rollup_tbl", "complete")


@register(
    "streaming_session_window_drain",
    oracle="""
    WITH m AS (
        SELECT user_id, ts, value,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts - LAG(ts) OVER w > INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS ns
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
        SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM m
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 6) AS value_sum
    FROM s GROUP BY user_id, sid
    """,
    doc="Streaming session windows, executed AS A STREAM: "
        "session_window(ts, 30 min) per user aggregated in streaming "
        "state, complete-mode drain. Oracle replays the gap rule as "
        "lag/cumsum SQL with STRICT > (session_window merges touching "
        "intervals — same construction the batch session_window_stats "
        "query pins). Window struct flattened to the session start.",
)
def streaming_session_window_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = _stream_events(spark, sf_dir).select("user_id", "ts", "value")
    agg = ev.groupBy(
        F.session_window("ts", "30 minutes"), F.col("user_id")
    ).agg(
        F.count("*").cast("long").alias("n_events"),
        F.round(F.sum("value"), 6).alias("value_sum"),
    )
    out = agg.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        "n_events",
        "value_sum",
    )
    return _drain(out, "streaming_session_window_tbl", "complete")


@register(
    "streaming_enrich_join_drain",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 6) AS value_sum
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c_mktsegment
    """,
    doc="Stream-static enrichment join, executed AS A STREAM: the "
        "event stream is joined to the static customer dimension "
        "(broadcast — the canonical dim-enrichment shape: the stream "
        "is unbounded, the dim ships to every task, no stream-side "
        "shuffle for the join), then aggregated per market segment in "
        "streaming state, complete-mode drain. Oracle is the batch "
        "join + GROUP BY. At 100 TB/day the static side is re-read "
        "per micro-batch, which is what keeps slowly-changing dims "
        "fresh without restarting the query.",
)
def streaming_enrich_join_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from change_data_capture_poc_spark.sources.tables import load_table

    ev = _stream_events(spark, sf_dir).select("user_id", "value")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    # corpus-derived: customer is a SCALING dim (SF x 150k rows);
    # gated — stream-static joins degrade to a shuffle join with
    # spark.graft.vocab.broadcast=false instead of hard-failing.
    j = ev.join(vocab_broadcast(cust), "user_id")
    agg = j.groupBy("c_mktsegment").agg(
        F.count("*").cast("long").alias("n_events"),
        F.round(F.sum("value"), 6).alias("value_sum"),
    )
    return _drain(agg, "streaming_enrich_join_tbl", "complete")


@register(
    "streaming_hopping_rollup_drain",
    oracle="""
    WITH h AS (
        SELECT value, unnest([
            make_timestamp((epoch_us(ts) // 1000000
                            // 1800 * 1800) * 1000000),
            make_timestamp((epoch_us(ts) // 1000000
                            // 1800 * 1800 - 1800) * 1000000)
        ]) AS window_start
        FROM events
    )
    SELECT window_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 6) AS value_sum
    FROM h GROUP BY window_start
    """,
    doc="Streaming HOPPING-window rollup (1 h windows sliding every "
        "30 min), executed AS A STREAM — completes the tumbling / "
        "session / hopping window trio on the oracle-checked "
        "surface. Each event belongs to exactly two overlapping "
        "windows; Spark expands the assignment inside the streaming "
        "agg, and the oracle replays it as an explicit two-element "
        "unnest of the epoch-aligned hop starts. Complete-mode "
        "drain, window struct flattened to its start.",
)
def streaming_hopping_rollup_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = _stream_events(spark, sf_dir).select("ts", "value")
    agg = ev.groupBy(F.window("ts", "1 hour", "30 minutes")).agg(
        F.count("*").cast("long").alias("n_events"),
        F.round(F.sum("value"), 6).alias("value_sum"),
    )
    out = agg.select(
        F.col("window.start").alias("window_start"), "n_events", "value_sum"
    )
    return _drain(out, "streaming_hopping_rollup_tbl", "complete")


@register(
    "streaming_net_effect_drain",
    oracle="""
    WITH ops AS (
        SELECT user_id, event_id, value,
               CASE event_type WHEN 'signup' THEN 'c'
                               WHEN 'error'  THEN 'd'
                               ELSE 'u' END AS op
        FROM events WHERE user_id IS NOT NULL
    ),
    agg AS (
        SELECT user_id,
               arg_min(op, event_id)    AS first_op,
               arg_max(op, event_id)    AS last_op,
               arg_max(value, event_id) AS last_value,
               max(event_id)            AS last_event_id,
               count(*)                 AS n_ops
        FROM ops GROUP BY user_id
    )
    SELECT user_id,
           CASE WHEN last_op = 'd' THEN 'd'
                WHEN first_op = 'c' THEN 'c'
                ELSE 'u' END AS net_op,
           CASE WHEN last_op = 'd' THEN NULL
                ELSE ROUND(last_value + 1e-9, 6) END AS net_value,
           last_event_id,
           CAST(n_ops AS BIGINT) AS n_ops
    FROM agg
    WHERE NOT (first_op = 'c' AND last_op = 'd')
    """,
    doc="Net-effect CDC compaction executed AS A STREAM: the running "
        "min_by/max_by state per key consolidates every arriving "
        "change, so at any drain point the sink holds exactly one net "
        "change per key — the streaming form of "
        "cdc_net_effect_compaction (same oracle), and the shape of a "
        "continuously-maintained MERGE staging table. State is five "
        "scalars per key (no event retention); complete-mode drain, "
        "classification applied to the drained table.",
)
def streaming_net_effect_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _stream_events(spark, sf_dir).where(F.col("user_id").isNotNull())
    ops = ev.select(
        "user_id",
        "event_id",
        "value",
        F.when(F.col("event_type") == "signup", F.lit("c"))
        .when(F.col("event_type") == "error", F.lit("d"))
        .otherwise(F.lit("u"))
        .alias("op"),
    )
    agg = ops.groupBy("user_id").agg(
        F.min_by("op", "event_id").alias("first_op"),
        F.max_by("op", "event_id").alias("last_op"),
        F.max_by("value", "event_id").alias("last_value"),
        F.max("event_id").alias("last_event_id"),
        F.count(F.lit(1)).alias("n_ops"),
    )
    drained = _drain(agg, "streaming_net_effect_tbl", "complete")
    return drained.where(
        ~((F.col("first_op") == "c") & (F.col("last_op") == "d"))
    ).select(
        "user_id",
        F.when(F.col("last_op") == "d", F.lit("d"))
        .when(F.col("first_op") == "c", F.lit("c"))
        .otherwise(F.lit("u"))
        .alias("net_op"),
        F.when(F.col("last_op") == "d", F.lit(None).cast("double"))
        .otherwise(F.round(F.col("last_value") + F.lit(1e-9), 6))
        .alias("net_value"),
        "last_event_id",
        "n_ops",
    )


@register(
    "streaming_stateful_running_agg_drain",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value) + 1e-9, 6) AS value_sum,
           CAST(epoch_ms(MAX(ts)) AS BIGINT) AS last_ts_ms
    FROM events
    WHERE user_id IS NOT NULL
    GROUP BY user_id
    """,
    doc="The CUSTOM stateful operator path (applyInPandasWithState, "
        "streaming/stateful.py) on the oracle gate: per-key running "
        "(count, sum, last-seen) state maintained across micro-batches "
        "in the state store, drained and compared against the plain "
        "batch aggregate it must converge to. Update-mode sinks emit "
        "one row per key per touched micro-batch, so the drain keeps "
        "each key's max-n row (n is strictly increasing) — exact "
        "regardless of how the source splits into batches. NoTimeout "
        "per the drain rule (a processing-time timer spins availableNow "
        "drains through empty cleanup batches).",
)
def streaming_stateful_running_agg_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from change_data_capture_poc_spark.streaming.stateful import (
        running_user_totals,
    )

    ev = _stream_events(spark, sf_dir).where(F.col("user_id").isNotNull())
    out = running_user_totals(ev.select("user_id", "ts", "value"))
    drained = _drain(out, "streaming_stateful_running_tbl", "update")
    return drained.groupBy("user_id").agg(
        F.max("n").alias("n"),
        F.round(
            F.max_by("value_sum", "n") + F.lit(1e-9), 6
        ).alias("value_sum"),
        F.unix_millis(F.max_by("last_ts", "n")).alias("last_ts_ms"),
    )


@register(
    "streaming_interval_join_drain",
    oracle="""
    SELECT p.event_id AS p_event_id,
           s.event_id AS s_event_id,
           p.user_id,
           CAST((epoch_us(p.ts) - epoch_us(s.ts)) // 1000000 AS BIGINT)
               AS delta_s
    FROM events p JOIN events s
      ON p.user_id = s.user_id
     AND p.event_type = 'purchase' AND s.event_type = 'signup'
     AND s.ts BETWEEN p.ts - INTERVAL 2 HOUR AND p.ts
    WHERE p.user_id IS NOT NULL
    """,
    doc="STREAM-STREAM interval join executed as a real streaming "
        "query (streaming/joins.interval_join_streams): purchases "
        "correlated with same-user signups in the prior 2 h. Both "
        "sides buffer in watermarked state; the interval bound is what "
        "makes that state finite — a buffered row is evicted once the "
        "watermark passes ts+upper and can never match again. Inner "
        "join, append drain: the emitted pair SET equals the batch "
        "theta-join the oracle states. One shuffle per side on "
        "user_id.",
)
def streaming_interval_join_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from change_data_capture_poc_spark.streaming.joins import (
        interval_join_streams,
    )

    ev = _stream_events(spark, sf_dir)
    p = ev.where(
        (F.col("event_type") == "purchase") & F.col("user_id").isNotNull()
    ).select(
        "user_id",
        F.col("event_id").alias("p_event_id"),
        F.col("ts").alias("p_ts"),
    )
    s = ev.where(
        (F.col("event_type") == "signup") & F.col("user_id").isNotNull()
    ).select(
        F.col("user_id").alias("s_user_id"),
        F.col("event_id").alias("s_event_id"),
        F.col("ts").alias("s_ts"),
    )
    j = interval_join_streams(
        p, s,
        left_key="user_id", right_key="s_user_id",
        left_ts="p_ts", right_ts="s_ts",
        lower_seconds=7200, upper_seconds=0,
    ).select(
        "p_event_id",
        "s_event_id",
        "user_id",
        ((F.unix_micros("p_ts") - F.unix_micros("s_ts")) / 1000000)
        .cast("long")
        .alias("delta_s"),
    )
    return _drain(j, "streaming_interval_join_tbl", "append")


@register(
    "streaming_interval_join_outer_drain",
    oracle="""
    SELECT p.event_id AS p_event_id,
           s.event_id AS s_event_id,
           p.user_id,
           CAST((epoch_us(p.ts) - epoch_us(s.ts)) // 1000000 AS BIGINT)
               AS delta_s
    FROM (SELECT * FROM events
          WHERE event_type = 'purchase' AND user_id IS NOT NULL) p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
      ON p.user_id = s.user_id
     AND s.ts BETWEEN p.ts - INTERVAL 2 HOUR AND p.ts
    """,
    doc="Stream-stream LEFT OUTER interval join drain — the "
        "CDC-relevant absent-match case streaming_interval_join_drain "
        "can't see: purchases with NO same-user signup in the prior "
        "2 h surface as NULL-padded rows. Outer emission is "
        "watermark-gated (a NULL row may only emit once the watermark "
        "proves no match can still arrive), so a bounded replay needs "
        "the watermark to pass END-of-stream rows too: the source dir "
        "carries a far-future sentinel pair (user_id -1, filtered "
        "from the output) that stands in for the ever-advancing "
        "event time of a live feed. Drained row set equals the batch "
        "LEFT theta-join the oracle states. Same bounded state as the "
        "inner form: one shuffle per side on user_id, eviction at "
        "watermark past ts+upper.",
)
def streaming_interval_join_outer_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from change_data_capture_poc_spark.streaming.joins import (
        interval_join_streams,
    )

    ev = _stream_events_with_sentinel(spark, sf_dir)
    p = ev.where(
        (F.col("event_type") == "purchase")
        & (F.col("user_id").isNotNull())
    ).select(
        "user_id",
        F.col("event_id").alias("p_event_id"),
        F.col("ts").alias("p_ts"),
    )
    s = ev.where(F.col("event_type") == "signup").select(
        F.col("user_id").alias("s_user_id"),
        F.col("event_id").alias("s_event_id"),
        F.col("ts").alias("s_ts"),
    )
    j = interval_join_streams(
        p, s,
        left_key="user_id", right_key="s_user_id",
        left_ts="p_ts", right_ts="s_ts",
        lower_seconds=7200, upper_seconds=0,
        how="left_outer",
    ).select(
        "p_event_id",
        "s_event_id",
        "user_id",
        ((F.unix_micros("p_ts") - F.unix_micros("s_ts")) / 1000000)
        .cast("long")
        .alias("delta_s"),
    )
    # The sentinel is dropped AFTER the drain, batch-side: a stream-
    # side p_event_id != -1 filter gets pushed below the left input's
    # EventTimeWatermark node, which removes the sentinel from
    # watermark statistics and stalls the left watermark 30 s short of
    # end-of-stream — withholding exactly the last unmatched
    # purchases' NULL rows.
    return _drain(j, "streaming_interval_join_outer_tbl", "append").where(
        F.col("p_event_id") != -1
    )


@register(
    "streaming_interval_join_full_outer_drain",
    oracle="""
    SELECT p.event_id AS p_event_id,
           s.event_id AS s_event_id,
           COALESCE(p.user_id, s.user_id) AS user_id,
           CAST((epoch_us(p.ts) - epoch_us(s.ts)) // 1000000 AS BIGINT)
               AS delta_s
    FROM (SELECT * FROM events
          WHERE event_type = 'purchase' AND user_id IS NOT NULL) p
    FULL JOIN (SELECT * FROM events
               WHERE event_type = 'signup' AND user_id IS NOT NULL) s
      ON p.user_id = s.user_id
     AND s.ts BETWEEN p.ts - INTERVAL 2 HOUR AND p.ts
    """,
    doc="Stream-stream FULL OUTER interval join drain — closes the "
        "outer-join surface: purchases with no same-user signup in "
        "the prior 2 h AND signups with no same-user purchase in the "
        "following 2 h each surface as NULL-padded rows (the "
        "'payment with no order in window' case the left-outer form "
        "can't see). Both sides' NULL emissions are watermark-gated, "
        "so the bounded replay leans on the same far-future sentinel "
        "pair as the left-outer drain (one per side, ids -1 — the "
        "matched sentinel pair is dropped batch-side AFTER the drain; "
        "a stream-side filter would be pushed below the watermark "
        "node and stall end-of-stream emission). Drained row set "
        "equals the batch FULL theta-join the oracle states. Same "
        "bounded state as the inner form: one shuffle per side on "
        "user_id, eviction once the watermark passes ts+upper.",
)
def streaming_interval_join_full_outer_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from change_data_capture_poc_spark.streaming.joins import (
        interval_join_streams,
    )

    ev = _stream_events_with_sentinel(spark, sf_dir)
    p = ev.where(
        (F.col("event_type") == "purchase")
        & (F.col("user_id").isNotNull())
    ).select(
        "user_id",
        F.col("event_id").alias("p_event_id"),
        F.col("ts").alias("p_ts"),
    )
    s = ev.where(
        (F.col("event_type") == "signup")
        & (F.col("user_id").isNotNull())
    ).select(
        F.col("user_id").alias("s_user_id"),
        F.col("event_id").alias("s_event_id"),
        F.col("ts").alias("s_ts"),
    )
    j = interval_join_streams(
        p, s,
        left_key="user_id", right_key="s_user_id",
        left_ts="p_ts", right_ts="s_ts",
        lower_seconds=7200, upper_seconds=0,
        how="full_outer",
    ).select(
        "p_event_id",
        "s_event_id",
        F.coalesce("user_id", "s_user_id").alias("user_id"),
        ((F.unix_micros("p_ts") - F.unix_micros("s_ts")) / 1000000)
        .cast("long")
        .alias("delta_s"),
    )
    # Sentinel rows join each other (same key, zero delta), so exactly
    # one (-1, -1) pair emits; null-safe-drop it batch-side (a plain
    # != would also drop every NULL-padded row).
    drained = _drain(j, "streaming_interval_join_full_outer_tbl", "append")
    return drained.where(
        ~F.col("p_event_id").eqNullSafe(F.lit(-1))
        & ~F.col("s_event_id").eqNullSafe(F.lit(-1))
    )


def _embeddings_stream_dir(sf_dir: str) -> str:
    return _stream_dir(sf_dir, "embeddings", "/emb")


@register(
    "streaming_centroid_assign_drain",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
    d AS (
        SELECT e.vec_id, c.cid,
               ROUND(list_reduce(list_transform(list_zip(e.v, c.cv),
                         p -> (p[1] - p[2]) * (p[1] - p[2])),
                     (a, b) -> a + b) + 1e-9, 6) AS dist
        FROM e, c
    )
    SELECT vec_id, cid AS cluster_id, dist FROM (
        SELECT vec_id, cid, dist,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cid) AS rn
        FROM d
    ) WHERE rn = 1
    """,
    doc="STREAMING ML scoring: the embedding feed assigned to its "
        "nearest centroid as rows arrive — readStream over the vector "
        "table, centroids read once from the static side and folded "
        "into the map stage (broadcast; no state, no shuffle — the "
        "canonical model-scoring stream). Distances round at 1e-6 "
        "with cid tie-breaks, so the streamed assignment equals the "
        "batch argmin the oracle states. This is the serving twin of "
        "kmeans_multi_iter's training loop.",
)
def streaming_centroid_assign_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from change_data_capture_poc_spark.sources.tables import load_table

    static = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    cents = static.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    # Peek the batch-read schema once (as _stream_events does for
    # events.parquet) instead of hardcoding it: if embeddings ever
    # ships a second physical encoding (double embeddings, bigint
    # label), the stream tracks the batch path automatically.
    emb_schema = spark.read.parquet(f"{sf_dir}/embeddings.parquet").schema
    stream = (
        spark.readStream.schema(emb_schema)
        .parquet(_embeddings_stream_dir(sf_dir))
        .select(
            "vec_id",
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
        )
    )
    dist = F.round(
        F.expr(
            "aggregate(zip_with(v, cv, (x, y) -> (x - y) * (x - y)), "
            "0D, (a, b) -> a + b)"
        )
        + F.lit(1e-9),
        6,
    )
    # bounded: k-row centroid table
    scored = stream.join(F.broadcast(cents)).select(
        "vec_id", "cid", dist.alias("dist")
    )
    # Stream-safe argmin: min_by inside a per-key streaming agg would
    # need state; the centroid set is tiny and PER-ROW, so fold the
    # argmin into the map stage with a single struct-min aggregate
    # over the 8 candidate columns instead. Simplest portable form:
    # group the 8 candidate rows per vec_id in complete mode.
    agg = scored.groupBy("vec_id").agg(
        F.min(F.struct("dist", "cid")).alias("best")
    )
    out = agg.select(
        "vec_id",
        F.col("best.cid").alias("cluster_id"),
        F.col("best.dist").alias("dist"),
    )
    return _drain(out, "streaming_centroid_assign_tbl", "complete")


def _documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table as a file stream, under the batch table's
    schema (file streams require one)."""
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    return spark.readStream.schema(schema).parquet(
        _stream_dir(sf_dir, "documents", "/docs")
    )


@register(
    "streaming_minhash_band_drain",
    oracle=f"""
    WITH g AS ({NGRAM_SQL}),
    {BAND_CTES_SQL}
    SELECT band_id, band_key,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS earliest_doc
    FROM bands GROUP BY band_id, band_key
    HAVING COUNT(*) >= 2
    """,
    doc="STREAMING content dedup front line: documents arrive as a "
        "stream, each is shingled + minhashed + banded IN THE MAP "
        "STAGE (the signature fold is stateless, so the whole LSH "
        "front end runs on a stream unchanged — same spark_bands as "
        "the batch path), and a running per-band aggregate maintains "
        "bucket occupancy (earliest doc + count). Buckets with >= 2 "
        "docs are the live collision set a dedup gate routes to exact "
        "verification; state is one row per occupied bucket, the "
        "band-key shuffle is the only shuffle. Complete-mode drain "
        "equals the batch GROUP BY the oracle states.",
)
def streaming_minhash_band_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    stream = _documents_stream(spark, sf_dir)
    bands = spark_bands(spark_grams(stream))
    agg = (
        bands.groupBy("band_id", "band_key")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("earliest_doc"),
        )
        .where(F.col("n_docs") >= 2)
    )
    return _drain(agg, "streaming_minhash_band_tbl", "complete")


@register(
    "streaming_chunk_drain",
    oracle=CHUNK_ORACLE,
    doc="STREAMING RAG chunking: documents arrive as a stream and the "
        "sliding-window chunker (operators/chunking.chunk_sliding_window — "
        "pure map stage: split, closed-form chunk count, "
        "sequence+explode, slice) runs UNMODIFIED on the streaming "
        "frame in append mode with zero state — the property that "
        "lets re-chunking ride the ingest stream instead of a nightly "
        "batch. Oracle is the batch chunker's SQL verbatim (same rows "
        "must come out of the streaming engine).",
)
def streaming_chunk_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _documents_stream(spark, sf_dir)
    out = chunk_sliding_window(stream.select("doc_id", "text"))
    return _drain(out, "streaming_chunk_tbl", "append")


# Shares the batch SemDeDup machinery verbatim: the seed-argmin
# assignment CTE (kept in lockstep with collect_centroids +
# centroid_argmin_expr) and the zero-norm-guarded normalization the
# batch oracle uses.
@register(
    "streaming_semdedup_assign_drain",
    oracle=f"""
    WITH {SEED_ASSIGN_SQL},
    norm AS (
        SELECT vec_id, cid,
               list_transform(e, x -> x /
                   CASE WHEN sqrt(list_dot_product(e, e)) = 0
                        THEN 1 ELSE sqrt(list_dot_product(e, e)) END) AS u
        FROM asgn
    )
    SELECT x.vec_id, x.cid AS cluster_id,
           CAST(COUNT(y.vec_id) AS BIGINT) AS n_near_lower,
           COUNT(y.vec_id) > 0 AS dropped
    FROM norm x LEFT JOIN norm y
      ON x.cid = y.cid AND y.vec_id < x.vec_id
     AND ROUND(list_dot_product(x.u, y.u), 6) >= 0.30
    GROUP BY x.vec_id, x.cid
    """,
    doc="STREAMING semantic dedup gate — the batch<->stream twin the "
        "other dedup families already have (streaming_minhash_band_"
        "drain for MinHash LSH): arriving vectors are assigned to the "
        "SAME 8 deterministic seed centroids as dedup_semantic_"
        "semdedup (collect_centroids + centroid_argmin_expr folded "
        "into the map stage — stateless), then checked against the "
        "BATCH index for a lower-id same-cluster member above the "
        "0.30 cosine threshold (keep-lowest, the batch rule). The "
        "join is stream-static on the cluster id, so a streamed "
        "vector only ever meets its own cluster block — the SemDeDup "
        "bounding argument unchanged on the stream (at 100 TB the "
        "cluster count grows ~sqrt(N), holding blocks bounded). "
        "Output per streamed vector: cluster, near-dup count below "
        "it, dropped flag; complete-mode drain equals the batch "
        "LEFT-JOIN aggregate the oracle states.",
)
def streaming_semdedup_assign_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from change_data_capture_poc_spark.functions.vectors import (
        centroid_argmin_expr,
        collect_centroids,
        dot_product,
        unit_normalize,
    )
    from change_data_capture_poc_spark.sources.tables import load_table

    static = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("e"),
    )
    seeds = collect_centroids(static, 8)
    # Batch index: assignment + normalized vector per existing member.
    index = static.select(
        F.col("vec_id").alias("b_vec_id"),
        centroid_argmin_expr(seeds).getField("cid").alias("cid"),
        unit_normalize(F.col("e")).alias("b_u"),
    )

    emb_schema = spark.read.parquet(f"{sf_dir}/embeddings.parquet").schema
    stream = (
        spark.readStream.schema(emb_schema)
        .parquet(_embeddings_stream_dir(sf_dir))
        .select(
            "vec_id",
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias(
                "e"
            ),
        )
        .select(
            "vec_id",
            centroid_argmin_expr(seeds).getField("cid").alias("cid"),
            unit_normalize(F.col("e")).alias("u"),
        )
    )
    # Stream-static LEFT join keyed on the cluster id; the near-dup
    # test (lower-id member above threshold) lives in the join
    # condition so zero-match vectors still emit a row. Cosine rounds
    # at 1e-6 with NO epsilon — lockstep with the batch SemDeDup
    # threshold convention (dedup_semantic_semdedup).
    cond = (
        (F.col("cid") == F.col("b_cid"))
        & (F.col("b_vec_id") < F.col("vec_id"))
        & (
            F.round(dot_product(F.col("u"), F.col("b_u")), 6)
            >= F.lit(0.30)
        )
    )
    joined = stream.join(
        index.withColumnRenamed("cid", "b_cid"), cond, "left"
    )
    agg = joined.groupBy("vec_id", "cid").agg(
        F.count("b_vec_id").cast("long").alias("n_near_lower")
    )
    out = agg.select(
        "vec_id",
        F.col("cid").alias("cluster_id"),
        "n_near_lower",
        (F.col("n_near_lower") > 0).alias("dropped"),
    )
    return _drain(out, "streaming_semdedup_assign_tbl", "complete")


@register(
    "streaming_suffixgram_dup_drain",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    g AS (
        SELECT doc_id,
               {span_hash_sql('s.pos', SPAN_K)}
                   AS gh
        FROM t, LATERAL (
            SELECT unnest(range(len(w) - {SPAN_K} + 1)) AS pos
        ) s
        WHERE len(w) >= {SPAN_K}
    )
    SELECT gh AS gram_hash,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(MIN(doc_id) AS BIGINT) AS earliest_doc
    FROM g GROUP BY gh
    HAVING COUNT(*) >= 2
    """,
    doc="STREAMING exact-substring dedup front line — the stream twin "
        "of dedup_substring_suffix_runs' detection stage (the pairing "
        "minhash bands / chunking / semdedup already have): documents "
        "arrive as a stream, every overlapping 8-token suffix-gram is "
        "hashed IN THE MAP STAGE (stateless — same md5 gram keys as "
        "the batch path), and a running per-gram aggregate maintains "
        "occurrence count + earliest doc. Grams reaching >= 2 are the "
        "live duplicated-substring set an ExactSubstr gate routes to "
        "run-merging/removal; state is one row per duplicated gram, "
        "the gram-hash shuffle is the only shuffle. Complete-mode "
        "drain equals the batch GROUP BY the oracle states.",
)
def streaming_suffixgram_dup_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    stream = _documents_stream(spark, sf_dir)
    grams = stream.select(
        "doc_id", F.split("text", " ").alias("w")
    ).where(F.size("w") >= SPAN_K).select(
        "doc_id",
        F.explode(span_hashes(SPAN_K)).alias("gram_hash"),
    )
    agg = (
        grams.groupBy("gram_hash")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.min("doc_id").cast("long").alias("earliest_doc"),
        )
        .where(F.col("n_occurrences") >= 2)
    )
    return _drain(agg, "streaming_suffixgram_dup_tbl", "complete")


@register(
    "streaming_hll_register_drain",
    oracle=f"""
    WITH reg AS ({HLL_REGISTERS_SQL}),
    est AS ({hll_estimate_sql('reg', 'event_type')})
    SELECT event_type, hit AS registers_hit, zero_regs,
           ROUND(e + 1e-9, 6) AS hll_estimate
    FROM est
    """,
    doc="STREAMING distinct-count sketch — agg_hll_portable's stream "
        "twin: events arrive as a stream, each row hashes to its "
        "(event_type, register, rank) IN THE MAP STAGE, and the "
        "running per-register MAX is the only streaming state (one "
        "row per (event_type, register), <= 64 per type, bounded "
        "forever — the associativity pytest pins why). The estimate "
        "arithmetic (scaled-integer register sum, linear-counting "
        "correction) is a batch readout over the drained registers — "
        "the lambda-architecture shape where the stream maintains the "
        "sketch and queries finish it. Complete-mode register drain "
        "equals the batch register table, so the whole result shares "
        "the batch oracle's arithmetic verbatim.",
)
def streaming_hll_register_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = _stream_events(spark, sf_dir).where(F.col("user_id").isNotNull())
    regs = _drain(
        hll_registers(ev), "streaming_hll_register_tbl", "complete"
    )

    # Batch readout over the drained registers (the stream's only
    # state); same scaled-integer arithmetic as agg_hll_portable.
    s = hll_sums(regs, "event_type")
    zero_regs, e_raw = hll_raw_estimate(F.col("hit"), F.col("isum"))
    est = s.select(
        "event_type",
        F.col("hit").alias("registers_hit"),
        zero_regs.alias("zero_regs"),
        e_raw.alias("e_raw"),
    )
    e = hll_estimate(F.col("zero_regs"), F.col("e_raw"))
    return est.select(
        "event_type",
        "registers_hit",
        "zero_regs",
        F.round(e + F.lit(1e-9), 6).alias("hll_estimate"),
    )


@register(
    "streaming_cms_register_drain",
    oracle=f"""
    {CMS_ORACLE_CORE}
    wb AS (
        SELECT ex.word, r.j, {cms_bucket_sql('ex.word')} AS b
        FROM ex, (SELECT unnest(range({CMS_D})) AS j) r
    )
    SELECT wb.word, CAST(MIN(reg.cnt) AS BIGINT) AS cms_estimate
    FROM wb JOIN reg ON wb.j = reg.j AND wb.b = reg.b
    GROUP BY wb.word
    """,
    doc="STREAMING frequency sketch — agg_cms_portable's stream twin "
        "(the same lambda shape as streaming_hll_register_drain): "
        "document tokens arrive as a stream, each one hashes to its "
        "(row, bucket) register IN THE MAP STAGE, and the running "
        "per-register COUNT is the only streaming state (bounded at "
        "rows x width forever; counts merge by SUM — the "
        "associativity the batch pytest pins). The word-level "
        "estimate readout (MIN over the word's buckets) finishes "
        "batch-side over the drained registers joined to the vocab "
        "frame, sharing the batch oracle's arithmetic verbatim. "
        "Complete-mode register drain equals the batch register "
        "table, so estimates match the batch sketch exactly.",
)
def streaming_cms_register_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    stream = _documents_stream(spark, sf_dir)
    t = stream.select(
        F.explode(F.split("text", " ")).alias("word")
    ).where(F.col("word") != "")
    regs = _drain(cms_registers(t), "streaming_cms_register_tbl", "complete")

    # Batch readout over the drained registers (the stream's only
    # state): per-word MIN over its buckets, same arithmetic as
    # agg_cms_portable.
    from change_data_capture_poc_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    ex = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("_n"))
        .drop("_n")
    )
    return cms_estimates(ex, regs, ["word"])


@register(
    "streaming_bloom_bitset_drain",
    oracle=BLOOM_ORACLE,
    doc="STREAMING Bloom membership sketch — dedup_bloom_portable's "
        "stream twin (completing the portable-sketch trio's stream "
        "pairings: HLL registers, CMS registers, Bloom bits): "
        "train-split documents arrive as a stream, each span "
        "fingerprint sets its 3 bits IN THE MAP STAGE, and the "
        "distinct bit set is the only streaming state (bounded at m "
        "= 65536 rows forever; bits merge by set-union — the OR "
        "associativity that lets every executor/batch maintain its own "
        "filter and union at the end). The probe readout (test-split "
        "flags, exact-truth FPR grading) finishes batch-side over "
        "the drained bit set, sharing the batch oracle verbatim.",
)
def streaming_bloom_bitset_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from change_data_capture_poc_spark.sources.tables import load_table

    stream = _documents_stream(spark, sf_dir)
    tr_grams = (
        stream.withColumn("h", md5_mod(F.col("doc_id"), 100))
        .where(F.col("h") < 80)
        .select(F.split("text", " ").alias("w"))
        .where(F.size("w") >= SPAN_K)
        .select(F.explode(span_hashes(SPAN_K)).alias("gh"))
    )
    bit_stream = (
        tr_grams.select(F.explode(F.array(*bloom_bits())).alias("bit"))
        .groupBy("bit")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    bits = _drain(
        bit_stream, "streaming_bloom_bitset_tbl", "complete"
    ).select("bit")

    # Batch readout over the drained bit set (the stream's only
    # state): SHARED bloom_readout, so the flag semantics cannot drift
    # from dedup_bloom_portable's.
    tr, te = bloom_split_spans(load_table(spark, sf_dir, "documents"))
    return bloom_readout(te, tr, bits)


@register(
    "streaming_weighted_reservoir_drain",
    oracle=WPS_ORACLE,
    doc="STREAMING weighted reservoir sampling — "
        "corpus_weighted_priority_sample's stream twin and the "
        "textbook A-Res use case (Efraimidis & Spirakis designed the "
        "priority key precisely so a reservoir can be maintained "
        "one-pass over a stream): documents arrive as a stream, each "
        "computes its deterministic priority u^(1/w) IN THE MAP "
        "STAGE, and applyInPandasWithState keeps per source EXACTLY "
        "the current top-k reservoir plus a seen-counter — state "
        "bounded at k rows per source FOREVER, every arrival either "
        "displaces the reservoir minimum or is dropped. Update-mode "
        "drain + keep-latest-version readout equals the batch A-Res "
        "query, sharing its oracle verbatim — the determinism that "
        "makes a streaming sample auditable after the fact.",
)
def streaming_weighted_reservoir_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from change_data_capture_poc_spark.streaming.stateful import (
        weighted_reservoir,
    )

    stream = _documents_stream(spark, sf_dir)
    scored = wps_scored(stream)
    from pyspark.sql import Window

    out = weighted_reservoir(scored, WPS_K)
    drained = _drain(out, "streaming_weighted_reservoir_tbl", "update")
    w = Window.partitionBy("source")
    return (
        drained.withColumn("vmax", F.max("version").over(w))
        .where(F.col("version") == F.col("vmax"))
        .select("source", "doc_id", "n_chars", "priority")
    )


@register(
    "streaming_histogram_register_drain",
    oracle=(
        f"WITH {HIST_ORACLE_CORE} "
        "SELECT event_type, q, n_rows, n_clipped, registers_hit, "
        "hist_estimate FROM readout"
    ),
    doc="STREAMING quantile sketch — agg_histogram_quantile_portable's "
        "stream twin (the same lambda shape as the HLL/CMS/Bloom "
        "drains): events arrive as a stream, each row maps to its "
        "fixed-grid bucket IN THE MAP STAGE (the grid is fixed a "
        "priori — the property that makes the sketch streamable at "
        "all: no data-dependent bounds pass), and the running per-"
        "(event_type, bucket) count+clip tally is the ONLY streaming "
        "state — bounded at types x 512 registers forever; counts "
        "merge by SUM, the associativity the pipeline8 pytest pins. "
        "The interpolated-rank quantile readout finishes batch-side "
        "over the drained registers, sharing the batch oracle's "
        "arithmetic verbatim, so complete-mode drain estimates equal "
        "the batch sketch exactly.",
)
def streaming_histogram_register_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = _stream_events(spark, sf_dir).where(F.col("value").isNotNull())
    bucket, clipped = hist_register_exprs()
    marked = ev.select("event_type", "value", bucket, clipped)
    reg_stream = marked.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("clipped").cast("long").alias("clip_cnt"),
    )
    regs = _drain(
        reg_stream, "streaming_histogram_register_tbl", "complete"
    )
    # The readout joins two descendants of the drained table (registers
    # + clip totals); Spark 4.1.x's memory-sink relation fails
    # self-join attribute dedup with INTERNAL_ERROR "conflicting
    # references", so snapshot the <= types x 512-row register table
    # first — bounded by the sketch's own state bound, never
    # data-sized. Version-pinned: tests/test_streaming.py::
    # test_memory_sink_self_join_workaround_still_needed reproduces
    # the raw Spark bug and FAILS when an upgrade fixes it — remove
    # this localCheckpoint (and the canary) then.
    regs = regs.localCheckpoint(eager=True)
    clip = regs.groupBy("event_type").agg(
        F.sum("clip_cnt").cast("long").alias("n_clipped")
    )
    return hist_quantile_readout(
        regs.select("event_type", "bucket", "cnt"), clip
    )


@register(
    "streaming_quarantine_drain",
    oracle=QUAR_REPORT_ORACLE,
    doc="STREAMING parse-health dashboard — cdc_quarantine_report's "
        "stream twin (the production shape: the quarantine dashboard "
        "watches the landing directory live, it does not batch-scan "
        "it nightly): raw envelope lines arrive as a text stream from "
        "the day-partitioned log, each line is parse-judged and "
        "reason-classified IN THE MAP STAGE (from_json through the "
        "real envelope schema, success = non-null lsn — the replay "
        "query's judge, so a stream row can never be classified "
        "differently than the batch path), and a running (day, "
        "reason) count is the only streaming state (bounded at "
        "|days| x 3 rows forever). The batch-side readout pivots the "
        "drained counts into the identical report columns — shared "
        "oracle, so stream == batch is the checked contract.",
)
def streaming_quarantine_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import types as T

    from change_data_capture_poc_spark.cdc.envelope import envelope_schema

    d = ensure_quarantine_log(spark, sf_dir)
    stream = (
        spark.readStream.schema(
            T.StructType(
                [
                    T.StructField("value", T.StringType()),
                    T.StructField("day", T.StringType()),
                ]
            )
        )
        .format("text")
        .load(d)
    )
    lsn = (
        F.from_json("value", envelope_schema(QUAR_ROW_FIELDS))
        .getField("payload")
        .getField("source")
        .getField("lsn")
    )
    reason = quarantine_reason(lsn.isNotNull(), F.col("value"))
    counts = (
        stream.select(F.col("day").cast("string").alias("day"), reason.alias("reason"))
        .groupBy("day", "reason")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    drained = _drain(
        counts, "streaming_quarantine_tbl", "complete"
    )
    return quarantine_report(drained, F.sum("cnt"), F.col("cnt"))


@register(
    "streaming_dedup_ttl_drain",
    oracle="SELECT DISTINCT user_id FROM events",
    doc="Streaming dedup with TTL-BOUNDED state "
        "(dropDuplicatesWithinWatermark): the plain streaming "
        "dropDuplicates keeps every key it has ever seen — state "
        "grows with key cardinality forever, the thing that actually "
        "kills month-long streaming jobs at 100 TB. The "
        "within-watermark variant expires a key's dedup state once "
        "the event-time watermark passes it, bounding state at "
        "(keys active inside one watermark window). The 45-day delay "
        "covers this corpus's whole 30-day span, so the drain equals "
        "plain DISTINCT — same oracle as streaming_dedup_drain, "
        "different (bounded) state machine underneath; a production "
        "deployment shrinks the delay to its real duplicate horizon.",
)
def streaming_dedup_ttl_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = (
        _stream_events(spark, sf_dir)
        .select("user_id", "ts")
        .withWatermark("ts", "45 days")
        .dropDuplicatesWithinWatermark(["user_id"])
        .select("user_id")
    )
    return _drain(ev, "streaming_dedup_ttl_tbl", "append")


@register(
    "streaming_heavy_hitters_drain",
    oracle=MG_ORACLE,
    doc="STREAMING heavy hitters — text_heavy_hitters_misra_gries's "
        "stream twin: document tokens arrive as a stream; each "
        "micro-batch partition folds through a bounded Misra-Gries "
        "summary IN THE MAP STAGE (stateless Arrow mapInPandas — the "
        "counters live only inside one task's batch iterator), and "
        "the streaming state is just the DISTINCT candidate set "
        "(complete-mode groupBy, bounded by the candidate vocabulary "
        "<= k x slices, in practice tiny). The superset guarantee "
        "survives the stream split by the same pigeonhole as the "
        "batch split: a token over-threshold globally is "
        "over-threshold in at least one slice of ANY partition of "
        "the multiset — micro-batches included. The exact-rescan "
        "readout (threshold on exact counts, restricted to drained "
        "candidates via broadcast semi-join) finishes batch-side, so "
        "output is EXACT and identical to the batch twin's oracle.",
)
def streaming_heavy_hitters_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from change_data_capture_poc_spark.sources.tables import load_table

    stream = _documents_stream(spark, sf_dir)
    # No empty-token filter: the batch twin (and its oracle) count
    # every split token, so the candidate superset must too.
    toks = stream.select(
        F.explode(F.split("text", " ")).alias("tok")
    )
    cand_stream = (
        mg_candidates(toks)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("_hits"))
    )
    cand = _drain(
        cand_stream, "streaming_heavy_hitters_tbl", "complete"
    ).select("tok")

    btoks = load_table(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("tok")
    )
    return mg_heavy_hitters(btoks, cand)


@register(
    "streaming_chunk_cdc_drain",
    oracle=CDC_CHUNK_ORACLE,
    doc="STREAMING content-defined chunking — chunk_content_defined's "
        "stream twin: documents arrive as a stream and the identical "
        "map-only fold (operators/chunking.cdc_chunk_fold_expr: the running "
        "cut-count as a left fold over the document's own words — no "
        "window, no shuffle, no state) chunks each one on arrival; "
        "append-mode drain, so the streaming engine adds NOTHING but "
        "transport. This is the ingest-time shape of the chunk store: "
        "a document is chunked once, the moment it lands, and only "
        "(ids, fingerprint) rows flow downstream to the dedup index.",
)
def streaming_chunk_cdc_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    stream = _documents_stream(spark, sf_dir)
    out = cdc_chunks_from(
        stream.select("doc_id", "source", "text")
    ).select("doc_id", "chunk_idx", "n_words", "chunk_fp")
    return _drain(out, "streaming_chunk_cdc_tbl", "append")


_URL_DEDUP_STREAM_ORACLE = f"""
    WITH {URL_CANON_CTE_SQL}
    SELECT canonical_url,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(doc_id) AS keeper_doc_id
    FROM canon GROUP BY canonical_url
    """


@register(
    "streaming_url_dedup_drain",
    oracle=_URL_DEDUP_STREAM_ORACLE,
    doc="STREAMING URL dedup — the front-line crawl dedup key "
        "(dedup_url_canonical) maintained as stream state: documents "
        "arrive, the messy URL is synthesized + canonicalized IN THE "
        "MAP STAGE (pure JVM regex, stateless — the whole "
        "normalization front end runs on a stream unchanged), and a "
        "running per-canonical-key aggregate keeps occupancy + the "
        "keep-first doc. Complete-mode drain: the aggregate (not "
        "dropDuplicates, whose keeper would depend on arrival order) "
        "makes the streamed keeper MIN(doc_id), deterministically "
        "equal to the batch census. State is one row per canonical "
        "key — web-host-bounded forever; the key shuffle is the only "
        "shuffle. n_raw_variants is batch-only: a second stateful "
        "aggregation level is not expressible in one streaming query "
        "(Spark single-stateful-agg rule), and the variant census is "
        "an offline readout anyway.",
)
def streaming_url_dedup_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _documents_stream(spark, sf_dir)
    canon = stream.select(
        "doc_id",
        canonical_url_col(raw_url_col()).alias("canonical_url"),
    )
    agg = canon.groupBy("canonical_url").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("doc_id").alias("keeper_doc_id"),
    )
    return _drain(agg, "streaming_url_dedup_tbl", "complete")
