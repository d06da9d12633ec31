"""Checkpoint recovery — the exactly-once story (SURVEY.md T1/T6).

The reference delegates delivery guarantees to Kafka Connect's offset
commits (connectors/s3-sink.json:24); Structured Streaming's analogue
is the checkpoint (source offsets + state store). These tests kill a
query mid-stream and restart it from the same checkpoint:

- lost state     -> undercounted aggregates after restart;
- replayed input -> overcounted aggregates / duplicated log rows;
- exactly-once   -> the restarted run converges to the batch oracle.

The SCD2 materializer additionally exercises foreachBatch replay: a
crash between the log write and the offset commit re-runs the whole
batch, so the log write, which overwrites the batch's own
``batch_id=<id>`` directory, must absorb the replay instead of
appending duplicates, and the table must end equal to the recompute.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from change_data_capture_poc_spark.cdc.envelope import (
    PRODUCT_FIELDS,
    decode_envelope,
)
from change_data_capture_poc_spark.cdc.generator import CdcGenerator
from change_data_capture_poc_spark.cdc.scd2 import scd2_recompute
from change_data_capture_poc_spark.streaming import (
    run_incremental_scd2,
    stream_envelope_log,
)
from tests.test_streaming import _write_chunks


def _stop_after_first_batch(q, timeout=120) -> int:
    """Let the query finish >=1 micro-batch, then stop it (simulated
    crash). Returns the number of completed batches observed."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        done = [
            p
            for p in q.recentProgress
            if p.numInputRows > 0
        ]
        if done:
            q.stop()
            q.awaitTermination(60)
            return len(done)
        time.sleep(0.2)
    q.stop()
    raise TimeoutError("no micro-batch completed before the timeout")


def test_incremental_scd2_recovers_from_checkpoint_restart(
    spark, tmp_path
):
    gen = CdcGenerator(seed=11)
    df = gen.products_df(spark, num_records=150)
    src = str(tmp_path / "src")
    _write_chunks(spark, df, src, n_chunks=6)
    paths = dict(
        log_path=str(tmp_path / "log"),
        scd2_path=str(tmp_path / "scd2"),
        checkpoint=str(tmp_path / "ckpt"),
        n_buckets=4,
    )

    # Run 1: one file per micro-batch, killed after the first completed
    # batch — a crash with 5 of 6 files unprocessed.
    stream = stream_envelope_log(spark, src, PRODUCT_FIELDS,
                                 max_files_per_trigger=1)
    q1, inc1 = run_incremental_scd2(spark, stream, **paths)
    n_done = _stop_after_first_batch(q1)
    assert n_done < 6, "crash happened after every batch; test is vacuous"

    # Run 2: same checkpoint — must resume from committed offsets (or
    # replay the in-flight batch idempotently) and drain the rest.
    stream2 = stream_envelope_log(spark, src, PRODUCT_FIELDS,
                                  max_files_per_trigger=1)
    q2, inc2 = run_incremental_scd2(spark, stream2, **paths)
    assert q2.awaitTermination(300)

    batch = scd2_recompute(decode_envelope(df))
    got = [tuple(r) for r in inc2.result().collect()]
    want = [tuple(r) for r in batch.collect()]
    assert set(got) == set(want)
    # No duplicates anywhere: every (id, version) appears exactly once.
    assert len(got) == len(set(got)) == len(want)

    # The landed log holds each source event exactly once even if the
    # killed batch replayed (batch_id dynamic overwrite absorbed it).
    log_rows = spark.read.parquet(paths["log_path"])
    assert log_rows.count() == df.count()
    assert (
        log_rows.groupBy("log_seq_num").count().where("count > 1").count()
        == 0
    )


def test_update_mode_agg_recovers_state_and_offsets(spark, tmp_path):
    """The streaming_net_effect_drain state shape (per-key min_by/
    max_by/count in update mode) across a kill + restart: union the
    updates emitted by both runs, keep each key's latest (max n_ops)
    row — must equal the batch aggregate. Overcounts mean replayed
    offsets; undercounts mean lost state-store contents."""
    rows = [
        (i, i % 7, float(i), ["c", "u", "u", "d"][i % 4])
        for i in range(160)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, value double, op string"
    )
    src = str(tmp_path / "events")
    _write_chunks(spark, df, src, n_chunks=5)
    ckpt = str(tmp_path / "ckpt")
    schema = "event_id long, user_id long, value double, op string"

    def agg_stream():
        ev = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )
        return ev.groupBy("user_id").agg(
            F.min_by("op", "event_id").alias("first_op"),
            F.max_by("op", "event_id").alias("last_op"),
            F.max_by("value", "event_id").alias("last_value"),
            F.max("event_id").alias("last_event_id"),
            F.count(F.lit(1)).alias("n_ops"),
        )

    # The memory sink refuses checkpoint recovery; foreachBatch is the
    # recoverable sink (same as the SCD2 materializer) — collect each
    # batch's emitted updates driver-side.
    emitted: list[tuple] = []

    def collect_batch(batch_df, batch_id):
        emitted.extend(tuple(r) for r in batch_df.collect())

    q1 = (
        agg_stream().writeStream.foreachBatch(collect_batch)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .start()
    )
    n_done = _stop_after_first_batch(q1)
    assert n_done < 5

    q2 = (
        agg_stream().writeStream.foreachBatch(collect_batch)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q2.awaitTermination(300)
    q2.stop()

    both = spark.createDataFrame(
        emitted,
        "user_id long, first_op string, last_op string, "
        "last_value double, last_event_id long, n_ops long",
    )
    # n_ops strictly increases per key, so max_by(n_ops) is the final
    # state regardless of which run emitted it.
    final = both.groupBy("user_id").agg(
        F.max_by("first_op", "n_ops").alias("first_op"),
        F.max_by("last_op", "n_ops").alias("last_op"),
        F.max_by("last_value", "n_ops").alias("last_value"),
        F.max_by("last_event_id", "n_ops").alias("last_event_id"),
        F.max("n_ops").alias("n_ops"),
    )
    want = df.groupBy("user_id").agg(
        F.min_by("op", "event_id").alias("first_op"),
        F.max_by("op", "event_id").alias("last_op"),
        F.max_by("value", "event_id").alias("last_value"),
        F.max("event_id").alias("last_event_id"),
        F.count(F.lit(1)).alias("n_ops"),
    )
    assert sorted(map(tuple, final.collect())) == sorted(
        map(tuple, want.collect())
    )
