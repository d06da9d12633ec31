"""Structured Streaming tests (SURVEY.md §2.8, §5 item 4).

- ingest: envelope file stream → partitioned gzip JSON sink, exactly
  the landed rows (T1, checkpointed).
- incremental SCD2: multi-batch foreachBatch materialization converges
  to the single-shot batch recompute (streaming ↔ batch equivalence);
  one micro-batch runs at most three Spark jobs and reads no older log
  batch, and replayed, empty and op-less batches leave the table equal
  to the recompute.
- session_window on static data matches the lag/cumsum sessionize
  operator.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from change_data_capture_poc_spark.cdc.envelope import (
    PRODUCT_FIELDS,
    decode_envelope,
)
from change_data_capture_poc_spark.cdc.generator import CdcGenerator
from change_data_capture_poc_spark.cdc.scd2 import scd2_recompute
from change_data_capture_poc_spark.operators import sessionize
from change_data_capture_poc_spark.streaming import (
    run_incremental_scd2,
    session_window_agg,
    stream_envelope_log,
    stream_to_partitioned_json,
)


def _write_chunks(spark, df, path, n_chunks):
    """Split an envelope frame into n json files (micro-batch fodder)."""
    rows = df.toJSON().collect()
    os.makedirs(path, exist_ok=True)
    size = (len(rows) + n_chunks - 1) // n_chunks
    for c in range(n_chunks):
        with open(os.path.join(path, f"chunk-{c:03d}.json"), "w") as f:
            f.write("\n".join(rows[c * size:(c + 1) * size]))
    return len(rows)


def test_stream_ingest_partitioned_sink(spark, tmp_path):
    gen = CdcGenerator(seed=3)
    df = gen.products_df(spark, num_records=80)
    src = str(tmp_path / "src")
    n = _write_chunks(spark, df, src, n_chunks=4)

    stream = stream_envelope_log(spark, src, PRODUCT_FIELDS)
    assert stream.isStreaming
    q = stream_to_partitioned_json(
        stream, str(tmp_path / "landed"), str(tmp_path / "ckpt")
    )
    # assert the drain FINISHED — on timeout awaitTermination returns
    # False and the sink would be read while writes are in flight.
    assert q.awaitTermination(120)

    parts = glob.glob(str(tmp_path / "landed" / "year=*" / "month=*" / "day=*"))
    assert parts
    back = spark.read.json(str(tmp_path / "landed"))
    assert back.count() == n


def test_incremental_scd2_converges_to_batch(spark, tmp_path):
    gen = CdcGenerator(seed=5)
    df = gen.products_df(spark, num_records=120)
    src = str(tmp_path / "src")
    _write_chunks(spark, df, src, n_chunks=5)

    # Stream one file per micro-batch through the incremental merge.
    stream = stream_envelope_log(spark, src, PRODUCT_FIELDS,
                                 max_files_per_trigger=1)
    q, inc = run_incremental_scd2(
        spark,
        stream,
        log_path=str(tmp_path / "log"),
        scd2_path=str(tmp_path / "scd2"),
        checkpoint=str(tmp_path / "ckpt"),
    )
    assert q.awaitTermination(300)  # False = still running, see above

    batch = scd2_recompute(decode_envelope(df))
    got = {tuple(r) for r in inc.result().collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want


def test_session_window_matches_sessionize(spark):
    import datetime

    base = datetime.datetime(2024, 1, 1, 10, 0, 0)
    rows = []
    for uid in (1, 2):
        # gaps: 300, 400, 1800 (EXACTLY the threshold — session_window
        # MERGES touching intervals, so same session), 200, 1800.5
        # (sub-second over — splits; a long-cast gap would merge it),
        # 4800 (splits)
        offs = [0, 300, 700, 2500, 2700, 4500.5, 9300.5]
        rows += [
            (uid, base + datetime.timedelta(seconds=o + uid), float(o))
            for o in offs
        ]
    df = spark.createDataFrame(rows, "user_id bigint, ts timestamp, value double")

    sw = session_window_agg(df, key="user_id", ts="ts", gap="30 minutes")
    # sessionize + groupBy gives the same partitioning of events.
    sz = (
        sessionize(df, key="user_id", ts="ts", gap_seconds=1800)
        .groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n_events"),
             F.sum("value").alias("value_sum"),
             F.min("ts").alias("session_start"))
    )
    a = {(r.user_id, r.session_start, r.n_events, r.value_sum)
         for r in sw.collect()}
    b = {(r.user_id, r.session_start, r.n_events, r.value_sum)
         for r in sz.collect()}
    assert a == b
    assert len(a) == 6  # 3 sessions per user


def test_watermark_drops_late_data(spark, tmp_path):
    """T5: watermarked tumbling-window aggregation in append mode.

    Batch 1 advances event time to 12:00; with a 10-minute watermark the
    [10:00, 10:10) window is finalized and emitted. Batch 2 delivers a
    late event for that closed window — it must be dropped, not emitted
    as a correction (append semantics)."""
    import os

    src = str(tmp_path / "src")
    os.makedirs(src)
    with open(os.path.join(src, "b1.json"), "w") as f:
        f.write('{"user_id": 1, "sec": 36000, "value": 1.0}\n')   # 10:00
        f.write('{"user_id": 1, "sec": 43200, "value": 2.0}\n')   # 12:00
    stream = (
        spark.readStream.schema("user_id long, sec long, value double")
        .option("maxFilesPerTrigger", 1)
        .json(src)
        .select(F.timestamp_seconds("sec").alias("ts"), "value")
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
    )
    emitted = []

    def sink(df, _bid):
        emitted.extend(df.collect())

    ckpt = str(tmp_path / "ckpt")
    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    finalized = {(r.w.start.hour, r.w.start.minute): (r.n, r.s) for r in emitted}
    assert finalized.get((10, 0)) == (1, 1.0)  # 10:00 window closed

    # Batch 2: a late event inside the already-finalized 10:00 window.
    with open(os.path.join(src, "b2.json"), "w") as f:
        f.write('{"user_id": 1, "sec": 36060, "value": 100.0}\n')  # 10:01
    emitted.clear()
    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not any(
        r.w.start.hour == 10 and r.w.start.minute == 0 for r in emitted
    ), "late event must be dropped by the watermark"


def test_stream_dedup_across_microbatches(spark, tmp_path):
    """Re-delivered keys in LATER micro-batches must be dropped: write
    the same ids into two chunk files, force one file per trigger, and
    expect exactly one row per id (unbounded-state variant)."""
    import json as _json

    from change_data_capture_poc_spark.streaming.dedup import dedup_stream

    src = str(tmp_path / "dsrc")
    os.makedirs(src)
    rows_a = [{"k": i, "ts": f"2024-01-01 10:00:{i:02d}", "v": i}
              for i in range(6)]
    rows_b = [{"k": i, "ts": f"2024-01-01 10:01:{i:02d}", "v": i + 100}
              for i in range(3, 9)]  # 3,4,5 re-delivered
    for name, rows in (("a", rows_a), ("b", rows_b)):
        with open(os.path.join(src, f"{name}.json"), "w") as f:
            f.write("\n".join(_json.dumps(r) for r in rows))

    stream = (
        spark.readStream.schema("k int, ts string, v int")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    out = dedup_stream(stream, ["k"])
    q = (
        out.writeStream.format("parquet")
        .option("path", str(tmp_path / "dout"))
        .option("checkpointLocation", str(tmp_path / "dckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(str(tmp_path / "dout"))
    assert got.count() == 9  # ids 0..8 exactly once
    assert got.select("k").distinct().count() == 9


def test_stream_dedup_within_watermark(spark, tmp_path):
    """The bounded-state variant builds and runs: watermarked dedup
    drops in-window re-deliveries (single drain batch)."""
    import json as _json

    from change_data_capture_poc_spark.streaming.dedup import dedup_stream

    src = str(tmp_path / "wsrc")
    os.makedirs(src)
    rows = [{"k": 1, "ts": "2024-01-01 10:00:00"},
            {"k": 1, "ts": "2024-01-01 10:00:05"},   # in-window dup
            {"k": 2, "ts": "2024-01-01 10:00:10"}]
    with open(os.path.join(src, "a.json"), "w") as f:
        f.write("\n".join(_json.dumps(r) for r in rows))

    stream = (
        spark.readStream.schema("k int, ts string")
        .json(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    out = dedup_stream(stream, ["k"], event_time_col="ts",
                       watermark_delay="10 minutes")
    q = (
        out.writeStream.format("parquet")
        .option("path", str(tmp_path / "wout"))
        .option("checkpointLocation", str(tmp_path / "wckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(str(tmp_path / "wout"))
    assert got.select("k").distinct().count() == 2
    assert got.count() == 2


def test_stream_stream_interval_join(spark, tmp_path):
    """Orders stream x events stream: each order matches only events
    within [order_ts - 0s, order_ts + 30s] for the same key."""
    import json as _json

    from change_data_capture_poc_spark.streaming.joins import (
        interval_join_streams,
    )

    lsrc, rsrc = str(tmp_path / "l"), str(tmp_path / "r")
    for p in (lsrc, rsrc):
        os.makedirs(p)
    orders = [{"o_key": 1, "o_ts": "2024-01-01 10:00:00", "o_id": 11},
              {"o_key": 2, "o_ts": "2024-01-01 10:05:00", "o_id": 22}]
    events = [
        {"e_key": 1, "e_ts": "2024-01-01 10:00:10", "e_id": 1},   # match o11
        {"e_key": 1, "e_ts": "2024-01-01 10:02:00", "e_id": 2},   # too late
        {"e_key": 2, "e_ts": "2024-01-01 10:05:20", "e_id": 3},   # match o22
        {"e_key": 3, "e_ts": "2024-01-01 10:00:10", "e_id": 4},   # no key
    ]
    with open(os.path.join(lsrc, "a.json"), "w") as f:
        f.write("\n".join(_json.dumps(r) for r in orders))
    with open(os.path.join(rsrc, "a.json"), "w") as f:
        f.write("\n".join(_json.dumps(r) for r in events))

    lstream = (
        spark.readStream.schema("o_key int, o_ts string, o_id int")
        .json(lsrc)
        .withColumn("o_ts", F.col("o_ts").cast("timestamp"))
    )
    rstream = (
        spark.readStream.schema("e_key int, e_ts string, e_id int")
        .json(rsrc)
        .withColumn("e_ts", F.col("e_ts").cast("timestamp"))
    )
    joined = interval_join_streams(
        lstream, rstream,
        left_key="o_key", right_key="e_key",
        left_ts="o_ts", right_ts="e_ts",
        lower_seconds=0, upper_seconds=30,
    )
    q = (
        joined.writeStream.format("parquet")
        .option("path", str(tmp_path / "jout"))
        .option("checkpointLocation", str(tmp_path / "jckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.o_id, r.e_id)
           for r in spark.read.parquet(str(tmp_path / "jout")).collect()}
    assert got == {(11, 1), (22, 3)}


def test_stream_stream_outer_interval_join_null_padding(spark):
    """Left-outer drain: purchases with no in-window signup surface
    exactly once as NULL-padded rows, matched purchases carry a
    non-negative delta within the interval, the sentinel never leaks,
    and the drained set equals the batch left theta-join."""
    from change_data_capture_poc_spark.registry import all_queries

    sf = "/root/testdata/sf0.001"
    rows = (
        all_queries()["streaming_interval_join_outer_drain"]
        .fn(spark, sf)
        .collect()
    )
    assert all(r.p_event_id != -1 for r in rows)
    padded = [r for r in rows if r.s_event_id is None]
    matched = [r for r in rows if r.s_event_id is not None]
    assert padded and matched
    for r in padded:
        assert r.delta_s is None
    for r in matched:
        assert 0 <= r.delta_s <= 7200

    ev = spark.read.parquet(f"{sf}/events.parquet")
    if dict(ev.dtypes)["ts"] != "timestamp_ntz":
        from change_data_capture_poc_spark.sources.tables import load_table

        ev = load_table(spark, sf, "events")
    p = ev.where(
        (F.col("event_type") == "purchase") & F.col("user_id").isNotNull()
    ).select("user_id", F.col("event_id").alias("pid"), F.col("ts").alias("pts"))
    s = ev.where(F.col("event_type") == "signup").select(
        F.col("user_id").alias("su"),
        F.col("event_id").alias("sid"),
        F.col("ts").alias("sts"),
    )
    batch = p.join(
        s,
        (F.col("user_id") == F.col("su"))
        & (F.col("sts") >= F.col("pts") - F.expr("INTERVAL 2 HOURS"))
        & (F.col("sts") <= F.col("pts")),
        "left",
    )
    want = {(r.pid, r.sid) for r in batch.collect()}
    assert {(r.p_event_id, r.s_event_id) for r in rows} == want


def test_stream_stream_full_outer_interval_join_both_sides_padded(spark):
    """Full-outer drain: BOTH unmatched classes surface NULL-padded —
    purchases with no in-window signup (NULL s side) and signups with
    no purchase in the following 2 h (NULL p side) — the sentinel
    pair never leaks, and the drained set equals the batch full
    theta-join."""
    from change_data_capture_poc_spark.registry import all_queries
    from change_data_capture_poc_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    rows = (
        all_queries()["streaming_interval_join_full_outer_drain"]
        .fn(spark, sf)
        .collect()
    )
    assert all(r.p_event_id != -1 and r.s_event_id != -1
               for r in rows
               if r.p_event_id is not None and r.s_event_id is not None)
    p_padded = [r for r in rows if r.p_event_id is None]
    s_padded = [r for r in rows if r.s_event_id is None]
    matched = [r for r in rows
               if r.p_event_id is not None and r.s_event_id is not None]
    assert p_padded and s_padded and matched
    for r in p_padded + s_padded:
        assert r.delta_s is None
        assert r.user_id is not None
    for r in matched:
        assert 0 <= r.delta_s <= 7200

    ev = load_table(spark, sf, "events")
    p = ev.where(
        (F.col("event_type") == "purchase") & F.col("user_id").isNotNull()
    ).select("user_id", F.col("event_id").alias("pid"),
             F.col("ts").alias("pts"))
    s = ev.where(
        (F.col("event_type") == "signup") & F.col("user_id").isNotNull()
    ).select(
        F.col("user_id").alias("su"),
        F.col("event_id").alias("sid"),
        F.col("ts").alias("sts"),
    )
    batch = p.join(
        s,
        (F.col("user_id") == F.col("su"))
        & (F.col("sts") >= F.col("pts") - F.expr("INTERVAL 2 HOURS"))
        & (F.col("sts") <= F.col("pts")),
        "full",
    )
    want = {(r.pid, r.sid) for r in batch.collect()}
    assert {(r.p_event_id, r.s_event_id) for r in rows} == want


def test_synthetic_envelope_stream_liveness(spark, tmp_path):
    """The rate-source CDC twin must emit decodable envelopes with
    strictly increasing lsn and the reference op mix categories."""
    from change_data_capture_poc_spark.streaming.synthetic import (
        stream_synthetic_envelopes,
    )

    stream = stream_synthetic_envelopes(spark, rows_per_second=200)
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName("synthetic_env_tbl")
        .outputMode("append")
        .start()
    )
    try:
        import time

        deadline = time.time() + 30
        while time.time() < deadline:
            if spark.table("synthetic_env_tbl").count() >= 100:
                break
            time.sleep(1)
    finally:
        q.stop()

    got = spark.table("synthetic_env_tbl")
    n = got.count()
    assert n >= 100
    decoded = decode_envelope(got)
    ops = {r.operation_type for r in decoded.select("operation_type").distinct().collect()}
    assert "CREATE" in ops and ("UPDATE" in ops or "DELETE" in ops)
    lsns = [r.log_seq_num for r in decoded.select("log_seq_num").collect()]
    assert len(set(lsns)) == len(lsns)  # unique, monotone sequence ids


def test_live_synthetic_cdc_to_scd2(spark, tmp_path):
    """The reference's whole pipeline, LIVE: rate-source CDC envelopes
    -> foreachBatch incremental SCD2 -> after shutdown + reconcile,
    the materialized table equals the batch recompute over the landed
    log (streaming <-> batch equivalence on a real running stream)."""
    import time

    from change_data_capture_poc_spark.streaming.scd2_stream import (
        IncrementalScd2,
    )
    from change_data_capture_poc_spark.streaming.synthetic import (
        stream_synthetic_envelopes,
    )

    log_p = str(tmp_path / "log")
    scd2_p = str(tmp_path / "scd2")
    stream = stream_synthetic_envelopes(spark, rows_per_second=300, n_keys=50)
    inc = IncrementalScd2(spark, log_p, scd2_p)
    q = (
        stream.writeStream.foreachBatch(inc.process_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 45
        landed = 0
        while time.time() < deadline:
            try:
                landed = spark.read.parquet(log_p).count()
            except Exception:
                landed = 0
            if landed >= 300:
                break
            time.sleep(1)
    finally:
        q.stop()
    assert landed >= 300

    # The stream may have stopped between log append and table
    # overwrite — reconcile restores the table-equals-log invariant.
    inc.reconcile()
    log = spark.read.parquet(log_p).drop("bucket")
    expect = {tuple(r) for r in scd2_recompute(log).collect()}
    got = {tuple(r) for r in inc.result().collect()}
    assert got == expect
    assert len(got) >= 300


def test_memory_sink_self_join_workaround_still_needed(spark, tmp_path):
    """CANARY for the localCheckpoint workaround in
    streaming_histogram_register_drain (queries/streaming_q.py):
    Spark 4.1.x fails attribute dedup when a plan references two
    descendants of one memory-sink relation — INTERNAL_ERROR
    "conflicting references in Join". The drain snapshots the
    (bounded) register table with localCheckpoint to dodge it.

    This test asserts the underlying Spark bug STILL EXISTS. When a
    Spark upgrade fixes it, this test fails — that is the signal to
    REMOVE the localCheckpoint (and this canary), not to keep both
    fossilized."""
    import pytest
    from pyspark.sql import functions as F

    src = str(tmp_path / "canary")
    spark.createDataFrame(
        [(i % 3, i) for i in range(12)], "k long, v long"
    ).write.mode("overwrite").parquet(src + "/t.parquet")
    agg = (
        spark.readStream.schema("k long, v long")
        .parquet(src)
        .groupBy("k")
        .agg(F.sum("v").alias("sv"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("canary_memsink_selfjoin")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    q.stop()
    t = spark.table("canary_memsink_selfjoin")
    tot = t.groupBy("k").agg(F.sum("sv").alias("tot"))
    with pytest.raises(Exception, match="INTERNAL_ERROR|conflicting"):
        # Two descendants of the memory relation in one join: the
        # exact shape the drain's readout needs.
        t.join(tot, "k").collect()


def test_drain_state_partitions_pinned_from_progress(spark):
    """The drain scopes spark.sql.shuffle.partitions to 8 around
    start() and restores it immediately — which leans on
    StreamExecution cloning the session conf synchronously inside
    start(). _drain verifies the ACTUAL state sizing from the drained
    query's own progress JSON (numShufflePartitions per state
    operator) and raises if the scoped value didn't take; this test
    pins both the mechanism and the observed value, and that the
    session default is untouched afterwards."""
    from change_data_capture_poc_spark.queries import streaming_q
    from change_data_capture_poc_spark.registry import all_queries

    prior = spark.conf.get("spark.sql.shuffle.partitions")
    df = all_queries()["streaming_dedup_drain"].fn(
        spark, "/root/testdata/sf0.001"
    )
    assert df.count() > 0
    assert (
        streaming_q._LAST_STATE_PARTITIONS
        == streaming_q._DRAIN_STATE_PARTITIONS
        == 8
    )
    assert spark.conf.get("spark.sql.shuffle.partitions") == prior


def _split_envelopes(spark, df, n_batches):
    """Cut an envelope frame into ``n_batches`` consecutive frames."""
    rows = df.collect()
    size = (len(rows) + n_batches - 1) // n_batches
    return [
        spark.createDataFrame(rows[i * size:(i + 1) * size], df.schema)
        for i in range(n_batches)
    ]


def _scd2_matches_recompute(inc, df):
    want = {tuple(r) for r in scd2_recompute(decode_envelope(df)).collect()}
    return {tuple(r) for r in inc.result().collect()} == want


def test_incremental_scd2_batch_job_budget(spark, tmp_path):
    """One micro-batch of the incremental merge runs at most three Spark
    jobs — the log write, then the table write's shuffle and write
    stages. The landed-event count comes from an Observation on the log
    write, and the current-snapshot and log reads use the known schema,
    so neither adds a job (a count() over the log or a parquet schema
    inference would).

    The current snapshot is one partition, so each multi-key batch
    writes one ``c0`` file and at most one file per ``h`` partition."""
    from change_data_capture_poc_spark.streaming import IncrementalScd2

    sc = spark.sparkContext
    df = CdcGenerator(seed=11).products_df(spark, num_records=80)
    scd2_p = tmp_path / "scd2"
    inc = IncrementalScd2(spark, str(tmp_path / "log"), str(scd2_p))
    try:
        for batch_id, batch in enumerate(_split_envelopes(spark, df, 2)):
            group = f"scd2-job-budget-{batch_id}"
            sc.setJobGroup(group, group)
            inc.process_batch(batch, batch_id)
            jobs = sc.statusTracker().getJobIdsForGroup(group)
            assert len(jobs) <= 3, (batch_id, sorted(jobs))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert _scd2_matches_recompute(inc, df)
    files = {
        part.name: [f for f in os.listdir(part)
                    if not f.startswith(("_", "."))]
        for part in scd2_p.iterdir() if part.is_dir()
    }
    assert [p for p in files if p.startswith("part=c")] == ["part=c0"], files
    assert any(p.startswith("part=h") for p in files), files
    assert all(len(f) == 1 for f in files.values()), files


def test_incremental_scd2_refuses_hashed_snapshot(spark, tmp_path):
    """A table whose current snapshot is split over ``c0``..``c<n-1>``
    (the earlier hashed layout) would have its ``c1``.. rows versioned
    again from scratch, leaving two open rows per key. The constructor
    refuses it; deleting the table and reconciling from the log
    rebuilds it."""
    import shutil

    import pytest

    from change_data_capture_poc_spark.streaming import IncrementalScd2

    df = CdcGenerator(seed=23).products_df(spark, num_records=60)
    log_p = str(tmp_path / "log")
    scd2_p = tmp_path / "scd2"
    IncrementalScd2(spark, log_p, str(scd2_p)).process_batch(df, 0)
    shutil.copytree(scd2_p / "part=c0", scd2_p / "part=c3")
    with pytest.raises(ValueError, match=r"part=c3"):
        IncrementalScd2(spark, log_p, str(scd2_p))

    shutil.rmtree(scd2_p)
    inc = IncrementalScd2(spark, log_p, str(scd2_p))
    inc.reconcile()
    assert _scd2_matches_recompute(inc, df)


def test_incremental_scd2_in_order_batch_reads_no_older_log(spark, tmp_path):
    """An in-order micro-batch reads its own events and the current rows
    of the buckets it touches, never an older log batch: with batch 0's
    log directory gone, batch 2 still brings the table to the recompute
    over every source event."""
    import shutil

    from change_data_capture_poc_spark.streaming import IncrementalScd2

    df = CdcGenerator(seed=19).products_df(spark, num_records=90)
    log_p = str(tmp_path / "log")
    inc = IncrementalScd2(spark, log_p, str(tmp_path / "scd2"))
    b0, b1, b2 = _split_envelopes(spark, df, 3)
    inc.process_batch(b0, 0)
    inc.process_batch(b1, 1)
    shutil.rmtree(os.path.join(log_p, "batch_id=0"))
    inc.process_batch(b2, 2)
    assert _scd2_matches_recompute(inc, df)


def test_incremental_scd2_replay_is_idempotent(spark, tmp_path):
    """foreachBatch replays a batch whose offsets were not committed:
    re-running batches 0 and 1 with the same rows must leave exactly one
    log row per event and the table equal to the batch recompute."""
    from change_data_capture_poc_spark.streaming import IncrementalScd2

    df = CdcGenerator(seed=13).products_df(spark, num_records=90)
    b0, b1 = _split_envelopes(spark, df, 2)
    log_p = str(tmp_path / "log")
    inc = IncrementalScd2(spark, log_p, str(tmp_path / "scd2"))
    for batch_id, batch in [(0, b0), (1, b1), (0, b0), (1, b1)]:
        inc.process_batch(batch, batch_id)

    n_events = decode_envelope(df).count()
    log = spark.read.parquet(log_p)
    assert log.count() == n_events
    assert log.select("log_seq_num").distinct().count() == n_events
    assert _scd2_matches_recompute(inc, df)


def test_incremental_scd2_empty_batches_are_noops(spark, tmp_path):
    """An empty first micro-batch and a middle batch whose rows all lack
    an op (decode_envelope drops them) write nothing to merge and raise
    nothing; the next non-empty batch still converges to the recompute."""
    from change_data_capture_poc_spark.streaming import IncrementalScd2

    df = CdcGenerator(seed=17).products_df(spark, num_records=60)
    b1, b3 = _split_envelopes(spark, df, 2)
    empty = spark.createDataFrame([], df.schema)
    no_op = b3.withColumn(
        "payload", F.col("payload").withField("op", F.lit(None).cast("string"))
    )
    scd2_p = str(tmp_path / "scd2")
    inc = IncrementalScd2(spark, str(tmp_path / "log"), scd2_p)

    inc.process_batch(empty, 0)
    assert not os.path.exists(scd2_p)
    inc.process_batch(b1, 1)
    assert _scd2_matches_recompute(inc, b1)
    before = {tuple(r) for r in inc.result().collect()}
    inc.process_batch(no_op, 2)
    assert {tuple(r) for r in inc.result().collect()} == before
    inc.process_batch(b3, 3)
    assert _scd2_matches_recompute(inc, df)
    inc.reconcile()
    assert _scd2_matches_recompute(inc, df)
