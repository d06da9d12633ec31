"""``cdc_stream_scd2`` — the paper's pipeline, end to end.

Debezium product envelopes from ``CdcGenerator`` are landed as gzip
NDJSON under ``topics/<topic>/year=/month=/day=``, in fixed-size files
the way the S3 sink flushes them. A file-source stream reads them one
file per micro-batch (``stream_envelope_log``) into
``run_incremental_scd2``; ``reconcile()`` follows. The SCD2 table grows
during the run, so every batch rewrites more of it.

The amount of work is a function of ``--seconds`` only, never of how
fast the engine is, so the parent and a change drain the same inputs.
"""

from __future__ import annotations

import datetime
import gzip
import json
import os
import sys
import time

from perfbench.harness import StatusStore, Tracer, median, percentile

TOPIC = "cdc.commerce.products"
EVENTS_PER_FILE = 200
FILES_PER_SECOND = 1.2
WARM_FILES = 2
SETUP_REPS = 3
DRAIN_TIMEOUT_S = 120

# Structured Streaming progress phases, reported per data batch.
PHASES = {
    "latestOffset": "streaming.ingest.latest_offset_ms",
    "getBatch": "streaming.ingest.get_batch_ms",
    "queryPlanning": "streaming.query_planning_ms",
    "walCommit": "streaming.wal_commit_ms",
    "commitOffsets": "streaming.commit_offsets_ms",
    "addBatch": "streaming.scd2_stream.add_batch_ms",
}


def generate(seed: int, n_events: int) -> list[dict]:
    """The first ``n_events`` product envelopes of a seeded run of the
    reference's generator (creates, ~11% updates, ~6% deletes)."""
    from change_data_capture_poc_spark.cdc.generator import CdcGenerator

    # Every generated id emits at least its create event.
    products, _ = CdcGenerator(seed=seed).generate(num_records=n_events)
    return products[:n_events]


def land(events: list[dict], root: str, per_file: int) -> str:
    """Write envelopes as the S3 sink lays them out: one gzip NDJSON
    file per ``per_file`` records, a new file whenever the UTC day
    partition changes, named ``<topic>+<partition>+<offset>.json.gz``.
    Modification times increase with the offset, so the file source
    reads them in landing order. Returns the topic directory."""
    topic_dir = os.path.join(root, "topics", TOPIC)
    files: list[tuple[str, list[dict]]] = []
    for start in range(0, len(events), per_file):
        current = None
        for ev in events[start:start + per_file]:
            ts = datetime.datetime.fromtimestamp(
                ev["payload"]["ts_ms"] / 1000, datetime.timezone.utc)
            part = ts.strftime("year=%Y/month=%m/day=%d")
            if current is None or current[0] != part:
                current = (part, [])
                files.append(current)
            current[1].append(ev)
    offset = 0
    mtime = time.time() - len(files)
    for part, chunk in files:
        d = os.path.join(topic_dir, part)
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"{TOPIC}+0+{offset:010d}.json.gz")
        body = "".join(json.dumps(ev, separators=(",", ":")) + "\n"
                       for ev in chunk)
        with gzip.GzipFile(path, "wb", mtime=0) as f:
            f.write(body.encode())
        os.utime(path, (mtime, mtime))
        mtime += 1
        offset += len(chunk)
    return topic_dir


class TimedBackend:
    """Merge-backend wrapper: times each ``apply`` and measures the
    bytes it wrote (the files that are new in the table afterwards)."""

    def __init__(self, inner, tracer: Tracer) -> None:
        self.inner = inner
        self.name = inner.name
        self.tracer = tracer
        self.applies: list[tuple[float, int]] = []

    def apply(self, spark, path, rows, partition_col="bucket"):
        before = _data_files(path)
        t0 = time.perf_counter()
        with self.tracer.span("cdc.merge_backend.apply"):
            self.inner.apply(spark, path, rows, partition_col)
        ms = (time.perf_counter() - t0) * 1000
        after = _data_files(path)
        self.applies.append(
            (ms, sum(s for f, s in after.items() if f not in before)))


def _data_files(path: str) -> dict[str, int]:
    out = {}
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            p = os.path.join(root, n)
            out[p] = os.path.getsize(p)
    return out


class CdcStream:
    def __init__(self, run, seed: int, seconds: float,
                 corrupt: bool = False) -> None:
        self.run = run
        self.seed = seed
        self.n_files = max(3, round(seconds * FILES_PER_SECOND))
        self.corrupt = corrupt
        self.attempted = 0
        self.failed = 0
        self.checks_failed = 0
        self.values: dict[str, float] = {}
        self.events = generate(seed, self.n_files * EVENTS_PER_FILE)
        self.warm_events = generate(seed + 1_000_003,
                                    WARM_FILES * EVENTS_PER_FILE)

    def _drain(self, label: str, events: list[dict],
               backend_wrapper=None) -> dict:
        """Land ``events`` under a fresh directory and drain them."""
        from change_data_capture_poc_spark.cdc.envelope import (
            PRODUCT_FIELDS,
        )
        from change_data_capture_poc_spark.streaming import (
            run_incremental_scd2,
            scd2_stream,
            stream_envelope_log,
        )

        root = self.run.path("cdc", label)
        topic_dir = land(events, root, EVENTS_PER_FILE)
        spark = self.run.spark
        real_get = scd2_stream.get_merge_backend
        if backend_wrapper is not None:
            scd2_stream.get_merge_backend = (
                lambda: backend_wrapper(real_get()))
        try:
            t0 = time.perf_counter()
            stream = stream_envelope_log(
                spark, topic_dir, PRODUCT_FIELDS, max_files_per_trigger=1)
            q, inc = run_incremental_scd2(
                spark, stream,
                log_path=os.path.join(root, "log"),
                scd2_path=os.path.join(root, "scd2"),
                checkpoint=os.path.join(root, "checkpoint"),
            )
            done = q.awaitTermination(DRAIN_TIMEOUT_S)
            wall = time.perf_counter() - t0
        finally:
            scd2_stream.get_merge_backend = real_get
        if not done:
            q.stop()
            raise TimeoutError(f"drain {label} did not finish")
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        return {"root": root, "topic_dir": topic_dir, "query": q,
                "inc": inc, "wall": wall, "progress": progress}

    # -- set-up ---------------------------------------------------------

    def setup(self) -> None:
        """``SETUP_REPS`` times: (re)start the session, drain a
        ``WARM_FILES``-file backlog and reconcile it. The first
        micro-batch of a fresh JVM costs about three steady ones."""
        reps = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            self.run.start_session()
            d = self._drain(f"warm{rep}", self.warm_events)
            d["inc"].reconcile()
            reps.append(time.perf_counter() - t0)
        self.values["setup_s"] = median(reps)

    # -- measurement ----------------------------------------------------

    def measure(self) -> None:
        d = self._drain("main", self.events)
        self._record(d)
        self.check(d)

    def _record(self, d: dict) -> None:
        lat = [p["durationMs"]["triggerExecution"] for p in d["progress"]]
        self.values["throughput_per_s"] = len(self.events) / d["wall"]
        self.values["latency_p50_ms"] = percentile(lat, 50)
        self.values["latency_p75_ms"] = percentile(lat, 75)
        self.samples = lat
        self.attempted += len(lat)

    def measure_traced(self, tracer: Tracer) -> None:
        """An untraced drain, then a traced drain of the same inputs in
        fresh directories; events/s difference is the overhead."""
        from pyspark.sql import functions as F

        from change_data_capture_poc_spark.functions.caching import (
            pinned_count,
        )

        base = self._drain("untraced", self.events)
        timed: list[TimedBackend] = []

        def wrap(inner):
            timed.append(TimedBackend(inner, tracer))
            return timed[-1]

        clock = time.perf_counter() - time.time()
        with tracer.span("streaming.drain"):
            d = self._drain("main", self.events, wrap)
        self._record(d)
        self.check(d)
        spark = self.run.spark
        v = self.values
        n = len(d["progress"])
        for p in d["progress"]:
            start = _progress_start(p["timestamp"]) + clock
            dur = p["durationMs"]
            tracer.add("streaming.trigger", start,
                       start + dur["triggerExecution"] / 1000,
                       batch=p["batchId"], rows=p["numInputRows"],
                       phases_ms=dict(dur))
        for key, name in PHASES.items():
            v[name] = sum(p["durationMs"].get(key, 0)
                          for p in d["progress"]) / n
        applies = [a for t in timed for a in t.applies]
        v["cdc.merge_backend.apply_ms"] = sum(a[0] for a in applies) / n
        v["cdc.merge_backend.bytes_rewritten_per_batch"] = (
            sum(a[1] for a in applies) / n)
        log = spark.read.parquet(os.path.join(d["root"], "log"))
        touched = log.groupBy("batch_id").agg(
            F.countDistinct("bucket").alias("b")).agg(F.avg("b")).first()[0]
        v["cdc.scd2.buckets_touched_per_batch"] = float(touched)
        v["streaming.scd2_stream.log_files"] = len(
            _data_files(os.path.join(d["root"], "log")))
        ex = StatusStore(spark).totals(str(d["query"].runId))
        for k in ("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms",
                  "gc_ms", "shuffle_write_bytes", "input_bytes",
                  "spill_bytes"):
            v[f"exec.{k}"] = ex[k] / n
        v["exec.jobs_per_batch"] = ex["jobs"] / n
        v["cdc.bytes_written_per_event"] = ex["output_bytes"] / len(
            self.events)
        v["functions.caching.pins"] = pinned_count(spark)
        t0 = time.perf_counter()
        d["inc"].reconcile()
        v["cdc.scd2_stream.reconcile_ms"] = (time.perf_counter() - t0) * 1000
        v["trace.overhead_pct"] = (d["wall"] / base["wall"] - 1) * 100

    # -- correctness ----------------------------------------------------

    def check(self, d: dict) -> None:
        """Outside the timed region: the SCD2 table equals
        ``scd2_recompute(decode_envelope(landed log))`` (exceptAll both
        ways) with one row per event, and ``reconcile()`` leaves it the
        same. Each failed check counts as a failed op."""
        from change_data_capture_poc_spark.cdc.envelope import (
            PRODUCT_FIELDS,
            decode_envelope,
            envelope_schema,
        )
        from change_data_capture_poc_spark.cdc.scd2 import scd2_recompute

        spark = self.run.spark
        inc = d["inc"]
        if self.corrupt:
            files = sorted(_data_files(inc.scd2_path))
            os.remove(files[0])
        landed = spark.read.schema(envelope_schema(PRODUCT_FIELDS)).json(
            d["topic_dir"])
        want = scd2_recompute(decode_envelope(landed))

        def same(label: str) -> None:
            got = inc.result()
            want_ = want.select(*got.columns)
            self.attempted += 1
            n = got.count()
            if (n != len(self.events) or got.exceptAll(want_).count()
                    or want_.exceptAll(got).count()):
                print(f"FAIL cdc_stream_scd2 {label}: SCD2 table differs "
                      f"from the recompute ({n} rows, "
                      f"{len(self.events)} events)", file=sys.stderr)
                self.checks_failed += 1

        same("after drain")
        inc.reconcile()
        same("after reconcile")

    def finish(self) -> None:
        from change_data_capture_poc_spark.functions.caching import (
            engine_cache_is_clean,
        )

        self.attempted += 1
        if not engine_cache_is_clean(self.run.spark):
            print("FAIL engine cache not clean after the drain",
                  file=sys.stderr)
            self.checks_failed += 1


def _progress_start(ts: str) -> float:
    return datetime.datetime.strptime(
        ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
            tzinfo=datetime.timezone.utc).timestamp()
