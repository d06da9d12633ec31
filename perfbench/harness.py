"""Shared machinery for the perfbench workloads.

Everything here observes the engine from outside: it calls the
package's public functions and reads Spark's own monitoring surfaces
(the driver's status store, ``QueryExecution`` phase trackers and
streaming progress). No file of the engine is instrumented.

- ``Run``: one benchmark process — its work directory (the only place
  it writes), the pinned session, and a teardown that stops the JVM
  and waits for it.
- ``Tracer``: in-memory spans, written once at exit.
- ``StatusStore``: job, stage and task deltas per job group.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import subprocess
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, "perfbench")
WORK = os.path.join(BENCH_DIR, ".work")
DATA = os.path.join(BENCH_DIR, "data")

# The engine's default of 16g does not fit a 15 GB box that other
# processes share; the mixes' largest working set at sf0.01 is far
# below this.
DRIVER_MEMORY = "4g"


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def host_record() -> dict:
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, val = line.split(":", 1)
            if key in ("MemTotal", "MemAvailable"):
                mem[key] = int(val.split()[0]) * 1024
    return {
        "cpus": cpu_count(),
        "mem_total_bytes": mem.get("MemTotal"),
        "mem_available_bytes": mem.get("MemAvailable"),
        "loadavg": list(os.getloadavg()),
    }


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class Run:
    """One benchmark process.

    All artifacts (Spark local dirs, the JVM's temp dir, the SQL
    warehouse, streaming landing files, logs, tables and checkpoints)
    live under one directory that this object creates and removes —
    nothing outside it, in particular no shared ``/tmp`` directory, is
    touched.
    """

    def __init__(self, label: str) -> None:
        os.makedirs(WORK, exist_ok=True)
        self.dir = tempfile.mkdtemp(prefix=f"run-{label}-", dir=WORK)
        self.tmp = os.path.join(self.dir, "tmp")
        os.makedirs(self.tmp)
        # Set before the JVM is launched: pyspark writes its gateway
        # handshake file through tempfile, Spark reads SPARK_LOCAL_DIRS.
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.dir, "local")
        os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
        self.spark = None
        self.session_start_ms: list[float] = []

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def start_session(self):
        """Stop the current session, if any, and start a pinned one:
        ``local[nproc]``, nproc shuffle partitions, 4g driver heap."""
        from change_data_capture_poc_spark.session import get_spark

        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        n = cpu_count()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{n}]",
            shuffle_partitions=n,
            driver_memory=DRIVER_MEMORY,
            extra_conf={
                "spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.local.dir": self.path("local"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.tmp}",
            },
        )
        self.session_start_ms.append((time.perf_counter() - t0) * 1000)
        return self.spark

    def close(self) -> None:
        """Stop Spark, end the JVM and its Python workers, wait for
        them, then remove this run's directory (and only it)."""
        try:
            if self.spark is not None:
                _stop_jvm(self.spark)
        finally:
            self.spark = None
            shutil.rmtree(self.dir, ignore_errors=True)


def _stop_jvm(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    # The gateway JVM exits when its stdin reaches EOF.
    with contextlib.suppress(OSError):
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    _wait_for_python_workers()


def _wait_for_python_workers(timeout: float = 20.0) -> None:
    """pyspark.daemon workers are the JVM's children and end once its
    pipes close; wait for every one in this process group to go."""
    pgid = os.getpgid(0)
    me = os.getpid()
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        alive = False
        for pid in os.listdir("/proc"):
            if not pid.isdigit() or int(pid) == me:
                continue
            try:
                if os.getpgid(int(pid)) != pgid:
                    continue
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    cmd = f.read()
            except OSError:
                continue
            if b"pyspark" in cmd and b"daemon" in cmd:
                alive = True
                break
        if not alive:
            return
        time.sleep(0.1)


class Tracer:
    """In-memory spans: name, start, end (perf_counter seconds) and
    the span that caused it. Spans of one op share an ``op`` attribute.
    Thread-safe — foreachBatch callbacks arrive on py4j threads."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        with self._lock:
            sid = self._next
            self._next += 1
        rec = {"id": sid, "parent": stack[-1] if stack else None,
               "name": name, "start": time.perf_counter(), **attrs}
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            with self._lock:
                self.spans.append(rec)

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """A span observed after the fact (streaming progress)."""
        if not self.enabled:
            return
        with self._lock:
            sid = self._next
            self._next += 1
            self.spans.append({"id": sid, "parent": None, "name": name,
                               "start": start, "end": end, **attrs})

    def total_ms(self, name: str) -> float:
        return sum((s["end"] - s["start"]) * 1000
                   for s in self.spans if s["name"] == name)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    def self_ms(self, name: str) -> float:
        """Summed duration of ``name`` spans minus the part their
        direct children cover."""
        ids = {s["id"] for s in self.spans if s["name"] == name}
        child = sum((s["end"] - s["start"]) * 1000
                    for s in self.spans if s["parent"] in ids)
        return self.total_ms(name) - child

    def write(self, label: str) -> str:
        out = os.path.join(WORK, "spans")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"{label}.json")
        with open(path, "w") as f:
            json.dump(self.spans, f)
        return path


EXEC_FIELDS = ("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms",
               "gc_ms", "shuffle_write_bytes", "input_bytes",
               "output_bytes", "spill_bytes")


class StatusStore:
    """Deltas read from the driver's AppStatusStore, attributed by job
    group.

    Stage-level task metrics are summed over COMPLETE stages only
    (skipped stages re-use earlier shuffle output and ran no tasks).
    ``ExecutorSummary.totalDuration`` is deliberately not used: in local
    mode it tracks wall time, not summed task time. Jobs started on a
    stream's thread carry the stream's runId as their group, not the
    caller's — read them with ``totals(str(query.runId))``.
    """

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._sc = self.sc._jsc.sc()

    def set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    def totals(self, *groups: str) -> dict:
        self._sc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = self._sc.statusStore()
        jobs: set[int] = set()
        for g in groups:
            jobs.update(tracker.getJobIdsForGroup(g))
        stages: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        out = dict.fromkeys(EXEC_FIELDS, 0)
        out["jobs"] = len(jobs)
        for s in stages:
            try:
                sd = store.lastStageAttempt(s)
            except Exception:  # noqa: BLE001 — evicted from the store
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["task_run_ms"] += sd.executorRunTime()
            out["task_cpu_ms"] += sd.executorCpuTime() / 1e6
            out["gc_ms"] += sd.jvmGcTime()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["input_bytes"] += sd.inputBytes()
            out["output_bytes"] += sd.outputBytes()
            out["spill_bytes"] += (sd.memoryBytesSpilled()
                                   + sd.diskBytesSpilled())
        return out


def catalyst_phases(df) -> dict:
    """Force the final plan's optimization and physical planning and
    read the phase timings Catalyst's tracker recorded for it. The
    action re-plans the same plan, so this adds that work once more —
    part of the reported tracing overhead."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for key in ("analysis", "optimization", "planning"):
        opt = phases.get(key)
        out[key] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def percentile(values: list[float], q: float) -> float:
    import numpy as np

    return float(np.percentile(values, q))


def median(values: list[float]) -> float:
    return percentile(values, 50)
