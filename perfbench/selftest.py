"""Self-test of the benchmark itself, at sf0.001 with a few micro-batches.

    python3 perfbench/selftest.py

1. Every status-store and progress field the benchmark reads is checked
   against a query whose answer is known:
   - summed task time, not wall time (in local mode
     ``ExecutorSummary.totalDuration`` tracks wall time, which is why
     the benchmark reads stage-level task metrics instead);
   - job, stage and task counts and shuffle, input and output bytes;
   - Catalyst phase timings;
   - jobs a stream runs escape the caller's job group and carry the
     stream's runId; progress phases add up within the trigger time.
2. Every workload runs briefly with tracing off and on; every metric of
   BENCHMARK.json must print with its unit and the outputs must check.
3. A deliberately corrupted output must count as a failed op.

Exits 0 when every check passes.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.harness import (  # noqa: E402
    DATA,
    Run,
    StatusStore,
    catalyst_phases,
    load_spec,
)

SF_SMOKE = os.path.join(DATA, "sf0.001")
FAILURES: list[str] = []


def check(ok: bool, what: str) -> None:
    print(f"{'PASS' if ok else 'FAIL'} {what}", flush=True)
    if not ok:
        FAILURES.append(what)


def _sleep_task(it):
    time.sleep(0.4)
    return [sum(1 for _ in it)]


def _pair(x):
    return (x % 10, 1)


def _add(a, b):
    return a + b


def known_fields(run: Run) -> None:
    from change_data_capture_poc_spark.cdc.envelope import PRODUCT_FIELDS
    from change_data_capture_poc_spark.sources.tables import load_table
    from change_data_capture_poc_spark.streaming import (
        run_incremental_scd2,
        stream_envelope_log,
    )
    from perfbench.cdc_stream import PHASES, generate, land

    spark = run.start_session()
    sc = spark.sparkContext
    store = StatusStore(spark)

    # Four 0.4 s tasks side by side: summed task time ~1.6 s, wall less.
    store.set_group("st-sleep")
    t0 = time.perf_counter()
    sc.parallelize(range(8), 4).mapPartitions(_sleep_task).collect()
    wall_ms = (time.perf_counter() - t0) * 1000
    store.set_group(None)
    t = store.totals("st-sleep")
    check((t["jobs"], t["stages"], t["tasks"]) == (1, 1, 4),
          f"one job, one stage, four tasks: {t}")
    check(t["task_run_ms"] >= 1500 and t["task_run_ms"] > wall_ms,
          f"task time is summed per task ({t['task_run_ms']} ms) and "
          f"exceeds wall ({wall_ms:.0f} ms)")
    check(t["task_cpu_ms"] < t["task_run_ms"] / 2,
          f"sleeping tasks use little CPU ({t['task_cpu_ms']:.1f} ms)")
    check(t["shuffle_write_bytes"] == 0, "a narrow job writes no shuffle")

    store.set_group("st-shuffle")
    sc.parallelize(range(1000), 4).map(_pair).reduceByKey(_add, 2).collect()
    store.set_group(None)
    t = store.totals("st-shuffle")
    check((t["jobs"], t["stages"], t["tasks"]) == (1, 2, 6),
          f"reduceByKey: one job, two stages, 4+2 tasks: {t}")
    check(t["shuffle_write_bytes"] > 0, "reduceByKey writes shuffle bytes")

    size = os.path.getsize(os.path.join(SF_SMOKE, "lineitem.parquet"))
    store.set_group("st-scan")
    df = load_table(spark, SF_SMOKE, "lineitem")
    t0 = time.perf_counter()
    phases = catalyst_phases(df.groupBy("l_returnflag").count())
    probe_ms = (time.perf_counter() - t0) * 1000
    df.write.format("noop").mode("overwrite").save()
    store.set_group(None)
    t = store.totals("st-scan")
    check(0 < t["input_bytes"] <= 2 * size,
          f"scan input bytes {t['input_bytes']} vs file {size}")
    check(set(phases) == {"analysis", "optimization", "planning"}
          and all(v >= 0 for v in phases.values())
          and phases["optimization"] + phases["planning"] <= probe_ms + 1,
          f"catalyst phases {phases} within the probe's {probe_ms:.1f} ms")

    out = run.path("st-out")
    store.set_group("st-write")
    df.write.mode("overwrite").parquet(out)
    store.set_group(None)
    t = store.totals("st-write")
    on_disk = sum(os.path.getsize(os.path.join(out, f))
                  for f in os.listdir(out) if f.endswith(".parquet"))
    check(abs(t["output_bytes"] - on_disk) <= 0.1 * on_disk,
          f"output bytes {t['output_bytes']} vs on disk {on_disk}")

    # Stream-thread jobs: not in the caller's group, in the runId's.
    root = run.path("st-stream")
    topic = land(generate(3, 120), root, 40)
    store.set_group("st-caller")
    q, _ = run_incremental_scd2(
        spark,
        stream_envelope_log(spark, topic, PRODUCT_FIELDS,
                            max_files_per_trigger=1),
        log_path=os.path.join(root, "log"),
        scd2_path=os.path.join(root, "scd2"),
        checkpoint=os.path.join(root, "ckpt"),
    )
    check(q.awaitTermination(120) is True, "three-file drain finished")
    store.set_group(None)
    caller = store.totals("st-caller")
    stream = store.totals(str(q.runId))
    check(caller["jobs"] == 0 and stream["jobs"] > 0,
          f"stream jobs escape the caller's group ({caller['jobs']}) and "
          f"carry the runId ({stream['jobs']})")
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    check([p["numInputRows"] for p in batches] == [40, 40, 40],
          "one file per micro-batch")
    for p in batches:
        d = p["durationMs"]
        parts = sum(d.get(k, 0) for k in PHASES)
        check(set(PHASES) <= set(d) and parts <= d["triggerExecution"] + 5,
              f"batch {p['batchId']}: phases {parts} ms within trigger "
              f"{d['triggerExecution']} ms")


def workloads() -> None:
    from perfbench.run import WORKLOADS, execute

    spec = load_spec()
    for name in WORKLOADS:
        for trace in (0, 1):
            out = execute(name, 7, 2, bool(trace), sf_dir=SF_SMOKE)
            res = out["result"]
            want = spec["per_layer" if trace else "end_to_end"]
            got = res["metrics"]
            check(list(got) == [m["name"] for m in want]
                  and all(got[m["name"]]["unit"] == m["unit"] for m in want)
                  and all(isinstance(v["value"], (int, float))
                          and math.isfinite(v["value"])
                          for v in got.values()),
                  f"{name} trace={trace}: every metric printed with its unit")
            check(res["correct"] and res["failed"] == 0
                  and res["attempted"] >= 1,
                  f"{name} trace={trace}: outputs correct ({res['attempted']}"
                  f" ops)")
            if not trace:
                check(all(got[m["name"]]["value"] > 0 for m in want),
                      f"{name}: end-to-end metrics are non-zero")
        res = execute(name, 7, 2, False, sf_dir=SF_SMOKE,
                      corrupt=True)["result"]
        check(not res["correct"] and res["failed"] >= 1,
              f"{name}: a corrupted output counts as a failed op "
              f"({res['failed']} of {res['attempted']})")


def main() -> int:
    run = Run("selftest")
    try:
        known_fields(run)
    finally:
        run.close()
    workloads()
    print(f"\n{len(FAILURES)} failed" if FAILURES else "\nALL PASS")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    raise SystemExit(main())
