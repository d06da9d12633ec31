"""perfbench — the repository's benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see BENCHMARK.json for why each was chosen):

- ``cdc_stream_scd2``: landed Debezium envelopes drained through the
  file-source stream into the incremental SCD2 table (cdc_stream.py);
- ``analytics_sql`` and ``pipeline_iterative``: closed-loop query mixes
  over the sf0.01 tables in ``perfbench/data`` (mixes.py).

Each run pins its own session (``local[nproc]``, 4g driver heap), sets
up ``SETUP_REPS`` times (``setup_s`` is the median), measures, checks
the outputs outside the timed region, and prints one JSON object as
the last line of stdout: ``correct``, ``attempted``, ``failed`` and
``metrics``. ``--trace 0`` reports the end-to-end metrics of
BENCHMARK.json, ``--trace 1`` its per-layer metrics, read around calls
into the package's public functions; the traced run also measures an
untraced pass and reports the difference as ``trace.overhead_pct``
and writes its spans to ``perfbench/.work/spans/`` at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.harness import Run, Tracer, host_record, load_spec  # noqa: E402

WORKLOADS = ("cdc_stream_scd2", "analytics_sql", "pipeline_iterative")


def make_workload(name: str, run: Run, seed: int, seconds: float,
                  sf_dir: str | None = None, corrupt: bool = False):
    from perfbench import mixes
    from perfbench.cdc_stream import CdcStream

    if name == "cdc_stream_scd2":
        return CdcStream(run, seed, seconds, corrupt=corrupt)
    names = {"analytics_sql": mixes.ANALYTICS_SQL,
             "pipeline_iterative": mixes.PIPELINE_ITERATIVE}[name]
    return mixes.QueryMix(run, names, seed, seconds,
                          sf_dir=sf_dir or mixes.SF_DIR, corrupt=corrupt)


def execute(name: str, seed: int, seconds: float, trace: bool,
            sf_dir: str | None = None, corrupt: bool = False) -> dict:
    """One benchmark run; returns the result object and a detail
    record (host, sample count, error rate, spans file)."""
    spec = load_spec()
    host_start = host_record()
    run = Run(name)
    tracer = Tracer(trace)
    try:
        wl = make_workload(name, run, seed, seconds, sf_dir, corrupt)
        wl.setup()
        if trace:
            wl.measure_traced(tracer)
        else:
            wl.measure()
        wl.finish()
        session_ms = run.session_start_ms[0]
    finally:
        run.close()
    failed = wl.failed + wl.checks_failed
    values = wl.values
    values["session.start_ms"] = session_ms
    if trace:
        keys = spec["per_layer"]
        values = {m["name"]: 0 for m in keys} | values
    else:
        keys = spec["end_to_end"]
    result = {
        "correct": failed == 0,
        "attempted": wl.attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]],
                                "unit": m["unit"]} for m in keys},
    }
    detail = {
        "workload": name,
        "seed": seed,
        "host_start": host_start,
        "host_end": host_record(),
        "samples": wl.samples,
        "error_rate": failed / wl.attempted,
        "spans": tracer.write(f"{name}-seed{seed}") if trace else None,
    }
    return {"result": result, "detail": detail}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    import change_data_capture_poc_spark  # noqa: F401 — fail before set-up

    # A terminated run still stops its JVM and removes its directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    out = execute(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps({"detail": out["detail"]}))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
