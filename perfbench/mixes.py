"""Query-mix workloads: ``analytics_sql`` and ``pipeline_iterative``.

Each is a closed loop with one client: the next query starts when the
previous one has finished. A pass runs every query of the mix once, in
an order drawn from the workload seed; the loop runs whole passes until
``seconds`` have gone by. Each query is materialised by a ``noop``
write, which evaluates every column of every row.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import pickle
import random
import sys
import time
import traceback

from perfbench.harness import (
    DATA,
    ROOT,
    WORK,
    StatusStore,
    Tracer,
    catalyst_phases,
    median,
    percentile,
)

# Short reads with 2-13 jobs each: relational, SQL and SCD2-read
# queries, where source resolution and planning cost show.
ANALYTICS_SQL = (
    "pricing_summary",
    "local_supplier_volume",
    "sql_shipping_priority",
    "sql_large_orders",
    "sql_small_qty_revenue",
    "join_left_outer",
    "window_running_sum",
    "order_limit_topk",
    "scd2_user_state",
    "cdc_json_extract",
    "scd2_point_in_time_lookup",
    "snapshot_diff_changes",
    "cdc_net_effect_compaction",
    "asof_join_order_events",
    "session_window_stats",
    "events_funnel",
)

# Queries that run most of their work as eager driver jobs inside the
# query function (iterative components, entity resolution), plus an
# Arrow/pandas query and two shuffle-heavy text queries.
PIPELINE_ITERATIVE = (
    "graph_components_chain_bigstar",
    "er_golden_records",
    "dedup_minhash_lsh",
    "text_tfidf_top_terms",
    "ann_cosine_pandas_matmul",
)

SF_DIR = os.path.join(DATA, "sf0.01")
SETUP_REPS = 3


def _check_correctness_module():
    """``tools/check_correctness.py`` loaded by path: ``tools`` is not
    a package, and another ``tools`` on sys.path must not shadow it."""
    name = "perfbench_check_correctness"
    if name not in sys.modules:
        path = os.path.join(ROOT, "tools", "check_correctness.py")
        spec = importlib.util.spec_from_file_location(name, path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        sys.modules[name] = mod
    return sys.modules[name]


def oracle_result(query, sf_dir: str) -> tuple[list[str], list[tuple]]:
    """The DuckDB oracle's (columns, rows) for ``query``.

    The inputs are fixed files, so the answer is computed once per
    checkout and cached under ``perfbench/.work/oracle``, keyed by the
    oracle SQL and the input files' sizes."""
    import duckdb

    from change_data_capture_poc_spark.sources.tables import TABLES

    key = hashlib.sha256(query.oracle.encode())
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        key.update(f"{t}:{os.path.getsize(p)}".encode())
    cache_dir = os.path.join(WORK, "oracle")
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, f"{query.name}-{key.hexdigest()[:20]}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{sf_dir}/{t}.parquet'")
        res = con.execute(query.oracle)
        out = ([c[0].lower() for c in res.description], res.fetchall())
    finally:
        con.close()
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "wb") as f:
        pickle.dump(out, f)
    os.replace(tmp, path)
    return out


def verify(spark_cols, spark_rows, oracle) -> str | None:
    """None when the Spark output matches the oracle under
    ``tools/check_correctness.compare``; else the mismatch."""
    duck_cols, duck_rows = oracle
    spark_cols = [c.lower() for c in spark_cols]
    if spark_cols != duck_cols:
        if sorted(spark_cols) != sorted(duck_cols):
            return f"columns {spark_cols} vs {duck_cols}"
        ix = [duck_cols.index(c) for c in spark_cols]
        duck_rows = [tuple(r[i] for i in ix) for r in duck_rows]
    msg = _check_correctness_module().compare(spark_rows, duck_rows)
    if msg is None or msg.startswith("WARN"):
        return None
    return msg


class QueryMix:
    """One query-mix workload."""

    def __init__(self, run, names, seed: int, seconds: float,
                 sf_dir: str = SF_DIR, corrupt: bool = False) -> None:
        self.run = run
        self.names = tuple(names)
        self.seed = seed
        self.seconds = seconds
        self.sf_dir = sf_dir
        self.corrupt = corrupt
        self.attempted = 0
        self.failed = 0
        self.checks_failed = 0
        self.values: dict[str, float] = {}

    # -- set-up ---------------------------------------------------------

    def setup(self) -> None:
        """``SETUP_REPS`` times: (re)start the session and run one pass
        that collects every query's rows. The first pass's rows are
        checked against the oracles after the clock stops. ``setup_s``
        is the median rep."""
        from change_data_capture_poc_spark.functions.caching import (
            release_pins,
        )
        from change_data_capture_poc_spark.registry import all_queries

        self.qs = all_queries()
        oracles = {n: oracle_result(self.qs[n], self.sf_dir)
                   for n in self.names}
        reps = []
        outputs = {}
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            spark = self.run.start_session()
            for name in self.names:
                df = self.qs[name].fn(spark, self.sf_dir)
                rows = [tuple(r) for r in df.collect()]
                release_pins(spark)
                if rep == 0:
                    outputs[name] = (df.columns, rows)
            reps.append(time.perf_counter() - t0)
        self.values["setup_s"] = median(reps)
        self.spark = spark
        if self.corrupt:
            cols, rows = outputs[self.names[0]]
            outputs[self.names[0]] = (cols, rows[:-1])
        for name in self.names:
            self.attempted += 1
            msg = verify(*outputs[name], oracles[name])
            if msg is not None:
                print(f"FAIL {name}: {msg}", file=sys.stderr)
                self.checks_failed += 1

    # -- measurement ----------------------------------------------------

    def _loop(self, tracer: Tracer | None) -> tuple[list[float], float]:
        from change_data_capture_poc_spark.functions.caching import (
            release_pins,
        )

        rng = random.Random(self.seed)
        lat: list[float] = []
        t_start = time.perf_counter()
        while True:
            order = list(self.names)
            rng.shuffle(order)
            for name in order:
                self.attempted += 1
                t0 = time.perf_counter()
                try:
                    if tracer is None:
                        self.qs[name].fn(self.spark, self.sf_dir).write.format(
                            "noop").mode("overwrite").save()
                    else:
                        self._traced_query(tracer, self.attempted, name)
                except Exception:  # noqa: BLE001 — counted, run goes on
                    traceback.print_exc()
                    self.failed += 1
                    continue
                finally:
                    release_pins(self.spark)
                lat.append(time.perf_counter() - t0)
            if time.perf_counter() - t_start >= self.seconds:
                break
        return lat, time.perf_counter() - t_start

    def measure(self) -> None:
        lat, wall = self._loop(None)
        self.values["throughput_per_s"] = len(lat) / wall
        self.values["latency_p50_ms"] = percentile(lat, 50) * 1000
        self.values["latency_p75_ms"] = percentile(lat, 75) * 1000
        self.samples = [round(x * 1000, 1) for x in lat]

    def measure_traced(self, tracer: Tracer) -> None:
        """An untraced loop, then a traced one of the same length; the
        per-query difference is the tracing overhead."""
        from change_data_capture_poc_spark.functions.caching import (
            pinned_count,
        )

        untraced, _ = self._loop(None)
        self.store = StatusStore(self.spark)
        self.pinned_count = pinned_count
        self.layer: list[dict] = []
        unpatch = _patch_loaders(tracer)
        try:
            traced, _ = self._loop(tracer)
        finally:
            unpatch()
        self.samples = [round(x * 1000, 1) for x in traced]
        n = len(self.layer)
        v = self.values
        mean = lambda k: sum(r[k] for r in self.layer) / n  # noqa: E731
        v["sources.tables.load_ms"] = tracer.total_ms(
            "sources.tables.load_table") / n
        v["sources.tables.loads"] = tracer.count(
            "sources.tables.load_table") / n
        v["queries.build_ms"] = tracer.self_ms("queries.build") / n
        v["queries.build_jobs"] = mean("build_jobs")
        v["catalyst.analysis_ms"] = mean("analysis")
        v["catalyst.optimization_ms"] = mean("optimization")
        v["catalyst.planning_ms"] = mean("planning")
        v["exec.action_ms"] = tracer.total_ms("exec.action") / n
        for k in ("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms",
                  "gc_ms", "shuffle_write_bytes", "input_bytes",
                  "spill_bytes"):
            v[f"exec.{k}"] = mean(k)
        v["functions.caching.pins"] = mean("pins")
        v["trace.overhead_pct"] = (
            (sum(traced) / len(traced)) / (sum(untraced) / len(untraced))
            - 1) * 100

    def _traced_query(self, tracer: Tracer, i: int, name: str) -> None:
        build_g, action_g = f"pb-{i}-build", f"pb-{i}-action"
        with tracer.span("query", op=i, query=name):
            self.store.set_group(build_g)
            with tracer.span("queries.build", op=i):
                df = self.qs[name].fn(self.spark, self.sf_dir)
            pins = self.pinned_count(self.spark)
            self.store.set_group(action_g)
            with tracer.span("catalyst", op=i):
                phases = catalyst_phases(df)
            with tracer.span("exec.action", op=i):
                df.write.format("noop").mode("overwrite").save()
            self.store.set_group(None)
        build = self.store.totals(build_g)
        rec = self.store.totals(build_g, action_g)
        rec.update(phases, build_jobs=build["jobs"], pins=pins)
        self.layer.append(rec)

    def finish(self) -> None:
        from change_data_capture_poc_spark.functions.caching import (
            engine_cache_is_clean,
        )

        self.attempted += 1
        if not engine_cache_is_clean(self.spark):
            print("FAIL engine cache holds plans not released by "
                  "release_pins", file=sys.stderr)
            self.checks_failed += 1


def _patch_loaders(tracer: Tracer):
    """Wrap ``load_table`` in every module that bound it, as
    ``tools/probe_common.consumers`` finds them; returns the undo."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_probe_common",
        os.path.join(ROOT, "tools", "probe_common.py"))
    probe_common = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(probe_common)

    from change_data_capture_poc_spark.sources import tables

    real = tables.load_table
    mods = probe_common.consumers()

    def timed_load(spark, sf_dir, name):
        with tracer.span("sources.tables.load_table", table=name):
            return real(spark, sf_dir, name)

    probe_common.set_loader(mods, timed_load)
    return lambda: probe_common.set_loader(mods, real)
