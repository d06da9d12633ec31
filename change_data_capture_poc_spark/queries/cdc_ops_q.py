"""CDC maintenance & entity-resolution operators.

The reference is a change-data-capture pipeline (Postgres → Debezium →
Kafka → DuckDB, ``duckdb/analytics/transform_scd2.py``); this module
adds the maintenance operators every production CDC deployment runs on
top of that log — net-effect batch compaction, snapshot diffing,
replication checksums, incremental aggregate maintenance — plus the
entity-resolution fuzzy join and an order-sensitive EMA fold.

The ``events`` table plays the change-log role exactly as in
``scd2_q.py``: ``user_id`` is the key, ``event_id`` the LSN,
``event_type`` the operation, ``value`` the payload.

Scale notes (100 TB): every operator here is one or two hash shuffles
on the CDC key with map-side partial aggregation; the fuzzy join
aggregates down to the (fixed-size) name vocabulary before its blocked
self-join, so the pair comparison never touches row-level data; the
incremental-merge pattern is the reason mergeable partial aggregates
matter at scale — the base table is never rescanned, only the delta.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from change_data_capture_poc_spark.functions.hashing import md5_prefix
from change_data_capture_poc_spark.registry import register
from change_data_capture_poc_spark.sources.tables import load_table
from change_data_capture_poc_spark.functions.windows import global_window
from change_data_capture_poc_spark.functions.hints import vocab_broadcast


def _with_split_lsn(events: DataFrame) -> DataFrame:
    """Attach the snapshot split point T1 = max(lsn) div 2 as a column.

    Broadcast cross-join of a 1-row aggregate — the scalar never
    round-trips through the driver, so the plan stays fully
    distributed and the threshold is computed in the same job.
    """
    t1 = events.agg(F.expr("max(event_id) div 2").alias("t1"))
    # bounded: 1-row split scalar
    return events.crossJoin(F.broadcast(t1))


@register(
    "cdc_net_effect_compaction",
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
    doc="Net-effect compaction of a CDC batch (Debezium 'event "
        "flattening'): all operations for a key collapse to the single "
        "change the batch is equivalent to — create+...+delete "
        "disappears, create+updates becomes one create with final "
        "values, updates+delete becomes one delete. One hash shuffle "
        "with map-side min_by/max_by partials; the downstream MERGE "
        "then touches each key once. Mirrors the consolidation the "
        "reference's transform_scd2.py re-derives per full scan "
        "(transform_scd2.py:19-61) as a batch-local operator.",
)
def cdc_net_effect_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    ops = events.where(F.col("user_id").isNotNull()).select(
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
    return agg.where(
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
    "snapshot_diff_changes",
    oracle="""
    WITH t AS (SELECT max(event_id) // 2 AS t1 FROM events
               WHERE user_id IS NOT NULL),
    ops AS (
        SELECT user_id, event_id, value,
               CASE event_type WHEN 'error' THEN 'd' ELSE 'u' END AS op
        FROM events WHERE user_id IS NOT NULL
    ),
    sa AS (
        SELECT user_id, arg_max(op, event_id) AS lop,
               arg_max(value, event_id) AS lval
        FROM ops, t WHERE event_id <= t1 GROUP BY user_id
    ),
    a AS (SELECT user_id, lval FROM sa WHERE lop <> 'd'),
    sb AS (
        SELECT user_id, arg_max(op, event_id) AS lop,
               arg_max(value, event_id) AS lval
        FROM ops GROUP BY user_id
    ),
    b AS (SELECT user_id, lval FROM sb WHERE lop <> 'd')
    SELECT COALESCE(a.user_id, b.user_id) AS user_id,
           CASE WHEN a.user_id IS NULL THEN 'i'
                WHEN b.user_id IS NULL THEN 'd'
                ELSE 'u' END AS change_op,
           ROUND(a.lval + 1e-9, 6) AS old_value,
           ROUND(b.lval + 1e-9, 6) AS new_value
    FROM a FULL OUTER JOIN b ON a.user_id = b.user_id
    WHERE a.user_id IS NULL OR b.user_id IS NULL
       OR a.lval IS DISTINCT FROM b.lval
    """,
    doc="Snapshot diff: reconstruct the keyed state at LSN T1 and at "
        "head (a key exists iff its latest op is not a delete) and "
        "classify insert/update/delete — the audit query run to "
        "verify a CDC target against its source. Both states fold "
        "into ONE aggregation via conditional max_by (max_by skips "
        "rows whose ordering expression is NULL, so when(lsn<=t1, "
        "lsn) restricts the prefix state for free): one scan, one "
        "map-side-partial shuffle, no full-outer join at all — the "
        "oracle states the textbook two-state full-outer formulation.",
)
def snapshot_diff_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    ops = events.where(F.col("user_id").isNotNull()).select(
        "user_id",
        "event_id",
        "value",
        F.when(F.col("event_type") == "error", F.lit("d"))
        .otherwise(F.lit("u"))
        .alias("op"),
    )
    pre = F.col("event_id") <= F.col("t1")
    agg = _with_split_lsn(ops).groupBy("user_id").agg(
        F.max_by(F.when(pre, F.col("op")),
                 F.when(pre, F.col("event_id"))).alias("a_lop"),
        F.max_by(F.when(pre, F.col("value")),
                 F.when(pre, F.col("event_id"))).alias("a_lval"),
        F.max_by("op", "event_id").alias("b_lop"),
        F.max_by("value", "event_id").alias("b_lval"),
    )
    a_present = F.col("a_lop").isNotNull() & (F.col("a_lop") != "d")
    b_present = F.col("b_lop") != "d"  # b_lop never null: >=1 row per key
    return (
        agg.where(a_present | b_present)
        .where(
            (~a_present)
            | (~b_present)
            | ~F.col("a_lval").eqNullSafe(F.col("b_lval"))
        )
        .select(
            "user_id",
            F.when(~a_present, F.lit("i"))
            .when(~b_present, F.lit("d"))
            .otherwise(F.lit("u"))
            .alias("change_op"),
            F.when(a_present, F.round(F.col("a_lval") + F.lit(1e-9), 6))
            .alias("old_value"),
            F.when(b_present, F.round(F.col("b_lval") + F.lit(1e-9), 6))
            .alias("new_value"),
        )
    )


@register(
    "table_checksum",
    oracle="""
    SELECT c_custkey % 16 AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(('0x' || substring(md5(
               concat_ws('|',
                   COALESCE(CAST(c_custkey AS VARCHAR), ''),
                   COALESCE(c_name, ''),
                   COALESCE(CAST(c_nationkey AS VARCHAR), ''),
                   COALESCE(CAST(CAST(ROUND(c_acctbal, 2)
                                      AS DECIMAL(18,2)) AS VARCHAR), ''),
                   COALESCE(c_mktsegment, ''))), 1, 8))::BIGINT)
               AS BIGINT) AS checksum
    FROM customer
    GROUP BY c_custkey % 16
    """,
    doc="Order-independent replication checksum: canonical row string "
        "-> portable 32-bit md5 hash -> SUM per key bucket. Source and "
        "target sides compute this independently and compare 16 rows "
        "instead of the whole table — the standard CDC consistency "
        "audit (pt-table-checksum shape). Commutative SUM makes the "
        "checksum partition-order-independent, so it runs as one "
        "map-side-partial shuffle at any scale; mismatched buckets "
        "then re-sync narrowly instead of re-snapshotting the table.",
)
def table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    row_repr = F.concat_ws(
        "|",
        F.coalesce(F.col("c_custkey").cast("string"), F.lit("")),
        F.coalesce(F.col("c_name"), F.lit("")),
        F.coalesce(F.col("c_nationkey").cast("string"), F.lit("")),
        F.coalesce(
            F.round(F.col("c_acctbal"), 2).cast("decimal(18,2)").cast("string"),
            F.lit(""),
        ),
        F.coalesce(F.col("c_mktsegment"), F.lit("")),
    )
    h = md5_prefix(row_repr)
    return (
        cust.select((F.col("c_custkey") % 16).alias("bucket"), h.alias("h"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("h").alias("checksum"))
    )


@register(
    "incremental_agg_merge",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           ROUND(sum(value) + 1e-9, 6) AS total_value
    FROM events
    WHERE user_id IS NOT NULL
    GROUP BY user_id
    """,
    doc="Incremental aggregate maintenance: the per-key (count, sum) "
        "materialization is updated by aggregating ONLY the delta "
        "(lsn > T1) and merging it with the stored base aggregate via "
        "union + re-aggregate — count and sum are mergeable partials, "
        "so the base table is never rescanned. The oracle is the full "
        "recompute the merge must converge to. At 100 TB this is the "
        "difference between scanning the delta (GBs) and the table "
        "(TBs) on every refresh.",
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    ev = _with_split_lsn(events).where(F.col("user_id").isNotNull())

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )

    base = partial(ev.where(F.col("event_id") <= F.col("t1")))
    delta = partial(ev.where(F.col("event_id") > F.col("t1")))
    return (
        base.unionAll(delta)
        .groupBy("user_id")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.round(F.sum("total_value") + F.lit(1e-9), 6).alias("total_value"),
        )
    )


@register(
    "fuzzy_join_levenshtein",
    oracle="""
    WITH names AS (
        SELECT p_name, count(*) AS n_parts,
               split_part(p_name, ' ', 2) AS noun
        FROM part GROUP BY p_name
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist,
           CAST(a.n_parts + b.n_parts AS BIGINT) AS pair_support
    FROM names a JOIN names b
      ON a.noun = b.noun AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 4
    """,
    doc="Entity-resolution fuzzy join: aggregate rows down to the name "
        "vocabulary (the only data-sized shuffle), block on the shared "
        "noun token, then verify candidate pairs with unit-cost "
        "levenshtein <= 4. The quadratic comparison runs on the "
        "deduplicated vocabulary — fixed-size as the table grows — "
        "and the blocked self-join broadcasts, so the plan is "
        "agg + broadcast-join at any scale; row counts ride along as "
        "pair support.",
)
def fuzzy_join_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    names = (
        part.groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        # try_element_at + coalesce('') == DuckDB split_part's ''-on-
        # missing: a single-token name must land in the '' block, not
        # throw INVALID_ARRAY_INDEX under ANSI mode (on by default in
        # Spark 4) the way a bare getItem(1) does.
        .withColumn(
            "noun",
            F.coalesce(
                F.try_element_at(F.split(F.col("p_name"), " "), F.lit(2)),
                F.lit(""),
            ),
        )
    )
    a = names.alias("a")
    b = names.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(
            # corpus-derived: distinct part names grow with SF (part is
            # a scaling dim). The noun-block equality makes this a real
            # equi-join, so with the gate flipped off
            # (spark.graft.vocab.broadcast=false) it degrades to a
            # shuffle hash join on the block key instead of failing at
            # the broadcast ceiling.
            vocab_broadcast(b),
            (F.col("a.noun") == F.col("b.noun"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .where(dist <= 4)
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            dist.cast("int").alias("edit_dist"),
            (F.col("a.n_parts") + F.col("b.n_parts")).alias("pair_support"),
        )
    )


@register(
    "events_ema",
    oracle="""
    WITH l AS (
        SELECT user_id, list(value ORDER BY event_id) AS vals
        FROM events
        WHERE user_id IS NOT NULL AND value IS NOT NULL
        GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(vals) AS BIGINT) AS n_points,
           ROUND(CAST(list_reduce(vals, (acc, x) -> acc * 0.8 + x * 0.2)
                      AS DOUBLE) + 1e-9, 6) AS ema
    FROM l
    """,
    doc="Per-key exponential moving average (alpha=0.2), seeded with "
        "the first observation — the order-sensitive fold SQL windows "
        "cannot express without numerically-exploding (1-a)^-i tricks. "
        "One shuffle: sorted collect_list per key, then a single "
        "JVM-side aggregate() fold over the array (values extracted "
        "once behind a projection boundary — interpreted HOFs have no "
        "CSE). Fold order is pinned by the LSN sort on both engines, "
        "so the doubles are bit-identical.",
)
def events_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    lst = (
        events.where(F.col("user_id").isNotNull() & F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("event_id", "value"))
            ).alias("xs")
        )
        .select(
            "user_id",
            F.expr("transform(xs, s -> s.value)").alias("vals"),
        )
    )
    return lst.select(
        "user_id",
        F.size("vals").cast("bigint").alias("n_points"),
        F.round(
            F.expr(
                "aggregate(slice(vals, 2, size(vals) - 1), "
                "vals[0], (acc, x) -> acc * 0.8D + x * 0.2D)"
            )
            + F.lit(1e-9),
            6,
        ).alias("ema"),
    )


@register(
    "events_debounce_dedup",
    oracle="""
    WITH seq AS (
        SELECT event_id, user_id, event_type,
               CAST(epoch_ms(ts) AS BIGINT) AS ts_ms,
               LAG(CAST(epoch_ms(ts) AS BIGINT)) OVER
                   (PARTITION BY user_id, event_type
                    ORDER BY ts, event_id) AS prev_ms
        FROM events WHERE user_id IS NOT NULL
    )
    SELECT event_id, user_id, event_type, ts_ms
    FROM seq
    WHERE prev_ms IS NULL OR ts_ms - prev_ms > 86400000
    """,
    doc="Telemetry debounce: a repeat of the same (key, event class) "
        "within 24 h of the previous occurrence is suppressed "
        "(duplicate deliveries, notification rate-limiting; the "
        "window matches this corpus's daily cadence so the filter "
        "does real work — 36% of rows drop). LAG against the previous event — one key shuffle, "
        "state-free; the streaming twin is dropDuplicatesWithinWatermark. "
        "Deterministic under timestamp ties via the (ts, lsn) sort.",
)
def events_debounce_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    seq = events.where(F.col("user_id").isNotNull()).select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_millis("ts").alias("ts_ms"),
        F.lag(F.unix_millis("ts")).over(w).alias("prev_ms"),
    )
    return seq.where(
        F.col("prev_ms").isNull() | (F.col("ts_ms") - F.col("prev_ms") > 86400000)
    ).drop("prev_ms")


@register(
    "fk_integrity_audit",
    oracle="""
    SELECT 'orders->customer' AS fk,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) FILTER (NOT EXISTS (
               SELECT 1 FROM customer c
               WHERE c.c_custkey = o.o_custkey)) AS BIGINT) AS n_orphans
    FROM orders o
    UNION ALL
    SELECT 'lineitem->orders' AS fk,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) FILTER (NOT EXISTS (
               SELECT 1 FROM orders o2
               WHERE o2.o_orderkey = l.l_orderkey)) AS BIGINT) AS n_orphans
    FROM lineitem l
    """,
    doc="Referential-integrity audit across the replicated schema — "
        "the validation a CDC target runs after every backfill "
        "(out-of-order application and partial snapshots orphan "
        "children). Each FK edge is an existence-tagged aggregate: "
        "the child streams once through a join against the parent "
        "key set and reduces to one (fk, rows, orphans) row — "
        "parent key sets broadcast when small, and the audit never "
        "materializes the orphan rows themselves.",
)
def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")

    def edge(child: DataFrame, ck: str, parent: DataFrame, pk: str,
             name: str, broadcast: bool = False) -> DataFrame:
        keys = parent.select(F.col(pk).alias("__pk")).distinct()
        # Broadcast only dimension-sized parents; a fact-sized parent
        # key set (lineitem->orders at 100 TB) must shuffle-join and
        # let AQE pick the strategy.
        if broadcast:
            # bounded: caller asserts dimension-sized parent (comment above)
            keys = F.broadcast(keys)
        tagged = child.join(keys, F.col(ck) == F.col("__pk"), "left")
        return tagged.agg(
            F.lit(name).alias("fk"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.when(F.col("__pk").isNull(), 1).otherwise(0)
            ).alias("n_orphans"),
        ).select("fk", "n_rows", "n_orphans")

    return edge(orders, "o_custkey", customer, "c_custkey",
                "orders->customer", broadcast=True).unionAll(
        edge(lineitem, "l_orderkey", orders, "o_orderkey",
             "lineitem->orders")
    )


@register(
    "cdc_hotspot_keys",
    oracle="""
    WITH per_key AS (
        SELECT user_id,
               count(*) AS n_changes,
               count(*) FILTER (event_type = 'error') AS n_deletes,
               CAST(epoch_ms(max(ts)) - epoch_ms(min(ts)) AS BIGINT)
                   AS active_span_ms
        FROM events WHERE user_id IS NOT NULL
        GROUP BY user_id
    )
    SELECT user_id,
           CAST(n_changes AS BIGINT) AS n_changes,
           CAST(n_deletes AS BIGINT) AS n_deletes,
           active_span_ms,
           ROUND(n_changes * 86400000.0 / active_span_ms + 1e-9, 6)
               AS changes_per_day
    FROM per_key
    WHERE active_span_ms > 0
    ORDER BY n_changes DESC, user_id
    LIMIT 25
    """,
    doc="CDC hotspot profiling — the monitoring query that finds keys "
        "dominating the change stream (skew candidates for salting, "
        "compaction pressure, runaway writers). One key shuffle with "
        "map-side partials; top-25 via TakeOrdered with deterministic "
        "key tiebreak.",
)
def cdc_hotspot_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    per_key = (
        events.where(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_changes"),
            F.sum(
                F.when(F.col("event_type") == "error", 1).otherwise(0)
            ).alias("n_deletes"),
            (
                F.unix_millis(F.max("ts")) - F.unix_millis(F.min("ts"))
            ).alias("active_span_ms"),
        )
    )
    return (
        per_key.where(F.col("active_span_ms") > 0)
        .select(
            "user_id",
            "n_changes",
            "n_deletes",
            "active_span_ms",
            F.round(
                F.col("n_changes") * 86400000.0 / F.col("active_span_ms")
                + F.lit(1e-9),
                6,
            ).alias("changes_per_day"),
        )
        .orderBy(F.col("n_changes").desc(), "user_id")
        .limit(25)
    )


@register(
    "gdpr_erasure_audit",
    oracle="""
    WITH del AS (
        SELECT user_id,
               count(*) FILTER (event_type = 'error') AS n_deletes,
               max(event_id) FILTER (event_type = 'error')
                   AS last_delete_lsn,
               count(*) AS n_history_rows
        FROM events WHERE user_id IS NOT NULL
        GROUP BY user_id
        HAVING count(*) FILTER (event_type = 'error') > 0
    ),
    after AS (
        SELECT d.user_id,
               count(e.event_id) AS n_rows_after_last_delete
        FROM del d LEFT JOIN events e
          ON e.user_id = d.user_id AND e.event_id > d.last_delete_lsn
        GROUP BY d.user_id
    )
    SELECT del.user_id,
           CAST(n_deletes AS BIGINT) AS n_deletes,
           last_delete_lsn,
           CAST(n_history_rows AS BIGINT) AS n_history_rows,
           CAST(n_rows_after_last_delete AS BIGINT)
               AS n_rows_after_last_delete,
           n_rows_after_last_delete = 0 AS erasable
    FROM del JOIN after USING (user_id)
    """,
    doc="Right-to-be-forgotten work queue: for every key with a "
        "delete in the change log, the history row count to purge, "
        "the last delete LSN, and whether the key was RESURRECTED "
        "afterwards (activity past the delete means the erasure "
        "request is superseded — the compliance edge case that "
        "silently corrupts naive purge jobs). Both aggregates key on "
        "user_id, so the join reuses the hash partitioning; the "
        "post-delete count joins deletes back to the log as a "
        "range predicate on the LSN, not a second full aggregate.",
)
def gdpr_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    ev = events.where(F.col("user_id").isNotNull())
    del_agg = (
        ev.groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "error", 1).otherwise(0)
            ).alias("n_deletes"),
            F.max(
                F.when(F.col("event_type") == "error", F.col("event_id"))
            ).alias("last_delete_lsn"),
            F.count(F.lit(1)).alias("n_history_rows"),
        )
        .where(F.col("n_deletes") > 0)
    )
    after = (
        del_agg.alias("d")
        .join(
            ev.alias("e"),
            (F.col("e.user_id") == F.col("d.user_id"))
            & (F.col("e.event_id") > F.col("d.last_delete_lsn")),
            "left",
        )
        .groupBy(F.col("d.user_id").alias("user_id"))
        .agg(F.count(F.col("e.event_id")).alias("n_rows_after_last_delete"))
    )
    return (
        del_agg.join(after, "user_id")
        .select(
            "user_id",
            "n_deletes",
            "last_delete_lsn",
            "n_history_rows",
            "n_rows_after_last_delete",
            (F.col("n_rows_after_last_delete") == 0).alias("erasable"),
        )
    )


@register(
    "scd2_bitemporal_grid_audit",
    oracle="""
    WITH s AS (SELECT min(event_id) AS lo, max(event_id) AS hi,
                      min(epoch_us(ts)) AS tlo, max(epoch_us(ts)) AS thi
               FROM events WHERE user_id IS NOT NULL),
    g AS (SELECT CAST(i.i AS INT) AS qi, CAST(j.j AS INT) AS qj,
                 s.lo + ((s.hi - s.lo) * i.i) // 4 AS l,
                 s.tlo + ((s.thi - s.tlo) * j.j) // 4 AS v,
                 s.tlo AS tlo
          FROM s, (SELECT unnest(range(1, 4)) AS i) i,
                  (SELECT unnest(range(1, 4)) AS j) j),
    k AS (SELECT g.qi, g.qj, g.l, g.v, e.user_id,
                 arg_max(CASE WHEN e.event_type = 'error' THEN 'd'
                              ELSE 'u' END,
                         CAST(epoch_us(e.ts) - g.tlo AS HUGEINT)
                             * 1099511627776 + e.event_id) AS lop,
                 arg_max(e.value,
                         CAST(epoch_us(e.ts) - g.tlo AS HUGEINT)
                             * 1099511627776 + e.event_id) AS lval
          FROM events e JOIN g
            ON e.event_id <= g.l AND epoch_us(e.ts) <= g.v
          WHERE e.user_id IS NOT NULL
          GROUP BY g.qi, g.qj, g.l, g.v, e.user_id)
    SELECT qi, qj, CAST(l AS BIGINT) AS tx_lsn,
           CAST(v AS BIGINT) AS valid_ts_us,
           CAST(COUNT(*) FILTER (WHERE lop <> 'd') AS BIGINT)
               AS n_live_users,
           ROUND(SUM(lval) FILTER (WHERE lop <> 'd') + 1e-9, 6)
               AS total_value
    FROM k GROUP BY qi, qj, l, v
    """,
    doc="BITEMPORAL audit grid: state reconstructed at every point of "
        "a 3x3 (transaction-time LSN, valid-time timestamp) grid — "
        "'what did we KNOW at LSN L about the state EFFECTIVE at time "
        "V'. LSN and event time genuinely diverge in this log "
        "(cdc_out_of_order_report counts the inversions), which is "
        "exactly when the two axes answer different questions: "
        "scd2_rebuild_at_lsn fixes only tx-time, "
        "scd2_point_in_time_lookup only valid-time; an audit/"
        "compliance replay needs both. Per cell, per key: latest by "
        "(valid_ts, lsn) among rows known at L and effective by V, "
        "deletes excluded from the live set. The 9-row grid "
        "broadcasts onto one pass over the log; two keyed shuffles "
        "(per-cell-per-key state, per-cell rollup).",
)
def scd2_bitemporal_grid_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("tus"),
            "value",
            F.when(F.col("event_type") == "error", F.lit("d"))
            .otherwise(F.lit("u"))
            .alias("op"),
        )
    )
    s = ev.agg(
        F.min("event_id").alias("lo"),
        F.max("event_id").alias("hi"),
        F.min("tus").alias("tlo"),
        F.max("tus").alias("thi"),
    )
    grid = (
        s.select(
            F.explode(F.array(*[F.lit(i) for i in (1, 2, 3)])).alias("qi"),
            "lo", "hi", "tlo", "thi",
        )
        .select(
            "qi",
            F.explode(F.array(*[F.lit(j) for j in (1, 2, 3)])).alias("qj"),
            "lo", "hi", "tlo", "thi",
        )
        .select(
            F.col("qi").cast("int").alias("qi"),
            F.col("qj").cast("int").alias("qj"),
            F.expr("lo + ((hi - lo) * qi) DIV 4").alias("l"),
            F.expr("tlo + ((thi - tlo) * qj) DIV 4").alias("v"),
            "tlo",
        )
    )
    # Combined (valid_ts, lsn) ordering as ONE wide integer (DuckDB's
    # arg_max has no composite-key form): relative µs since the log's
    # first event, shifted by 2^40, in DECIMAL(38,0) / HUGEINT so the
    # arithmetic is exact on both engines — no BIGINT overflow for any
    # realistic log span (µs-span * 2^40 stays < 1e38 for ~3000 years)
    # and event_id headroom to 2^40 (covers the 8x probe's +10M id
    # shifts).
    ordk = (
        (F.col("tus") - F.col("tlo")).cast("decimal(38,0)")
        * F.lit(1099511627776)
        + F.col("event_id")
    )
    k = (
        ev.join(
            # bounded: 3-row quartile grid off a 1-row agg
            F.broadcast(grid),
            (F.col("event_id") <= F.col("l")) & (F.col("tus") <= F.col("v")),
        )
        .groupBy("qi", "qj", "l", "v", "user_id")
        .agg(
            F.max_by("op", ordk).alias("lop"),
            F.max_by("value", ordk).alias("lval"),
        )
    )
    live = F.col("lop") != "d"
    return k.groupBy("qi", "qj", "l", "v").agg(
        F.sum(F.when(live, 1).otherwise(0)).cast("long").alias("n_live_users"),
        F.round(F.sum(F.when(live, F.col("lval"))) + F.lit(1e-9), 6)
        .alias("total_value"),
    ).select(
        "qi",
        "qj",
        F.col("l").cast("long").alias("tx_lsn"),
        F.col("v").cast("long").alias("valid_ts_us"),
        "n_live_users",
        "total_value",
    )


_TX_GAP = 20
# Band count for the banded-prefix-sum skeleton (cdc_lsn_gap_transactions
# and events_ks_drift_halves). Module-level so tests that craft
# band-hole fixtures import THIS value instead of hard-coding a copy
# that silently diverges if the count changes.
_N_BANDS = 32


@register(
    "cdc_lsn_gap_transactions",
    oracle=f"""
    WITH p AS (
        SELECT event_id, user_id, value
        FROM events
        WHERE event_type = 'purchase' AND user_id IS NOT NULL
    ),
    flagged AS (
        SELECT event_id, user_id, value,
               CASE WHEN event_id - LAG(event_id) OVER (ORDER BY event_id)
                         > {_TX_GAP}
                    OR LAG(event_id) OVER (ORDER BY event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_start
        FROM p
    ),
    txed AS (
        SELECT user_id, value,
               SUM(is_start) OVER (ORDER BY event_id
                                   ROWS UNBOUNDED PRECEDING) AS tx_id,
               event_id
        FROM flagged
    )
    SELECT CAST(tx_id AS BIGINT) AS tx_id,
           CAST(MIN(event_id) AS BIGINT) AS first_lsn,
           CAST(MAX(event_id) AS BIGINT) AS last_lsn,
           CAST(COUNT(*) AS BIGINT) AS n_changes,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_keys,
           ROUND(SUM(value) + 1e-9, 6) AS tx_value
    FROM txed GROUP BY tx_id
    """,
    doc=f"Transaction-boundary inference from LSN gaps (Debezium "
        f"surfaces real tx ids; a raw WAL tail doesn't — consecutive "
        f"LSNs with a gap > {_TX_GAP} start a new transaction batch). "
        f"The naive plan is LAG + running SUM over a GLOBAL order — a "
        f"single-partition window that dies at scale. This plan bands "
        f"the LSN range (broadcast min/max), computes boundary flags "
        f"band-locally, stitches band edges with a broadcast of one "
        f"summary row per band, and turns the running start-count into "
        f"band-offset + band-local prefix — the same banded-prefix-sum "
        f"skeleton as global_ordinal_ids, so the log is never "
        f"single-partitioned. Oracle states the naive global-window "
        f"semantics; results are identical.",
)
def cdc_lsn_gap_transactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_bands = _N_BANDS
    ev = load_table(spark, sf_dir, "events")
    p = ev.where(
        (F.col("event_type") == "purchase") & F.col("user_id").isNotNull()
    ).select("event_id", "user_id", "value")
    stats = p.agg(
        F.min("event_id").alias("lo"), F.max("event_id").alias("hi")
    )
    # bounded: 1-row min/max scalar
    banded = p.crossJoin(F.broadcast(stats)).withColumn(
        "band",
        F.expr(
            f"CAST(((event_id - lo) * {n_bands}) DIV (hi - lo + 1) AS INT)"
        ),
    ).drop("lo", "hi")
    # Band edge stitching: the LAG of each band's first row lives in the
    # last preceding NON-empty band — a running max of band_max over the
    # (bounded, <= n_bands rows) summary handles empty bands, which the
    # naive band-1 lookup would skip, fabricating a spurious tx start.
    summary = banded.groupBy("band").agg(
        F.max("event_id").alias("band_max"),
        F.count(F.lit(1)).alias("band_rows"),
    )
    w_prev_band = global_window("band").rowsBetween(
        Window.unboundedPreceding, -1
    )
    prev_max = summary.select(
        "band",
        F.max("band_max").over(w_prev_band).alias("prev_band_max"),
    )
    w_local = Window.partitionBy("band").orderBy("event_id")
    flagged = (
        # bounded: per-band rows (constant band count)
        banded.join(F.broadcast(prev_max), "band", "left")
        .withColumn(
            "prev_lsn",
            F.coalesce(
                F.lag("event_id").over(w_local), F.col("prev_band_max")
            ),
        )
        .withColumn(
            "is_start",
            (
                F.col("prev_lsn").isNull()
                | (F.col("event_id") - F.col("prev_lsn") > _TX_GAP)
            ).cast("long"),
        )
    )
    # r13 negative result: pinning `flagged` for its two consumers
    # (band starts + tx assignment) measured 1.47 -> 1.65s best-of-7 —
    # the cache fill serializes ahead of both branches while the
    # duplicate subtree runs fully pipelined (same verdict as the
    # filter-funnel count-table pin). Shape kept as-is.
    # Running start-count = offset of starts in earlier bands (bounded
    # n_bands-row window) + band-local prefix of flags.
    band_starts = flagged.groupBy("band").agg(
        F.sum("is_start").alias("starts")
    )
    w_off = global_window("band").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = band_starts.select(
        "band", F.coalesce(F.sum("starts").over(w_off), F.lit(0)).alias("off")
    )
    w_run = w_local.rowsBetween(Window.unboundedPreceding, 0)
    # bounded: per-band offset rows (constant band count)
    txed = flagged.join(F.broadcast(offsets), "band").withColumn(
        "tx_id", (F.col("off") + F.sum("is_start").over(w_run)).cast("long")
    )
    return txed.groupBy("tx_id").agg(
        F.min("event_id").cast("long").alias("first_lsn"),
        F.max("event_id").cast("long").alias("last_lsn"),
        F.count(F.lit(1)).cast("long").alias("n_changes"),
        F.countDistinct("user_id").cast("long").alias("n_keys"),
        F.round(F.sum("value") + 1e-9, 6).alias("tx_value"),
    )


@register(
    "scd2_rebuild_at_lsn",
    oracle="""
    WITH bound AS (SELECT max(event_id) // 2 AS l FROM events),
    upto AS (
        SELECT user_id, event_id, value,
               CASE event_type WHEN 'error' THEN 'd' ELSE 'u' END AS op
        FROM events, bound
        WHERE user_id IS NOT NULL AND event_id <= bound.l
    ),
    last AS (
        SELECT user_id,
               arg_max(op, event_id)    AS last_op,
               arg_max(value, event_id) AS last_value,
               max(event_id)            AS last_lsn
        FROM upto GROUP BY user_id
    )
    SELECT user_id, ROUND(last_value + 1e-9, 6) AS value,
           CAST(last_lsn AS BIGINT) AS last_lsn
    FROM last WHERE last_op != 'd'
    """,
    doc="Point-in-time state rebuild keyed by LSN rather than wall "
        "clock (the recovery primitive: 'replay the log to exactly "
        "change L' — timestamps are non-monotonic under clock skew, "
        "LSNs are the true order; reference semantics "
        "transform_scd2.py:19-61 sequence by source.lsn for the same "
        "reason). The LSN bound (max/2) is computed as a broadcast "
        "scalar in-plan; one hash shuffle with map-side max_by "
        "partials; keys whose last op at L is a delete are absent, "
        "exactly as a restored replica would be.",
)
def scd2_rebuild_at_lsn(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bound = ev.agg(F.expr("max(event_id) div 2").alias("l"))
    upto = (
        # bounded: 1-row bound scalar
        ev.crossJoin(F.broadcast(bound))
        .where(F.col("user_id").isNotNull() & (F.col("event_id") <= F.col("l")))
        .select(
            "user_id",
            "event_id",
            "value",
            F.when(F.col("event_type") == "error", "d").otherwise("u")
            .alias("op"),
        )
    )
    last = upto.groupBy("user_id").agg(
        F.expr("max_by(op, event_id)").alias("last_op"),
        F.expr("max_by(value, event_id)").alias("last_value"),
        F.max("event_id").cast("long").alias("last_lsn"),
    )
    return last.where(F.col("last_op") != "d").select(
        "user_id",
        F.round(F.col("last_value") + 1e-9, 6).alias("value"),
        "last_lsn",
    )


@register(
    "events_pattern_signup_purchase_cep",
    oracle="""
    WITH u AS (
        SELECT user_id, event_id, ts, event_type,
               COUNT(*) FILTER (WHERE event_type = 'error')
                   OVER (PARTITION BY user_id ORDER BY event_id
                         ROWS UNBOUNDED PRECEDING) AS err_cnt
        FROM events WHERE user_id IS NOT NULL
    ),
    p AS (SELECT user_id, event_id AS p_event_id, ts AS p_ts,
                 err_cnt AS p_err FROM u WHERE event_type = 'purchase'),
    s AS (SELECT user_id, event_id AS s_event_id, ts AS s_ts,
                 err_cnt AS s_err FROM u WHERE event_type = 'signup'),
    best AS (
        SELECT p.user_id, p.p_event_id, p.p_ts, p.p_err,
               MAX(s.s_event_id) AS s_event_id
        FROM p JOIN s ON p.user_id = s.user_id
                     AND s.s_event_id < p.p_event_id
                     AND s.s_ts >= p.p_ts - INTERVAL 24 HOUR
        GROUP BY p.user_id, p.p_event_id, p.p_ts, p.p_err
    )
    SELECT b.user_id, b.s_event_id, b.p_event_id,
           CAST((epoch_us(b.p_ts) - epoch_us(s.s_ts)) // 1000000 AS BIGINT)
               AS latency_s
    FROM best b JOIN s ON b.user_id = s.user_id
                      AND b.s_event_id = s.s_event_id
    WHERE b.p_err = s.s_err
    """,
    doc="Complex-event pattern match (the MATCH_RECOGNIZE / Flink CEP "
        "shape): signup FOLLOWED BY purchase within 24 h with NO error "
        "in between, per user — emitted as (matched signup, purchase, "
        "latency). The 'nothing in between' predicate is the part "
        "naive joins get wrong; here it is O(1) per candidate: a "
        "per-user running error COUNT makes 'no error between A and B' "
        "equal 'err_cnt(A) == err_cnt(B)'. Plan: one keyed window for "
        "the running counts, an as-of-style max-per-purchase join for "
        "the latest qualifying signup, then the counter equality "
        "filter — everything partitions by user_id, nothing global.",
)
def events_pattern_signup_purchase_cep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    u = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.sum((F.col("event_type") == "error").cast("long"))
        .over(w)
        .alias("err_cnt"),
    )
    p = u.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("p_event_id"),
        F.col("ts").alias("p_ts"),
        F.col("err_cnt").alias("p_err"),
    )
    s = u.where(F.col("event_type") == "signup").select(
        "user_id",
        F.col("event_id").alias("s_event_id"),
        F.col("ts").alias("s_ts"),
        F.col("err_cnt").alias("s_err"),
    )
    best = (
        p.join(
            s.select("user_id", "s_event_id", "s_ts"),
            (p["user_id"] == s["user_id"])
            & (F.col("s_event_id") < F.col("p_event_id"))
            & (F.col("s_ts") >= F.col("p_ts") - F.expr("INTERVAL 24 HOURS")),
        )
        .drop(s["user_id"])
        .groupBy("user_id", "p_event_id", "p_ts", "p_err")
        .agg(F.max("s_event_id").alias("s_event_id"))
    )
    return (
        best.join(s, ["user_id", "s_event_id"])
        .where(F.col("p_err") == F.col("s_err"))
        .select(
            "user_id",
            "s_event_id",
            "p_event_id",
            ((F.unix_micros("p_ts") - F.unix_micros("s_ts")) / 1000000)
            .cast("long")
            .alias("latency_s"),
        )
    )


@register(
    "cdc_out_of_order_report",
    oracle="""
    WITH o AS (
        SELECT user_id, ts,
               LAG(ts) OVER (PARTITION BY user_id ORDER BY event_id)
                   AS prev_ts
        FROM events WHERE user_id IS NOT NULL
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_changes,
           CAST(COUNT(*) FILTER (WHERE ts < prev_ts) AS BIGINT)
               AS n_inversions,
           CAST(COALESCE(MAX(CASE WHEN ts < prev_ts
                    THEN (epoch_us(prev_ts) - epoch_us(ts)) // 1000000
                END), 0) AS BIGINT) AS max_skew_s
    FROM o GROUP BY user_id
    HAVING COUNT(*) FILTER (WHERE ts < prev_ts) > 0
    """,
    doc="Out-of-order arrival report: per key, how often the LSN order "
        "(the true change order) disagrees with event-time order, and "
        "the worst clock skew observed — the diagnostic that sizes "
        "watermarks and validates that downstream SCD2 sequences by "
        "LSN, not ts (the reference's transform sequences by "
        "source.lsn for exactly this reason, transform_scd2.py:47-51). "
        "One keyed window + one keyed agg, both on user_id.",
)
def cdc_out_of_order_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("event_id")
    o = ev.select(
        "user_id", "ts", F.lag("ts").over(w).alias("prev_ts")
    )
    inv = F.col("ts") < F.col("prev_ts")
    skew = (
        (F.unix_micros("prev_ts") - F.unix_micros("ts")) / 1000000
    ).cast("long")
    return (
        o.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_changes"),
            F.sum(inv.cast("long")).cast("long").alias("n_inversions"),
            F.coalesce(
                F.max(F.when(inv, skew)), F.lit(0)
            ).cast("long").alias("max_skew_s"),
        )
        .where(F.col("n_inversions") > 0)
    )


@register(
    "scd2_type3_current_previous",
    oracle="""
    WITH r AS (
        SELECT user_id, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE user_id IS NOT NULL
    )
    SELECT user_id,
           ROUND(MAX(CASE WHEN rn = 1 THEN value END) + 1e-9, 6)
               AS current_value,
           CAST(MAX(CASE WHEN rn = 1 THEN event_id END) AS BIGINT)
               AS current_lsn,
           ROUND(MAX(CASE WHEN rn = 2 THEN value END) + 1e-9, 6)
               AS previous_value,
           CAST(MAX(CASE WHEN rn = 2 THEN event_id END) AS BIGINT)
               AS previous_lsn
    FROM r WHERE rn <= 2 GROUP BY user_id
    """,
    doc="Slowly-Changing-Dimension TYPE 3: one row per key carrying the "
        "current AND immediately-previous attribute value side by side "
        "(the 'limited history' SCD variant — completes the family "
        "next to type-1 net-effect compaction and the type-2 validity "
        "chains the reference materializes, transform_scd2.py:52-58). "
        "One keyed window to rank the two newest versions, one pivot "
        "agg; keys with a single version carry NULL previous columns "
        "on both engines.",
)
def scd2_type3_current_previous(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy(F.col("event_id").desc())
    r = ev.select(
        "user_id", "event_id", "value", F.row_number().over(w).alias("rn")
    ).where(F.col("rn") <= 2)
    cur = F.when(F.col("rn") == 1, F.col("value"))
    prev = F.when(F.col("rn") == 2, F.col("value"))
    return r.groupBy("user_id").agg(
        F.round(F.max(cur) + 1e-9, 6).alias("current_value"),
        F.max(F.when(F.col("rn") == 1, F.col("event_id")))
        .cast("long")
        .alias("current_lsn"),
        F.round(F.max(prev) + 1e-9, 6).alias("previous_value"),
        F.max(F.when(F.col("rn") == 2, F.col("event_id")))
        .cast("long")
        .alias("previous_lsn"),
    )


@register(
    "events_ks_drift_halves",
    oracle="""
    WITH b AS (SELECT max(event_id) // 2 AS mid FROM events),
    v AS (
        SELECT value,
               CASE WHEN event_id <= mid THEN 0 ELSE 1 END AS grp
        FROM events, b WHERE value IS NOT NULL
    ),
    n AS (SELECT grp, COUNT(*) AS cnt FROM v GROUP BY grp),
    c AS (SELECT value, grp, COUNT(*) AS k FROM v GROUP BY value, grp),
    w AS (
        SELECT value,
               SUM(CASE WHEN grp = 0 THEN k ELSE 0 END) AS k0,
               SUM(CASE WHEN grp = 1 THEN k ELSE 0 END) AS k1
        FROM c GROUP BY value
    ),
    cdf AS (
        SELECT value,
               SUM(k0) OVER (ORDER BY value
                             ROWS UNBOUNDED PRECEDING) AS c0,
               SUM(k1) OVER (ORDER BY value
                             ROWS UNBOUNDED PRECEDING) AS c1
        FROM w
    )
    SELECT ROUND(MAX(ABS(c0 * 1.0 / (SELECT cnt FROM n WHERE grp = 0)
                        - c1 * 1.0 / (SELECT cnt FROM n WHERE grp = 1)))
                 + 1e-9, 6) AS ks_statistic,
           CAST((SELECT cnt FROM n WHERE grp = 0) AS BIGINT) AS n_first,
           CAST((SELECT cnt FROM n WHERE grp = 1) AS BIGINT) AS n_second
    FROM cdf
    """,
    doc="Two-sample Kolmogorov-Smirnov drift test between the first "
        "and second half of the change log (split at the median LSN): "
        "max CDF gap of the value distribution — the numeric twin of "
        "text_js_divergence_sources for detecting payload drift "
        "(schema abuse, unit changes, sensor failure) in a CDC feed. "
        "The oracle states the naive global-ordered-CDF window; the "
        "engine computes both CDFs with the banded-prefix-sum "
        "skeleton over the DISTINCT-value table (value bands from "
        "broadcast min/max, per-band counts, bounded offset window, "
        "band-local running sums) — the value axis is never "
        "single-partitioned.",
)
def events_ks_drift_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_bands = _N_BANDS
    ev_all = load_table(spark, sf_dir, "events")
    ev = ev_all.where(F.col("value").isNotNull())
    # The split point comes from the UNFILTERED table, exactly like the
    # oracle's `max(event_id) FROM events`: if the max-event_id row had
    # a NULL value, a filtered max would shift the halves.
    mid = ev_all.agg(F.expr("max(event_id) div 2").alias("mid"))
    # bounded: 1-row split scalar
    v = ev.crossJoin(F.broadcast(mid)).select(
        "value",
        F.when(F.col("event_id") <= F.col("mid"), 0).otherwise(1)
        .alias("grp"),
    )
    w = v.groupBy("value").agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).alias("k0"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("k1"),
    )
    # Banded prefix over the distinct-value axis.
    rng = w.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    # bounded: 1-row range scalar
    banded = w.crossJoin(F.broadcast(rng)).withColumn(
        "band",
        F.least(
            F.lit(n_bands - 1),
            (
                (F.col("value") - F.col("lo"))
                / ((F.col("hi") - F.col("lo")) / n_bands + 1e-12)
            ).cast("int"),
        ),
    ).drop("lo", "hi")
    bsum = banded.groupBy("band").agg(
        F.sum("k0").alias("b0"), F.sum("k1").alias("b1")
    )
    from pyspark.sql.window import Window

    w_off = global_window("band").rowsBetween(
        Window.unboundedPreceding, -1
    )
    # Class totals are sums over the bounded (<= n_bands) band summary
    # — same single-partition sort as the offset window, full frame —
    # so the old n0/n1 branches (each replaying the corpus split+agg
    # for a 1-row broadcast) collapse into this pass.
    w_tot = global_window("band").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offs = bsum.select(
        "band",
        F.coalesce(F.sum("b0").over(w_off), F.lit(0)).alias("off0"),
        F.coalesce(F.sum("b1").over(w_off), F.lit(0)).alias("off1"),
        F.sum("b0").over(w_tot).alias("n0"),
        F.sum("b1").over(w_tot).alias("n1"),
    )
    w_run = (
        Window.partitionBy("band")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # bounded: per-band offset rows (constant band count)
    cdf = banded.join(F.broadcast(offs), "band").select(
        (F.col("off0") + F.sum("k0").over(w_run)).alias("c0"),
        (F.col("off1") + F.sum("k1").over(w_run)).alias("c1"),
        "n0",
        "n1",
    )
    gap = cdf.select(
        F.abs(
            F.col("c0") * 1.0 / F.col("n0")
            - F.col("c1") * 1.0 / F.col("n1")
        ).alias("g"),
        "n0",
        "n1",
    )
    return gap.groupBy().agg(
        F.round(F.max("g") + 1e-9, 6).alias("ks_statistic"),
        F.max("n0").cast("long").alias("n_first"),
        F.max("n1").cast("long").alias("n_second"),
    )


@register(
    "events_autocorr_lag1",
    oracle="""
    WITH s AS (
        SELECT event_type, value,
               LAG(value) OVER (PARTITION BY event_type
                                ORDER BY event_id) AS prev
        FROM events WHERE value IS NOT NULL
    )
    SELECT event_type,
           ROUND(corr(value, prev) + 1e-9, 6) AS autocorr_lag1,
           CAST(COUNT(prev) AS BIGINT) AS n_pairs
    FROM s GROUP BY event_type
    """,
    doc="Lag-1 autocorrelation of the payload value per event type "
        "(LSN order): the time-series health check that separates "
        "independent readings from stuck-sensor / retry-storm "
        "signatures (autocorr -> 1) in a CDC feed. One keyed window "
        "to pair each value with its predecessor, then Pearson corr "
        "as a single-pass aggregate — corr's running-moment form is "
        "exactly what map-side partial aggregation wants at 100 TB.",
)
def events_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull()
    )
    w = Window.partitionBy("event_type").orderBy("event_id")
    s = ev.select(
        "event_type", "value", F.lag("value").over(w).alias("prev")
    )
    return s.groupBy("event_type").agg(
        F.round(F.corr("value", "prev") + 1e-9, 6).alias("autocorr_lag1"),
        F.count("prev").cast("long").alias("n_pairs"),
    )
