"""Incremental streaming SCD2 — a ``foreachBatch`` upsert that stays
equal to the batch recompute (SURVEY.md §5 item 4, §2.8 T6).

The reference has two formulations: full recompute over the whole log
(transform_scd2.py, exact for any lateness) and an incremental upsert
(init_duckdb.sh:39-68: expire the current row, insert the new one).
This module runs the upsert on every in-order micro-batch and keeps the
recompute as the fallback that makes it exact.

Layout. One SCD2 table under ``scd2_path``, partitioned by ``part``:

- ``part=c<b>``: the current snapshot, the open row of every key, with
  ``b = pmod(hash(id), n_buckets)``;
- ``part=h<batch_id>``: closed versions, each in the partition of the
  batch whose event closed it. A closed version never changes again,
  so these partitions are append-only.

A hidden ``log_seq_num`` column keeps each row's LSN; ``result()``
drops it and ``part``. The log, the source of truth for
``reconcile()``, is one unbucketed parquet file per micro-batch under
``log_path/batch_id=<id>/``, with ``bucket`` as a data column.

Per micro-batch (three Spark jobs: the log write, then the table
write's shuffle stage and its write stage):
  1. write the batch's decoded events to its log directory. An
     ``Observation`` on that write returns the set of touched buckets;
     an empty batch touches none and stops here;
  2. read the ``c<b>`` partitions of the touched buckets only, by
     explicit paths under ``basePath`` — the file index never lists the
     growing ``h`` partitions or any older log batch;
  3. union those rows with the batch's events (read back from its log
     file). One window per ``id`` gives each event its
     ``version_number`` (the key's current version + row number) and
     its expiry (``lead`` of the start timestamp, or the sentinel);
  4. write the result once through the merge backend: closed rows go
     to ``h<batch_id>``, open rows to ``c<b>``.

Late data. An event whose LSN is at or below its key's current LSN is
late, out of order, or part of a replayed batch whose table write had
already landed. The upsert cannot place it, so for such a key the table
write keeps the current row as it is, and an ``Observation`` on that
write counts the late events. A count above zero runs ``reconcile()``:
one recompute over the whole log, which costs what every batch cost
before this layout (a read of every log file and a rewrite of the whole
table). Every partition the upsert writes is one the recompute writes
too — ``h<B>`` only ever holds rows closed by events of batch ``B``
that follow an earlier event of their key, and adding events never
makes such an event first of its key again — so the recompute's
dynamic overwrite leaves no stale partition
(tests/test_scd2_faults.py checks this against the recompute).

Replay. foreachBatch is at-least-once: a crash before the offset commit
re-runs the batch under the same ``batch_id``. The log write overwrites
the batch's own directory, so the log never holds an event twice. If
the first run's table write had not landed, the replay is an ordinary
in-order batch; if it had, every replayed event is late and the replay
ends in ``reconcile()``. Either way the table ends equal to the
recompute over the log.

Merge backend. The reference applies updates in place
(``init_duckdb.sh:56-68``: ``UPDATE dim_products SET valid_to=...,
is_current=false``). Spark has no in-place UPDATE on parquet, so the
stream computes the post-merge rows and ``ParquetOverwriteBackend``
makes them durable:

    apply(spark, path, rows, partition_col)

replaces every ``partition_col`` partition that appears in ``rows``
with exactly those rows and leaves all other partitions untouched.
Replace-partitions is idempotent by construction — re-applying the
same rows yields the same table (tests/test_merge_backend.py pins
idempotence and delete-tombstone preservation). On a lakehouse table
the same contract is a transactional partition swap (Delta
``replaceWhere``, Iceberg ``overwritePartitions()``), or a merge-on-read
MERGE INTO keyed on (id, version_number) — cheaper for small-delta
batches at 100 TB (see SCALING.md).

Why not ``applyInPandasWithState``: per-key SCD2 state is unbounded
(every key lives forever — SURVEY.md §7 "streaming state at scale");
keeping state in the table keeps executor memory flat at 100 TB.

Cost at scale. A batch reads its own events plus the current rows of
the buckets it touches, and rewrites those buckets and one ``h``
partition. A batch of K distinct keys touches an expected
1-(1-1/n)^K share of the n buckets: the benchmark's 200-event batches
at n = 16 touch 16 of 16, so each batch still rewrites the whole
snapshot, which grows with the number of keys (SCALING.md "Merge
backend"). The ``h`` partitions and log directories grow by one per
batch, so the listings of ``result()`` and ``reconcile()`` go
parallel (one more job) past 32 batches; compacting old log batches is
open (ROADMAP direction 2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from change_data_capture_poc_spark.cdc.envelope import decode_envelope
from change_data_capture_poc_spark.cdc.scd2 import (
    PRODUCT_ATTRS,
    SCD2_SENTINEL,
)


class ParquetOverwriteBackend:
    """Replace-partitions by dynamic partition overwrite on plain
    parquet.

    The overwrite mode is scoped to this one write via the
    DataFrameWriter option — setting it session-wide would silently
    change overwrite semantics for every other write in the session.
    """

    name = "parquet"

    def apply(
        self,
        spark: SparkSession,
        path: str,
        rows: DataFrame,
        partition_col: str = "bucket",
    ) -> None:
        rows.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy(partition_col).parquet(path)


def get_merge_backend() -> ParquetOverwriteBackend:
    """The stream's merge backend. ``IncrementalScd2`` looks this name
    up in the module on every construction, so a wrapper installed
    here (perfbench/cdc_stream.py times ``apply`` this way) is used by
    the next stream started."""
    return ParquetOverwriteBackend()


class IncrementalScd2:
    """State lives in two parquet locations, not in memory: the
    per-batch event log and the SCD2 table (layout in the module
    docstring).

    Durable SCD2 writes go through the merge backend that
    ``get_merge_backend`` returns (replace-partitions semantics, see
    the module docstring).
    """

    def __init__(
        self,
        spark: SparkSession,
        log_path: str,
        scd2_path: str,
        attr_fields: list[str] | None = None,
        n_buckets: int = 16,
    ) -> None:
        self.spark = spark
        self.log_path = log_path
        self.scd2_path = scd2_path
        self.attr_fields = attr_fields or PRODUCT_ATTRS
        self.n_buckets = n_buckets
        self.backend = get_merge_backend()
        # The log's schema, known once this instance has landed a batch;
        # until then reconcile() infers it (one more Spark job).
        self._log_schema: T.StructType | None = None

    def _bucket(self) -> Column:
        return F.pmod(F.hash("id"), F.lit(self.n_buckets))

    def _rows(self, events: DataFrame, batch_id: Column) -> DataFrame:
        """Decoded log events → table-shaped rows, not yet versioned or
        closed, with the ``batch_id`` they arrived in and ``cur`` false
        (not a row of the current snapshot)."""
        return events.where(F.col("id").isNotNull()).select(
            "id",
            *[F.col("after_row_value").getField(f).alias(f)
              for f in self.attr_fields],
            "operation_type",
            F.lit(None).cast("int").alias("version_number"),
            F.col("source_timestamp").alias("row_valid_start_timestamp"),
            F.lit(None).cast("timestamp").alias(
                "row_valid_expiration_timestamp"),
            "log_seq_num",
            batch_id.cast("long").alias("batch_id"),
            F.lit(False).alias("cur"),
        )

    def _merge(self, rows: DataFrame) -> int:
        """Version ``rows`` — events, plus at most one ``cur`` row per
        key holding its open version — and apply the result through the
        backend in one write. Returns the number of late events (LSN at
        or below their key's current LSN); their keys keep the current
        row unchanged."""
        cur = F.col("cur")
        lsn = F.col("log_seq_num")
        w = Window.partitionBy("id").orderBy("log_seq_num")
        key = w.rowsBetween(Window.unboundedPreceding,
                            Window.unboundedFollowing)
        cur_lsn = F.max(F.when(cur, lsn)).over(key)
        ranked = rows.select(
            "*",
            cur_lsn.alias("cur_lsn"),
            F.coalesce(
                F.min(F.when(~cur, lsn)).over(key) <= cur_lsn, F.lit(False)
            ).alias("late_key"),
            (F.row_number().over(w) + F.coalesce(
                F.max(F.when(cur, F.col("version_number"))).over(key) - 1,
                F.lit(0),
            )).alias("rn"),
            F.lead("row_valid_start_timestamp").over(w).alias("next_ts"),
            F.lead("batch_id").over(w).alias("next_batch"),
        )
        late = Observation()
        ranked = ranked.observe(
            late,
            F.count(F.when(~cur & (lsn <= F.col("cur_lsn")), 1))
            .alias("n"),
        )
        closed = F.col("next_ts").isNotNull() & ~F.col("late_key")
        out = ranked.where(cur | ~F.col("late_key")).select(
            "id",
            *self.attr_fields,
            "operation_type",
            F.coalesce("version_number", "rn").cast("int")
            .alias("version_number"),
            "row_valid_start_timestamp",
            F.when(closed, F.col("next_ts"))
            .otherwise(F.lit(SCD2_SENTINEL).cast("timestamp"))
            .alias("row_valid_expiration_timestamp"),
            "log_seq_num",
            F.when(closed, F.concat(F.lit("h"), F.col("next_batch")))
            .otherwise(F.concat(F.lit("c"), self._bucket()))
            .alias("part"),
        )
        self.backend.apply(self.spark, self.scd2_path, out, "part")
        return late.get["n"]

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch offers at-least-once: offsets commit AFTER this
        # function returns, so a crash mid-batch REPLAYS the whole batch
        # on restart. The log write overwrites the batch's own
        # directory, and a replay whose table write had landed is late
        # data, repaired by reconcile() (module docstring, "Replay").
        landed = Observation()
        events = decode_envelope(batch_df).withColumn(
            "bucket", self._bucket()
        ).observe(landed, F.collect_set("bucket").alias("touched"))
        batch_dir = f"{self.log_path}/batch_id={batch_id}"
        events.coalesce(1).write.mode("overwrite").parquet(batch_dir)
        touched = landed.get["touched"]
        schema = events.schema
        self._log_schema = T.StructType(
            schema.fields + [T.StructField("batch_id", T.LongType())])
        if not touched:
            return
        rows = self._rows(
            self.spark.read.schema(schema).parquet(batch_dir),
            F.lit(batch_id),
        )
        sc = self.spark.sparkContext
        jvm_path = sc._jvm.org.apache.hadoop.fs.Path
        fs = jvm_path(self.scd2_path).getFileSystem(
            sc._jsc.hadoopConfiguration())
        paths = [
            p for p in (f"{self.scd2_path}/part=c{b}" for b in sorted(touched))
            if fs.exists(jvm_path(p))
        ]
        if paths:
            table = [f for f in rows.schema.fields
                     if f.name not in ("batch_id", "cur")]
            rows = rows.union(
                self.spark.read.schema(T.StructType(
                    table + [T.StructField("part", T.StringType())]))
                .option("basePath", self.scd2_path)
                .parquet(*paths)
                .select(
                    *[f.name for f in table],
                    F.lit(None).cast("long").alias("batch_id"),
                    F.lit(True).alias("cur"),
                )
            )
        if self._merge(rows) > 0:
            self.reconcile()

    def result(self) -> DataFrame:
        return self.spark.read.parquet(self.scd2_path).drop(
            "part", "log_seq_num")

    def reconcile(self) -> None:
        """Repair path: recompute the whole table from the landed log.

        Runs after a batch with late data (module docstring), and after
        an unclean shutdown: a stream stopped between the log write and
        the table write leaves the table lagging the log by one
        micro-batch. The log is the source of truth (the reference's
        recompute-from-log stance, transform_scd2.py:20). Each closed
        version goes to ``h<batch_id of the event that closes it>``,
        each open one to ``c<b>``, in one ``apply``; cost is one pass
        over the log."""
        reader = self.spark.read
        if self._log_schema is not None:
            reader = reader.schema(self._log_schema)
        self._merge(
            self._rows(reader.parquet(self.log_path), F.col("batch_id")))


def run_incremental_scd2(
    spark: SparkSession,
    stream: DataFrame,
    log_path: str,
    scd2_path: str,
    checkpoint: str,
    attr_fields: list[str] | None = None,
    n_buckets: int = 16,
) -> tuple[StreamingQuery, IncrementalScd2]:
    """Wire an envelope stream into the incremental SCD2 materializer."""
    inc = IncrementalScd2(spark, log_path, scd2_path, attr_fields, n_buckets)
    q = (
        stream.writeStream.foreachBatch(inc.process_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    return q, inc
