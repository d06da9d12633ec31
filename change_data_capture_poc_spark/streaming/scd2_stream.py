"""Incremental streaming SCD2 — a ``foreachBatch`` upsert that stays
equal to the batch recompute (SURVEY.md §5 item 4, §2.8 T6).

The reference has two formulations: full recompute over the whole log
(transform_scd2.py, exact for any lateness) and an incremental upsert
(init_duckdb.sh:39-68: expire the current row, insert the new one).
This module runs the upsert on every in-order micro-batch and keeps the
recompute as the fallback that makes it exact.

Layout. One SCD2 table under ``scd2_path``, partitioned by ``part``:

- ``part=c0``: the current snapshot, the open row of every key, in
  one partition ("Cost at scale" says why it is not split);
- ``part=h<batch_id>``: closed versions, each in the partition of the
  batch whose event closed it. A closed version never changes again,
  so these partitions are append-only.

A hidden ``log_seq_num`` column keeps each row's LSN; ``result()``
drops it and ``part``. The log, the source of truth for
``reconcile()``, is one unbucketed parquet file per micro-batch under
``log_path/batch_id=<id>/``, with a constant ``bucket`` data column
of 0 (the snapshot's one partition; perfbench/cdc_stream.py counts it
per batch).

Per micro-batch (three Spark jobs: the log write, then the table
write's shuffle stage and its write stage):
  1. write the batch's decoded events to its log directory. An
     ``Observation`` on that write counts them; an empty batch stops
     here;
  2. read the ``c0`` partition only, by explicit path under
     ``basePath`` — the file index never lists the growing ``h``
     partitions or any older log batch;
  3. union those rows with the batch's events (read back from its log
     file). One window per ``id`` gives each event its
     ``version_number`` (the key's current version + row number) and
     its expiry (``lead`` of the start timestamp, or the sentinel);
  4. write the result once through the merge backend: closed rows go
     to ``h<batch_id>``, open rows to ``c0``.

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

Cost at scale. A batch reads its own events plus the current
snapshot, and rewrites the snapshot and one ``h`` partition: an
in-order batch writes one ``c0`` file and at most one ``h`` file. An
earlier layout hashed the snapshot by ``id`` into 16 partitions
``c0``..``c15``, so that a batch would read and rewrite only those of
the keys it touches. A batch of K distinct keys touches an expected
n(1-(1-1/n)^K) of n such partitions, which is about all n whenever
K >= n: the split saved no bytes and added n-1 files per batch to
write, commit and read back, each with a fixed cost (about 17 ms per
partition on 4 cores). A sweep of n and batch size found no case where
n > 1 won (SCALING.md "Merge backend"). That layout's ``c1``.. would
never be read here, so a table written under it is refused; delete the
table directory and ``reconcile()`` rebuilds it from the log. The
``h`` partitions and log directories grow by one per batch, so the
listings of ``result()`` and ``reconcile()`` go parallel (one more
job) past 32 batches; compacting old log batches is open (ROADMAP
direction 2).
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

# The current snapshot's one partition (module docstring, "Layout").
_CURRENT = "c0"


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
        partition_col: str,
    ) -> None:
        """Replace the ``partition_col`` partitions of ``path`` that
        ``rows`` covers with ``rows``. The write over ``rows`` must
        run before this returns: ``IncrementalScd2`` reads its
        late-event count from an ``Observation`` in the plan of
        ``rows``, which only that write action fills in, so an
        ``apply`` that returns without writing ``rows`` leaves
        ``process_batch`` waiting forever."""
        rows.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy(partition_col).parquet(path)


def get_merge_backend() -> ParquetOverwriteBackend:
    """The stream's merge backend. ``IncrementalScd2`` looks this name
    up in the module on every construction, so a wrapper installed
    here (perfbench/cdc_stream.py times ``apply`` this way) is used by
    the next stream started. A replacement backend keeps the contract
    of ``ParquetOverwriteBackend.apply``: it runs the write over
    ``rows`` before it returns."""
    return ParquetOverwriteBackend()


class IncrementalScd2:
    """State lives in two parquet locations, not in memory: the
    per-batch event log and the SCD2 table (layout in the module
    docstring).

    Durable SCD2 writes go through the merge backend that
    ``get_merge_backend`` returns (replace-partitions semantics, see
    the module docstring).

    Raises ``ValueError`` if ``scd2_path`` holds a snapshot partition
    other than ``c0``, written by the earlier hashed layout (module
    docstring, "Cost at scale").
    """

    def __init__(
        self,
        spark: SparkSession,
        log_path: str,
        scd2_path: str,
        attr_fields: list[str] | None = None,
    ) -> None:
        self.spark = spark
        self.log_path = log_path
        self.scd2_path = scd2_path
        self.attr_fields = attr_fields or PRODUCT_ATTRS
        self.backend = get_merge_backend()
        # The log's schema, known once this instance has landed a batch;
        # until then reconcile() infers it (one more Spark job).
        self._log_schema: T.StructType | None = None
        sc = spark.sparkContext
        self._path = sc._jvm.org.apache.hadoop.fs.Path
        root = self._path(scd2_path)
        self._fs = root.getFileSystem(sc._jsc.hadoopConfiguration())
        if self._fs.exists(root):
            names = [st.getPath().getName()
                     for st in self._fs.listStatus(root)]
            split = sorted(n for n in names if n.startswith("part=c")
                           and n != f"part={_CURRENT}")
            if split:
                raise ValueError(
                    f"{scd2_path} holds snapshot partitions {split} of a "
                    f"hashed layout; only part={_CURRENT} is read. Delete "
                    "the table and call reconcile() to rebuild it from the "
                    "log.")

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
            .otherwise(F.lit(_CURRENT))
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
            "bucket", F.lit(0)
        ).observe(landed, F.count(F.lit(1)).alias("n"))
        batch_dir = f"{self.log_path}/batch_id={batch_id}"
        events.coalesce(1).write.mode("overwrite").parquet(batch_dir)
        schema = events.schema
        self._log_schema = T.StructType(
            schema.fields + [T.StructField("batch_id", T.LongType())])
        if not landed.get["n"]:
            return
        rows = self._rows(
            self.spark.read.schema(schema).parquet(batch_dir),
            F.lit(batch_id),
        )
        current = f"{self.scd2_path}/part={_CURRENT}"
        if self._fs.exists(self._path(current)):
            table = [f for f in rows.schema.fields
                     if f.name not in ("batch_id", "cur")]
            rows = rows.union(
                self.spark.read.schema(T.StructType(
                    table + [T.StructField("part", T.StringType())]))
                .option("basePath", self.scd2_path)
                .parquet(current)
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
        each open one to ``c0``, in one ``apply``; cost is one pass
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
) -> tuple[StreamingQuery, IncrementalScd2]:
    """Wire an envelope stream into the incremental SCD2 materializer."""
    inc = IncrementalScd2(spark, log_path, scd2_path, attr_fields)
    q = (
        stream.writeStream.foreachBatch(inc.process_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    return q, inc
