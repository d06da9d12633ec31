"""Incremental streaming SCD2 — ``foreachBatch`` merge that converges
to the batch recompute (SURVEY.md §5 item 4, §2.8 T6).

The reference has two formulations: full recompute over the whole log
(transform_scd2.py, exact for any lateness) and an incremental upsert
(init_duckdb.sh). This module gives the streaming shape of the first —
the one that stays exact:

per micro-batch (three Spark jobs: log write, recompute, table write):
  1. land the batch's decoded events in a columnar compacted log under
     its own directory ``batch_id=<id>/bucket=<b>``, ``bucket =
     pmod(hash(id), n)`` — a foreachBatch REPLAY overwrites that
     directory instead of appending duplicates (exactly-once on
     at-least-once delivery); the ``bucket=`` subdirectories it holds,
     listed on the driver, are the touched buckets;
  2. read the log of ONLY those buckets with the known schema (no
     inference job), recompute their SCD2 and overwrite just those
     partitions (dynamic partition overwrite).
Past 32 batch directories (``parallelPartitionDiscovery.threshold``)
the log listing itself runs as a fourth, parallel-listing job.

Merge backend. The reference applies updates in place
(``init_duckdb.sh:56-68``: ``UPDATE dim_products SET valid_to=...,
is_current=false``). Spark has no in-place UPDATE on parquet, so the
stream computes the post-merge rows and ``ParquetOverwriteBackend``
makes them durable:

    apply(spark, path, rows, partition_col)

replaces every ``partition_col`` partition that appears in ``rows``
with exactly those rows and leaves all other partitions untouched.
Replace-partitions is idempotent by construction — re-applying the
same rows yields the same table — which is what makes the foreachBatch
stream safely replayable after a checkpoint restart
(tests/test_merge_backend.py pins idempotence and delete-tombstone
preservation). It is copy-on-write at bucket granularity. On a
lakehouse table the same contract is a transactional partition swap
(Delta ``replaceWhere``, Iceberg ``overwritePartitions()``), or a
merge-on-read MERGE INTO keyed on (bucket, id, version_number) —
cheaper for small-delta batches at 100 TB (see SCALING.md).

Why not ``applyInPandasWithState``: per-key SCD2 state is unbounded
(every key lives forever — SURVEY.md §7 "streaming state at scale");
keeping state in the table and re-deriving touched buckets keeps
executor memory flat at 100 TB.

Cost model at scale: a micro-batch touching K distinct keys re-sorts
the expected 1-(1-1/n)^K share of the table held in its buckets — about
K/n only while K << n. The benchmark's 200-event batches at n = 16
touch 16 of 16 buckets (measured ``cdc.scd2.buckets_touched_per_batch``):
every batch there re-reads and rewrites the whole table.
``n_buckets`` trades write amplification (small n) against file count
(large n); at 100 TB use thousands of buckets + AQE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from change_data_capture_poc_spark.cdc.envelope import decode_envelope
from change_data_capture_poc_spark.cdc.scd2 import scd2_recompute


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
    """State lives in two parquet tables, not in memory.

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
        self.attr_fields = attr_fields
        self.n_buckets = n_buckets
        self.backend = get_merge_backend()

    def _bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            "bucket", F.pmod(F.hash("id"), F.lit(self.n_buckets))
        )

    def _recompute_and_apply(self, log: DataFrame) -> None:
        # Replace only the buckets present in ``log`` (Spark's
        # replacement for UPDATE-in-place, SURVEY.md D2) —
        # replace-partitions, so a replayed batch is a no-op rewrite.
        out = scd2_recompute(
            log.drop("bucket", "batch_id"), self.attr_fields
        )
        self.backend.apply(
            self.spark, self.scd2_path, self._bucket(out), "bucket"
        )

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch offers at-least-once: offsets commit AFTER this
        # function returns, so a crash mid-batch REPLAYS the whole batch
        # on restart. Every write here must therefore be idempotent: an
        # overwrite of the batch's own directory makes the replay
        # rewrite it with identical rows instead of duplicating them
        # (the standard foreachBatch exactly-once recipe — Structured
        # Streaming guide, "foreachBatch" idempotence note).
        events = self._bucket(decode_envelope(batch_df))
        batch_dir = f"{self.log_path}/batch_id={batch_id}"
        events.write.mode("overwrite").partitionBy("bucket").parquet(
            batch_dir
        )
        sc = self.spark.sparkContext
        path = sc._jvm.org.apache.hadoop.fs.Path(batch_dir)
        fs = path.getFileSystem(sc._jsc.hadoopConfiguration())
        # An empty batch (or one of op-less rows only) writes no bucket.
        touched = [
            int(st.getPath().getName()[len("bucket="):])
            for st in fs.listStatus(path)
            if st.getPath().getName().startswith("bucket=")
        ]
        if not touched:
            return
        fields = events.schema.fields + [
            T.StructField("batch_id", T.IntegerType())
        ]
        log = self.spark.read.schema(T.StructType(fields)).parquet(
            self.log_path
        ).where(F.col("bucket").isin(touched))
        self._recompute_and_apply(log)

    def result(self) -> DataFrame:
        return self.spark.read.parquet(self.scd2_path).drop("bucket")

    def reconcile(self) -> None:
        """Repair path: recompute EVERY bucket from the landed log.

        A stream stopped between the log append and the SCD2 overwrite
        leaves the table lagging the log by one micro-batch; the log is
        the source of truth (exactly the reference's recompute-from-log
        stance, transform_scd2.py:20), so a full recompute restores the
        invariant. Run after unclean shutdown or on a maintenance
        cadence; cost is one pass over the log, same as the batch
        path."""
        self._recompute_and_apply(self.spark.read.parquet(self.log_path))


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
