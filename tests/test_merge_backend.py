"""Merge backend of the SCD2 stream (streaming/scd2_stream.py) — the
contract that keeps the stream exactly-once replayable: replace exactly
the partitions present in the applied rows, leave the rest untouched,
and be idempotent under re-apply. The stream applies its table rows
partitioned by ``part`` (``c<bucket>`` for the current snapshot,
``h<batch_id>`` for closed history); the contract is the same for any
partition column. Tombstone rows (delete after-images with NULL
attributes — SURVEY.md T3, init_duckdb.sh:56-68 parity) must survive
both."""

from __future__ import annotations

from pyspark.sql import functions as F

from change_data_capture_poc_spark.streaming import scd2_stream
from change_data_capture_poc_spark.streaming.scd2_stream import (
    ParquetOverwriteBackend,
    get_merge_backend,
)


def _read(spark, path):
    return {
        tuple(r)
        for r in spark.read.parquet(path)
        .select("bucket", "id", "val")
        .collect()
    }


def test_parquet_backend_replaces_only_touched_partitions(
    spark, tmp_path
):
    path = str(tmp_path / "t")
    be = ParquetOverwriteBackend()
    base = spark.createDataFrame(
        [(0, 1, "a"), (0, 2, "b"), (1, 3, "c"), (2, 4, "d")],
        "bucket int, id int, val string",
    )
    be.apply(spark, path, base, "bucket")
    assert _read(spark, path) == {
        (0, 1, "a"), (0, 2, "b"), (1, 3, "c"), (2, 4, "d")
    }

    # Replace bucket 0 only; buckets 1 and 2 must be untouched.
    repl = spark.createDataFrame(
        [(0, 1, "a2")], "bucket int, id int, val string"
    )
    be.apply(spark, path, repl, "bucket")
    after = _read(spark, path)
    assert after == {(0, 1, "a2"), (1, 3, "c"), (2, 4, "d")}

    # Idempotence: re-applying the same rows changes nothing.
    be.apply(spark, path, repl, "bucket")
    assert _read(spark, path) == after


def test_backend_preserves_delete_tombstones(spark, tmp_path):
    """A delete's version row carries NULL attributes and stays open;
    the storage layer must round-trip it bit-for-bit through apply and
    re-apply (idempotent replay after a checkpoint restart)."""
    path = str(tmp_path / "scd2")
    be = get_merge_backend()
    rows = spark.createDataFrame(
        [
            (0, 10, "widget", "u", False),
            (0, 10, None, "d", True),  # tombstone: NULL attrs, open
        ],
        "bucket int, id int, name string, operation_type string, "
        "is_open boolean",
    )
    be.apply(spark, path, rows, "bucket")
    be.apply(spark, path, rows, "bucket")  # replay
    got = spark.read.parquet(path)
    tomb = got.where(F.col("operation_type") == "d").collect()
    assert len(tomb) == 1
    assert tomb[0].name is None and tomb[0].is_open
    assert got.count() == 2


def test_incremental_scd2_uses_backend(spark, tmp_path, monkeypatch):
    """The stream materializer routes every durable SCD2 write through
    ``scd2_stream.get_merge_backend``, looked up when the materializer
    is built: swap in a recording wrapper the way
    perfbench/cdc_stream.py does, then require process_batch and
    reconcile() to send one apply each through it."""
    from change_data_capture_poc_spark.cdc.generator import CdcGenerator

    calls = []

    class Recording:
        def __init__(self, inner):
            self.inner = inner
            self.name = inner.name

        def apply(self, spark_, path, rows, partition_col):
            calls.append(path)
            self.inner.apply(spark_, path, rows, partition_col)

    real_get = scd2_stream.get_merge_backend
    assert isinstance(real_get(), ParquetOverwriteBackend)
    monkeypatch.setattr(
        scd2_stream, "get_merge_backend", lambda: Recording(real_get())
    )

    scd2_path = str(tmp_path / "scd2")
    inc = scd2_stream.IncrementalScd2(
        spark, str(tmp_path / "log"), scd2_path
    )
    assert isinstance(inc.backend, Recording)
    assert inc.backend.name == "parquet"

    batch = CdcGenerator(seed=3).products_df(spark, num_records=40)
    inc.process_batch(batch, batch_id=0)
    assert calls == [scd2_path]
    assert inc.result().count() > 0

    inc.reconcile()
    assert calls == [scd2_path, scd2_path]
