"""Live synthetic CDC stream — the rate-source twin of the batch
generator (cdc/generator.py).

The reference's data plane is Postgres → Debezium → Kafka at ≤2 ids/s
(data-generator.py:39, BASELINE.md). In this sandbox there is no live
Postgres/Kafka, so this source synthesizes the same envelope shape on
Spark's built-in ``rate`` source: every tick becomes a
Debezium-flavored change event with rotating op codes, a monotonically
increasing lsn (the rate source's ``value``), and payload fields
derived deterministically from the sequence number. It has the same
schema as the landed-file stream (``streaming/ingest.py``
``stream_envelope_log``), so every operator downstream (decode → SCD2
merge, dedup, rollups) runs unchanged on either.

Determinism note: field VALUES are pure functions of ``value``, but
micro-batch boundaries depend on wall clock — use it for liveness and
soak tests, not oracle comparisons (the file-source twins cover
those).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stream_synthetic_envelopes(
    spark: SparkSession,
    rows_per_second: int = 100,
    n_keys: int = 500,
) -> DataFrame:
    """Streaming DataFrame of Debezium-style product envelopes.

    op mix ≈ the reference generator's: mostly creates, ~10% updates,
    ~5% deletes (data-generator.py:55,67). ``lsn`` = the rate
    sequence number (strictly increasing, exactly the ordering
    contract T2 needs). Deletes carry a NULL after-image (tombstone
    rule T3).
    """
    rate = spark.readStream.format("rate").option(
        "rowsPerSecond", rows_per_second
    ).load()
    v = F.col("value")
    pid = (v % n_keys).cast("int")
    mod = v % 100
    op = (
        F.when(mod >= 95, "d").when(mod >= 85, "u").otherwise("c")
    )
    row = F.struct(
        pid.alias("id"),
        F.concat(F.lit("name_"), (v % 1000).cast("string")).alias("name"),
        F.concat(F.lit("desc_"), (v % 37).cast("string")).alias(
            "description"
        ),
        ((v % 9973).cast("double") / 100).alias("price"),
    )
    null_row = F.lit(None).cast(
        "struct<id:int,name:string,description:string,price:double>"
    )
    payload = F.struct(
        F.when(op != "c", row).otherwise(null_row).alias("before"),
        F.when(op != "d", row).otherwise(null_row).alias("after"),
        op.alias("op"),
        F.unix_millis("timestamp").alias("ts_ms"),
        F.struct(v.alias("lsn")).alias("source"),
    )
    return rate.select(payload.alias("payload"))
