"""Driver-testdata table catalog (TESTDATA.md).

The TPC-H-ish star schema plus ``events`` (CDC-style JSON props),
``documents`` (text pipeline) and ``embeddings`` (similarity search).
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

# (path, nanosAsLong in effect) -> ((size, mtime_ns), inferred schema).
# One entry per path, so a rewritten file replaces its entry.
_SCHEMAS: dict[tuple, tuple[tuple, StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema only on the
    first read of this file version; a cached schema starts no job."""
    try:
        st = os.stat(path)
    except OSError:  # not a local path (e.g. s3a://): no fingerprint
        return spark.read.parquet(path)
    if not stat.S_ISREG(st.st_mode):
        # A directory's mtime misses in-place rewrites of its files.
        return spark.read.parquet(path)
    key = (path, spark.conf.get(_NANOS_AS_LONG, None))
    stamp = (st.st_size, st.st_mtime_ns)
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (stamp, df.schema)
    return df


def read_events_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events.parquet`` as stored: ``ts`` reads as bigint nanos in the
    TIMESTAMP(NANOS) generation and as TIMESTAMP_NTZ in the µs one.

    Scopes the legacy flag to this one read: set, resolve the relation
    (which captures the conf), then restore the prior value so
    unrelated later parquet reads keep the normal loud TIMESTAMP(NANOS)
    rejection. Verified on a synthetic nanos file: collect() after the
    restore still reads nanos-as-long, so the restore cannot break this
    DataFrame's execution. The None default tells "unset" from an
    explicit "false", so an unset flag is unset again afterwards.
    """
    prior = spark.conf.get(_NANOS_AS_LONG, None)
    spark.conf.set(_NANOS_AS_LONG, "true")
    try:
        return _read_parquet(spark, f"{sf_dir}/events.parquet")
    finally:
        if prior is None:
            spark.conf.unset(_NANOS_AS_LONG)
        else:
            spark.conf.set(_NANOS_AS_LONG, prior)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar parquet scan — Catalyst pushes filters/projections into it.

    ``events.ts`` has shipped in two physical encodings across data
    generations: TIMESTAMP(NANOS) (which Spark's parquet reader
    rejects — read as raw nanos via ``nanosAsLong`` and truncated to
    microseconds, exactly DuckDB's ns→µs behavior) and plain µs
    TIMESTAMP (readable directly). Branch on the observed read schema
    so both generations work and oracle comparisons stay bit-identical.

    Schema cache: the first load of a local file infers its Parquet
    schema (a one-task footer-reading Spark job, ~100 ms even for the
    25-row ``nation``); later loads read with that schema and start no
    job. The module-level cache is keyed by (path, the ``nanosAsLong``
    value in effect) and an entry holds only while the file's size and
    mtime match, so a rewritten file or a different nanos mode infers
    again; paths ``os.stat`` cannot see (``s3a://``) and directories
    are not cached. It holds the schema, not the DataFrame: every call
    still returns a new relation with fresh attribute IDs, so a query
    may load one table twice and self-join it, and the cache outlives
    a SparkSession restart.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        df = read_events_raw(spark, sf_dir)
        if dict(df.dtypes).get("ts") == "bigint":  # nanos generation
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        else:  # µs generation reads as TIMESTAMP_NTZ; session tz is
            # pinned UTC, so the LTZ cast is value-identical and keeps
            # every downstream query seeing one ts type.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df.select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        )
    return _read_parquet(spark, f"{sf_dir}/{name}.parquet")


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (reference: CREATE VIEW over
    parquet_scan, duckdb/scd2_example.sql:10-14)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
