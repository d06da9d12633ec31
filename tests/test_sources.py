"""Event-log IO round-trip tests (SURVEY.md §2.1 S3-S6).

The reference's landing path: envelope rows → gzipped JSON under
year=/month=/day= → read back → decode. The round-trip must preserve
every event and the partition layout must match the S3 sink's
DailyPartitioner (connectors/s3-sink.json:20-21)."""

from __future__ import annotations

import glob
import os

from change_data_capture_poc_spark.cdc.envelope import (
    PRODUCT_FIELDS,
    decode_envelope,
    envelope_schema,
)
from change_data_capture_poc_spark.cdc.generator import CdcGenerator
from change_data_capture_poc_spark.sources.readers import read_envelope_log
from change_data_capture_poc_spark.sources.writers import (
    write_partitioned_json,
)


def test_partitioned_json_roundtrip(spark, tmp_path):
    gen = CdcGenerator(seed=11)
    df = gen.products_df(spark, num_records=100)
    n = df.count()
    path = str(tmp_path / "log")
    write_partitioned_json(df, path, mode="overwrite")

    # Hive layout: year=YYYY/month=MM/day=dd, gzipped files.
    parts = glob.glob(os.path.join(path, "year=*", "month=*", "day=*"))
    assert parts, "expected Hive date partition dirs"
    gz = glob.glob(os.path.join(parts[0], "*.json.gz"))
    assert gz, "expected gzipped json files"

    back = read_envelope_log(spark, path + "/*/*/*/*.json.gz", PRODUCT_FIELDS)
    assert back.count() == n
    # The JSON source with the same explicit schema over the landed dir.
    direct = spark.read.schema(envelope_schema(PRODUCT_FIELDS)).json(path)
    assert direct.count() == n

    # Decoded relations agree regardless of read path.
    a = {tuple(r) for r in decode_envelope(back).collect()}
    b = {tuple(r) for r in decode_envelope(direct).collect()}
    assert a == b

    # Inference path (read_json_auto analogue) sees the same row count.
    assert spark.read.json(path).count() == n
    # Raw-string fidelity path (read_ndjson_objects analogue).
    assert spark.read.text(path + "/*/*/*/*.json.gz").count() == n


def test_compact_to_parquet(spark, tmp_path):
    """The envelope log rewritten as parquet (the S6 read path) decodes
    to the same relation as the rows it came from."""
    gen = CdcGenerator(seed=11)
    df = gen.products_df(spark, num_records=50)
    n = df.count()  # inserts plus the generator's random updates/deletes
    out = str(tmp_path / "compact")
    df.write.parquet(out)
    back = spark.read.parquet(out)
    assert back.count() == n
    assert {tuple(r) for r in decode_envelope(back).collect()} == {
        tuple(r) for r in decode_envelope(df).collect()
    }


def test_sorted_layout_enables_file_pruning(spark, sf_dir, tmp_path):
    """write_sorted_layout must produce files whose ts ranges are
    disjoint (parquet footer min/max), which is exactly what lets a
    range predicate skip files at scan time."""
    import glob as _glob

    import pyarrow.parquet as pq

    from change_data_capture_poc_spark.sources.writers import (
        write_sorted_layout,
    )

    from change_data_capture_poc_spark.sources.tables import load_table

    src = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "value"
    )
    p = str(tmp_path / "sorted")
    write_sorted_layout(src, p, range_col="event_id", n_files=4)

    ranges = []
    for fp in sorted(_glob.glob(f"{p}/part-*.parquet")):
        md = pq.ParquetFile(fp).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)  # event_id
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    assert len(ranges) >= 2
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi < lo  # disjoint file ranges -> file-level pruning

    back = spark.read.parquet(p)
    assert back.count() == src.count()


def test_envelope_log_tolerant_quarantines_corrupt_lines(spark, tmp_path):
    from pyspark.sql import functions as F

    from change_data_capture_poc_spark.cdc.envelope import PRODUCT_FIELDS
    from change_data_capture_poc_spark.cdc.generator import CdcGenerator
    from change_data_capture_poc_spark.sources.readers import (
        read_envelope_log_tolerant,
    )

    gen = CdcGenerator(seed=9)
    good = gen.products_df(spark, num_records=20).toJSON().collect()
    src = str(tmp_path / "mixed")
    os.makedirs(src)
    with open(os.path.join(src, "log.json"), "w") as f:
        f.write("\n".join(good[:10]))
        f.write("\n{truncated json...\n")            # malformed
        f.write("not json at all\n")                  # malformed
        f.write("\n".join(good[10:]))

    # Spark disallows queries touching ONLY the corrupt-record column
    # on an uncached raw scan — cache the parsed frame first (the
    # pattern the reader's docstring prescribes).
    df = read_envelope_log_tolerant(spark, src, PRODUCT_FIELDS).cache()
    bad = df.where(F.col("_corrupt_record").isNotNull())
    ok = df.where(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    assert bad.count() == 2
    assert ok.count() == len(good)
    # Quarantined rows keep the raw text for replay.
    raws = {r._corrupt_record for r in bad.collect()}
    assert "not json at all" in raws


def test_gzip_tiny_file_ingest_at_reference_fidelity(spark, tmp_path):
    """The reference's S3 sink flushes every 3 records (connectors/
    s3-sink.json:24 flush.size=3), landing thousands of ~KB .json.gz
    files under year=/month=/day=. Reproduce that exact pathology with
    3-line gzip files, run the full ingest chain (read_envelope_log's
    text scan → parse_envelope_json → decode_envelope → scd2_recompute), assert it
    equals the parquet-path result, and pin that compaction collapses
    the file count."""
    import gzip

    from pyspark.sql import functions as F

    from change_data_capture_poc_spark.cdc.scd2 import scd2_recompute
    from change_data_capture_poc_spark.sources.writers import (
        with_date_partitions,
    )

    gen = CdcGenerator(seed=13)
    df = gen.products_df(spark, num_records=60)
    rows = (
        with_date_partitions(df)
        .select(F.to_json(F.struct("payload")).alias("j"),
                "year", "month", "day")
        .collect()
    )
    # Bucket lines by date partition, then flush every 3 records into
    # its own gzip file — the DailyPartitioner + flush.size=3 layout.
    by_part: dict[tuple, list[str]] = {}
    for r in rows:
        by_part.setdefault((r.year, r.month, r.day), []).append(r.j)
    log = tmp_path / "log"
    n_files = 0
    for (y, m, d), lines in by_part.items():
        pdir = log / f"year={y}" / f"month={m}" / f"day={d}"
        pdir.mkdir(parents=True)
        for i in range(0, len(lines), 3):
            with gzip.open(pdir / f"part-{i:05d}.json.gz", "wt") as f:
                f.write("\n".join(lines[i:i + 3]) + "\n")
            n_files += 1
    assert n_files >= len(rows) // 3  # the tiny-file pathology is real

    parsed = read_envelope_log(
        spark, str(log) + "/*/*/*/*.json.gz", PRODUCT_FIELDS
    )
    assert parsed.count() == len(rows)
    got = {tuple(r) for r in scd2_recompute(decode_envelope(parsed)).collect()}

    pq_path = str(tmp_path / "pq")
    df.write.parquet(pq_path)
    want = {
        tuple(r)
        for r in scd2_recompute(
            decode_envelope(spark.read.parquet(pq_path))
        ).collect()
    }
    assert got == want

    # Compaction step: the gz shards collapse to a handful of parquet
    # files (input is tiny, so one), killing the per-file open/footer
    # overhead before any repeated analytics pass.
    import glob as _glob

    compacted = str(tmp_path / "compacted")
    parsed.write.parquet(compacted)
    n_parquet = len(_glob.glob(f"{compacted}/*.parquet"))
    assert 0 < n_parquet < n_files
    assert spark.read.parquet(compacted).count() == len(rows)


def test_compact_small_files(spark, tmp_path):
    """Many tiny files in, byte-identical rows out, file count sized
    from input bytes (>=1 even for tiny inputs)."""
    from pyspark.sql import functions as F

    from change_data_capture_poc_spark.sources.writers import (
        compact_small_files,
    )

    src = str(tmp_path / "frag")
    dst = str(tmp_path / "compact")
    df = spark.range(0, 10000).withColumn("v", F.col("id") * 2)
    df.repartition(64).write.parquet(src)  # the small-files pathology
    import glob

    assert len(glob.glob(f"{src}/*.parquet")) == 64
    n = compact_small_files(spark, src, dst)
    assert n == 1  # tiny input -> one right-sized file
    assert len(glob.glob(f"{dst}/*.parquet")) == 1
    back = spark.read.parquet(dst)
    assert back.count() == 10000
    assert back.agg(F.sum("v")).collect()[0][0] == df.agg(
        F.sum("v")
    ).collect()[0][0]


def _jobs_run_by(spark, group, fn):
    """Run ``fn`` under its own job group; return (result, job count)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _copy_table(sf_dir, tmp_path, name):
    import shutil

    shutil.copyfile(f"{sf_dir}/{name}.parquet", tmp_path / f"{name}.parquet")
    return str(tmp_path)


def test_load_table_caches_schema_not_frame(spark, sf_dir, tmp_path):
    """The first load of a file infers its schema (one Spark job); a
    second load reads with the cached schema and runs none, yet returns
    the same schema and rows."""
    from change_data_capture_poc_spark.sources.tables import load_table

    d = _copy_table(sf_dir, tmp_path, "nation")
    first, n_first = _jobs_run_by(
        spark, "load-table-first", lambda: load_table(spark, d, "nation"))
    second, n_second = _jobs_run_by(
        spark, "load-table-second", lambda: load_table(spark, d, "nation"))
    assert n_first >= 1  # the counter sees the inference job
    assert n_second == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_load_table_twice_self_joins(spark, sf_dir):
    """Each call is a new relation: two loads of ``orders`` carry
    disjoint attribute IDs, and joined on ``o_custkey`` they count what
    one load joined with itself counts."""
    import re
    from collections import Counter

    from change_data_capture_poc_spark.sources.tables import load_table

    def attr_ids(df):
        plan = df._jdf.queryExecution().analyzed().toString()
        return set(re.findall(r"#(\d+)", plan))

    a = load_table(spark, sf_dir, "orders")
    b = load_table(spark, sf_dir, "orders")
    assert attr_ids(a) and not attr_ids(a) & attr_ids(b)
    two_loads = a.join(b, a.o_custkey == b.o_custkey).count()
    one_load = a.join(a, "o_custkey").count()
    per_key = Counter(r.o_custkey for r in a.select("o_custkey").collect())
    assert two_loads == one_load == sum(c * c for c in per_key.values())


def test_load_table_sees_rewritten_file(spark, sf_dir, tmp_path):
    """Overwriting a loaded file changes its size and mtime, so the next
    load infers again and sees the new column and rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from change_data_capture_poc_spark.sources.tables import load_table

    d = _copy_table(sf_dir, tmp_path, "nation")
    before = load_table(spark, d, "nation")
    assert "n_extra" not in before.columns
    n = before.count()

    path = tmp_path / "nation.parquet"
    t = pq.read_table(path)
    pq.write_table(t.append_column("n_extra", pa.array(range(n))), path)

    after = load_table(spark, d, "nation")
    assert after.columns == before.columns + ["n_extra"]
    assert sorted(r.n_extra for r in after.collect()) == list(range(n))


def test_load_table_events_nanos_generation(spark, tmp_path):
    """An ``events.parquet`` whose ``ts`` is TIMESTAMP(NANOS) loads with
    ``ts`` truncated to microseconds, on the inferring call and on the
    cached one, and leaves ``nanosAsLong`` at its prior (unset) value."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from change_data_capture_poc_spark.sources.tables import load_table

    flag = "spark.sql.legacy.parquet.nanosAsLong"
    nanos = [1_704_067_200_000_000_000 + i * 1_000_000_789 for i in range(5)]
    pq.write_table(
        pa.table({
            "event_id": pa.array(range(5), pa.int64()),
            "ts": pa.array(nanos, pa.timestamp("ns")),
            "user_id": pa.array([7] * 5, pa.int64()),
            "event_type": ["click"] * 5,
            "value": [1.5] * 5,
            "props": ['{"k": 1}'] * 5,
        }),
        tmp_path / "events.parquet",
        version="2.6",
    )
    schema = pq.read_schema(tmp_path / "events.parquet")
    assert schema.field("ts").type == pa.timestamp("ns")

    prior = spark.conf.get(flag, None)
    spark.conf.unset(flag)
    loads = []
    try:
        for _ in range(2):
            df = load_table(spark, str(tmp_path), "events")
            assert spark.conf.get(flag, None) is None
            assert dict(df.dtypes)["ts"] == "timestamp"
            loads.append(sorted(
                df.select("event_id", F.unix_micros("ts")).collect()))
    finally:
        if prior is not None:
            spark.conf.set(flag, prior)
    want = [(i, ns // 1000) for i, ns in enumerate(nanos)]
    assert [tuple(r) for r in loads[0]] == want
    assert loads[1] == loads[0]


def test_load_table_uncached_paths(spark, sf_dir, tmp_path):
    """Paths without a local file fingerprint skip the cache: a table
    stored as a directory loads normally, and a path ``os.stat`` cannot
    see fails in Spark's own read, not in the fingerprinting."""
    import pytest
    from pyspark.errors import AnalysisException

    from change_data_capture_poc_spark.sources.tables import load_table

    src = load_table(spark, sf_dir, "nation")
    src.write.parquet(str(tmp_path / "nation.parquet"))
    for _ in range(2):
        back = load_table(spark, str(tmp_path), "nation")
        assert sorted(back.collect()) == sorted(src.collect())

    with pytest.raises(AnalysisException):
        load_table(spark, str(tmp_path / "missing"), "nation")
