"""The shared-/tmp artifact protocol (functions/artifacts.persisted):
publish by atomic rename, loser discards, failed builds leave nothing,
freshness by source fingerprint — plus the stream directory's symlink
race. Every test keys its artifacts on its own ``tmp_path`` SF and
removes what it built."""

from __future__ import annotations

import fnmatch
import glob
import os
import shutil
import sys
import threading
import time

import pytest

from change_data_capture_poc_spark.functions import artifacts
from change_data_capture_poc_spark.functions.artifacts import (
    MARKER,
    artifact_dir,
    artifact_key,
    persisted,
)


@pytest.fixture
def my_sf(tmp_sf):
    """``tmp_sf`` holding one fake source table."""
    with open(os.path.join(tmp_sf, "src.parquet"), "w") as fh:
        fh.write("v1")
    return tmp_sf


def _slow_build(tag: str, calls: list | None = None, done=None):
    """Writes three files with a short sleep between them; with a
    ``done`` barrier, racing builds also finish together."""
    def build(d: str) -> dict:
        if calls is not None:
            calls.append(d)
        for i in range(3):
            with open(os.path.join(d, f"{tag}_{i}.txt"), "w") as fh:
                fh.write(tag)
            time.sleep(0.05)
        if done is not None:
            done.wait()
        return {"tag": tag}

    return build


def _run_together(fns) -> None:
    """Start every fn at once on its own thread; fail unless all
    finished within the timeout."""
    barrier = threading.Barrier(len(fns), timeout=60)
    threads = [
        threading.Thread(target=lambda f=f: (barrier.wait(), f()))
        for f in fns
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)


def _leftovers(sf: str) -> list[str]:
    """Staging or set-aside directories: every keyed dir but the
    published one."""
    final = artifact_dir("t", sf)
    return [
        d for d in glob.glob(f"/tmp/spark_graft_*_{artifact_key(sf)}")
        if d != final
    ]


@pytest.mark.parametrize("force", [False, True])
def test_racing_builds_publish_exactly_one(monkeypatch, my_sf, force):
    """More racing builders than cores, finishing together, with
    frequent thread switches and a slowed marker read widening the
    check-then-rename window: all get the published dir and the
    winner's meta, and it holds exactly one build's files plus the
    marker."""
    read_marker = artifacts._read_marker

    def slow_read_marker(d: str) -> dict | None:
        m = read_marker(d)
        time.sleep(0.01)
        return m

    monkeypatch.setattr(artifacts, "_read_marker", slow_read_marker)
    tags = [f"b{i}" for i in range(32)]
    done = threading.Barrier(len(tags), timeout=60)
    out: dict[str, tuple[str, dict]] = {}

    def run(tag: str):
        build = _slow_build(tag, done=done)
        return lambda: out.__setitem__(
            tag, persisted("t", my_sf, "src", build, force)
        )

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        _run_together([run(t) for t in tags])
    finally:
        sys.setswitchinterval(interval)

    assert sorted(out) == sorted(tags)
    assert {d for d, _ in out.values()} == {artifact_dir("t", my_sf)}
    winner = out["b0"][1]["tag"]
    assert all(meta == {"tag": winner} for _, meta in out.values())
    assert sorted(os.listdir(artifact_dir("t", my_sf))) == sorted(
        [MARKER] + [f"{winner}_{i}.txt" for i in range(3)]
    )
    assert _leftovers(my_sf) == []


def test_failed_build_leaves_published_artifact_intact(my_sf):
    """A raising build leaves no staging dir and the published
    artifact byte for byte as it was."""
    d, _ = persisted("t", my_sf, "src", _slow_build("good"))
    before = {f: open(os.path.join(d, f)).read() for f in os.listdir(d)}

    def broken(stage: str) -> dict:
        with open(os.path.join(stage, "partial.txt"), "w") as fh:
            fh.write("x")
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        persisted("t", my_sf, "src", broken, force=True)
    assert {f: open(os.path.join(d, f)).read() for f in os.listdir(d)} == before
    assert _leftovers(my_sf) == []


def test_fresh_fingerprint_skips_rebuild_and_touched_source_rebuilds(my_sf):
    """A fresh artifact is never rebuilt in place (its marker's mtime
    stays put); a touched source makes it stale and it is replaced."""
    calls: list[str] = []
    d, meta = persisted("t", my_sf, "src", _slow_build("one", calls))
    marker = os.path.join(d, MARKER)
    m1 = os.stat(marker).st_mtime_ns

    assert persisted("t", my_sf, "src", _slow_build("two", calls)) == (d, meta)
    assert len(calls) == 1 and os.stat(marker).st_mtime_ns == m1
    # force redoes the build but never replaces a fresh artifact
    forced = persisted("t", my_sf, "src", _slow_build("two", calls), True)
    assert forced == (d, meta)
    assert len(calls) == 2 and os.stat(marker).st_mtime_ns == m1

    src = os.path.join(my_sf, "src.parquet")
    st = os.stat(src)
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    d2, meta2 = persisted("t", my_sf, "src", _slow_build("three", calls))
    assert d2 == d and meta2 == {"tag": "three"} and len(calls) == 3
    assert "three_0.txt" in os.listdir(d) and "one_0.txt" not in os.listdir(d)
    assert _leftovers(my_sf) == []


def test_staging_dir_matches_harness_cleanup_glob(my_sf):
    """bench.py and tools/serve_probe.py remove a killed run's staging
    dirs with the glob they already use for published ones."""
    calls: list[str] = []
    persisted("t", my_sf, "src", _slow_build("x", calls))
    (stage,) = calls
    assert stage != artifact_dir("t", my_sf)
    assert fnmatch.fnmatch(stage, f"/tmp/spark_graft_*_{artifact_key(my_sf)}")


def test_concurrent_forced_quarantine_log_builds(spark, sf_dir, my_sf):
    """Two threads of one session force-build the same quarantine log:
    both succeed, both get the published directory, and it holds one
    complete log (one line per non-null-user event)."""
    from change_data_capture_poc_spark.cdc.quarantine import (
        ensure_quarantine_log,
    )

    shutil.copy(
        os.path.join(sf_dir, "events.parquet"),
        os.path.join(my_sf, "events.parquet"),
    )
    dirs: list[str] = []
    errors: list[Exception] = []

    def run() -> None:
        try:
            dirs.append(ensure_quarantine_log(spark, my_sf, force=True))
        except Exception as e:  # surfaced below
            errors.append(e)

    _run_together([run, run])
    assert errors == []
    assert len(dirs) == 2 and dirs[0] == dirs[1]

    n_events = (
        spark.read.parquet(os.path.join(my_sf, "events.parquet"))
        .where("user_id IS NOT NULL")
        .count()
    )
    rows = [spark.read.text(d).collect() for d in dirs]
    assert len(rows[0]) == n_events
    assert sorted(rows[0]) == sorted(rows[1])


def test_stream_dir_accepts_link_made_by_concurrent_caller(
    monkeypatch, tmp_path
):
    """The lost race of two first-time callers: the link is missing
    when checked, then appears before ``os.symlink`` runs."""
    from change_data_capture_poc_spark.queries.streaming_q import _stream_dir

    sf = str(tmp_path)
    target = os.path.join(sf, "events.parquet")
    open(target, "w").close()
    d = _stream_dir(sf, "events")
    try:
        monkeypatch.setattr(os.path, "lexists", lambda p: False)
        assert _stream_dir(sf, "events") == d
        assert os.readlink(os.path.join(d, "events.parquet")) == target
    finally:
        monkeypatch.undo()
        shutil.rmtree(d, ignore_errors=True)
