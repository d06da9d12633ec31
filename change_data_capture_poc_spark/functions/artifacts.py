"""Shared /tmp artifacts: directory resolution and the publish protocol.

Every persisted per-SF artifact (ANN index and its compacted
generation, chunk-store fingerprint index, tokenizer vocabularies,
aggregate snapshot, quarantine log, type-widening generations) is
built and published through ``persisted``. An artifact is fresh while
its marker (``MARKER``) records

- the SOURCE parquet's current size+mtime fingerprint, so regenerated
  testdata triggers a rebuild, and
- the current hash of this package's source (``_code_version``), so a
  changed builder never serves what its previous version wrote;

and the directory key honors ``SPARK_GRAFT_TMP_NS``, so a harness that
monkeypatches the table loader (tools/scale_probe.py self-unions every
fact table 8x with rotated text) builds into its OWN namespace.
Without this, a probed BUILDER query force-persists a model trained on
the synthetic 8x corpus under the real corpus's still-valid file
fingerprint — and every later serve-path run reads the poisoned
artifact (this bit round 10's unigram trainer live).

Publish contract (Structured Streaming's file-sink rule: output is
visible only through one atomic commit). Nothing writes into a
published directory, which every process on the machine shares:

- ``build`` writes into a staging directory unique to the call (uuid4,
  not the pid: threads share one), with the marker written last;
- under an exclusive lock on the source file, the staging directory is
  renamed onto ``artifact_dir(prefix, sf_dir)``; a stale artifact
  there is renamed aside first and deleted after;
- a fresh artifact is never replaced, because another process may be
  reading it: a build that finds one published (another call won the
  race, or ``force`` rebuilt a fresh artifact to redo the work)
  discards its staging copy and returns the published dir and meta;
- a failed ``build`` removes its staging directory and leaves the
  published one as it was;
- staging and set-aside dirs are named ``spark_graft_<prefix>_<uuid>_
  <artifact_key>``, so the ``/tmp/spark_graft_*_<key>`` cleanup glob
  of bench.py and tools/serve_probe.py removes a killed run's
  leftovers.

Replacing a stale artifact can still pull its files from under a reader
in another process, which needs the source or the code to change while
that reader runs.
"""

from __future__ import annotations

import contextlib
import fcntl
import functools
import hashlib
import json
import os
import shutil
import uuid
from pathlib import Path
from typing import Callable

MARKER = "_ARTIFACT.json"


def artifact_key(sf_dir: str) -> str:
    """The (SF, current ``SPARK_GRAFT_TMP_NS``) suffix every artifact
    directory name ends in; a harness globs ``*_<key>`` to find the
    directories its own namespace built."""
    ns = os.environ.get("SPARK_GRAFT_TMP_NS", "")
    return hashlib.md5(f"{sf_dir}{ns}".encode()).hexdigest()[:10]


def artifact_dir(prefix: str, sf_dir: str) -> str:
    return f"/tmp/spark_graft_{prefix}_{artifact_key(sf_dir)}"


def source_fingerprint(sf_dir: str, table: str) -> list[int]:
    """(size, mtime_ns) of a source parquet — the staleness guard:
    testdata can be REGENERATED at the same path between rounds, and an
    artifact keyed on the path alone would silently serve the old
    generation. One os.stat, no data read."""
    st = os.stat(os.path.join(sf_dir, f"{table}.parquet"))
    return [st.st_size, st.st_mtime_ns]


@functools.cache
def _code_version() -> str:
    """md5 of this package's source. An artifact built by other code is
    stale even when its source table is not, so a changed builder never
    serves the bytes its previous version wrote."""
    h = hashlib.md5()
    for path in sorted(Path(__file__).resolve().parents[1].rglob("*.py")):
        h.update(path.read_bytes())
    return h.hexdigest()


def _read_marker(d: str) -> dict | None:
    try:
        with open(os.path.join(d, MARKER)) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None  # absent or unreadable -> stale


def persisted(
    prefix: str,
    sf_dir: str,
    table: str,
    build: Callable[[str], dict | None],
    force: bool = False,
) -> tuple[str, dict]:
    """Return ``(artifact_dir(prefix, sf_dir), meta)`` for an artifact
    derived from ``sf_dir``'s ``table``, first running
    ``build(staging_dir)`` when the published artifact is absent or
    stale, or always under ``force``. ``build`` returns extra metadata
    (or None); it is stored in the marker and returned as ``meta``."""
    final = artifact_dir(prefix, sf_dir)
    src = os.path.join(sf_dir, f"{table}.parquet")
    stamp = {
        "sf_dir": sf_dir,
        "fp": source_fingerprint(sf_dir, table),
        "code": _code_version(),
    }

    def fresh() -> dict | None:
        m = _read_marker(final)
        ok = m is not None and all(m.get(k) == v for k, v in stamp.items())
        return m if ok else None

    if not force and (cur := fresh()):
        return final, cur["meta"]

    stage, trash = (
        f"/tmp/spark_graft_{prefix}_{uuid.uuid4().hex}_{artifact_key(sf_dir)}"
        for _ in range(2)
    )
    try:
        os.makedirs(stage)
        meta = build(stage) or {}
        with open(os.path.join(stage, MARKER), "w") as fh:
            json.dump({**stamp, "meta": meta}, fh)
        # Publishers of one source serialize on a lock of the source
        # file itself (shared by every caller, nothing left behind).
        lock = os.open(src, os.O_RDONLY)
        try:
            fcntl.flock(lock, fcntl.LOCK_EX)
            if cur := fresh():
                return final, cur["meta"]  # an equal artifact is published
            with contextlib.suppress(FileNotFoundError):
                os.rename(final, trash)
            os.rename(stage, final)
            return final, meta
        finally:
            os.close(lock)  # releases the flock
    finally:
        shutil.rmtree(stage, ignore_errors=True)  # gone once published
        shutil.rmtree(trash, ignore_errors=True)
