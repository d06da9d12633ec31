"""Shared /tmp artifact directory resolution.

Every persisted per-SF artifact (ANN index, chunk-store fingerprint
index, tokenizer vocabularies, aggregate snapshot, quarantine log,
type-widening generations) resolves its directory here. The staleness
contract is two-layered:

- the artifact's marker records the SOURCE parquet's size+mtime
  fingerprint (regenerated testdata triggers a rebuild), and
- the directory key honors ``SPARK_GRAFT_TMP_NS``, so a harness that
  monkeypatches the table loader (tools/scale_probe.py self-unions
  every fact table 8x with rotated text) builds into its OWN
  namespace. Without this, a probed BUILDER query force-persists a
  model trained on the synthetic 8x corpus under the real corpus's
  still-valid file fingerprint — and every later serve-path run reads
  the poisoned artifact (this bit round 10's unigram trainer live).
"""

from __future__ import annotations

import hashlib
import os


def artifact_key(sf_dir: str) -> str:
    """The (SF, current ``SPARK_GRAFT_TMP_NS``) suffix every artifact
    directory name ends in; a harness globs ``*_<key>`` to find the
    directories its own namespace built."""
    ns = os.environ.get("SPARK_GRAFT_TMP_NS", "")
    return hashlib.md5(f"{sf_dir}{ns}".encode()).hexdigest()[:10]


def artifact_dir(prefix: str, sf_dir: str) -> str:
    return f"/tmp/spark_graft_{prefix}_{artifact_key(sf_dir)}"
