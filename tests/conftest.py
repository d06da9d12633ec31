"""Shared Spark fixture for the engine test suite.

One session per pytest run (JVM startup dominates otherwise); small
shuffle-partition count because fixture data is tiny — the operators
under test must be partition-count-agnostic anyway, which low counts
exercise harder (more keys per partition).
"""

from __future__ import annotations

import glob
import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from change_data_capture_poc_spark.functions.artifacts import (  # noqa: E402
    artifact_key,
)
from change_data_capture_poc_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pytest", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture
def tmp_sf(tmp_path):
    """A private, empty SF dir. Every /tmp artifact directory keyed on
    it (published or a build's staging leftover) is removed after the
    test: the key hashes a temp path, so no harness glob ever would."""
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    yield sf
    for d in glob.glob(f"/tmp/spark_graft_*_{artifact_key(sf)}"):
        shutil.rmtree(d, ignore_errors=True)
