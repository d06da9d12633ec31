"""tools/serve_probe.py cleanup pin (no Spark session, no queries run)."""

from __future__ import annotations

import os
import shutil

from change_data_capture_poc_spark.functions.artifacts import artifact_dir
from tools import serve_probe


def test_main_removes_only_its_own_artifact_dirs(monkeypatch, tmp_path):
    """The probe deletes the directories built under its two per-run
    namespaces and leaves alone another run's namespace and a shared
    streaming directory, both created while the probe ran."""
    sf_dir = str(tmp_path / "sf0.001")
    monkeypatch.setenv("SPARK_GRAFT_TMP_NS", "other-run")
    own = []
    others = [
        f"/tmp/spark_graft_stream_{os.getpid()}probe",
        artifact_dir("ann_index", sf_dir),
    ]

    def fake_run_query(spark, qs, name, sf_dir_):
        d = artifact_dir("ann_index", sf_dir_)
        if d not in own:
            os.makedirs(d)
            own.append(d)
        for o in others:
            os.makedirs(o, exist_ok=True)
        return 0.5, 1024

    monkeypatch.setattr(serve_probe, "get_spark", lambda app_name: None)
    monkeypatch.setattr(serve_probe, "run_query", fake_run_query)
    monkeypatch.chdir(tmp_path)
    try:
        serve_probe.run(sf_dir, 8, ("ann_serve_from_index",))
        assert len(own) == 2 and others[1] not in own
        assert [os.path.isdir(d) for d in own + others] == [
            False, False, True, True
        ]
        assert os.environ["SPARK_GRAFT_TMP_NS"] == "other-run"
        assert (tmp_path / "SCALING.md").is_file()
    finally:
        for d in own + others:
            shutil.rmtree(d, ignore_errors=True)
