"""bench.py drift-gate logic pins (pure functions, no Spark jobs)."""

from __future__ import annotations

import importlib.util
import os
import sys

import pytest

_here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location(
    "bench_mod", os.path.join(_here, "bench.py")
)
bench = importlib.util.module_from_spec(_spec)
sys.path.insert(0, _here)
_spec.loader.exec_module(bench)


def test_drift_is_median_of_canary_ratios():
    timings = {
        "pricing_summary": 1.5,        # 1.5x
        "scd2_user_state": 3.0,        # 1.5x
        "dedup_minhash_lsh": 1.3,      # 1.3x
        "join_left_outer": 1.2,        # 1.2x
        "window_running_sum": 0.6,     # 1.2x
    }
    base = {
        "pricing_summary": 1.0,
        "scd2_user_state": 2.0,
        "dedup_minhash_lsh": 1.0,
        "join_left_outer": 1.0,
        "window_running_sum": 0.5,
    }
    assert bench._drift(timings, base) == 1.3  # odd count -> middle


def test_drift_single_outlier_cannot_drag_the_median():
    base = {c: 1.0 for c in bench.CANARIES}
    timings = {c: 1.0 for c in bench.CANARIES}
    timings["pricing_summary"] = 50.0  # one canary eats a burst
    assert bench._drift(timings, base) == 1.0


def test_drift_is_raw_median_unbounded():
    # _drift only measures; the sanity policy lives in _drift_factor.
    base = {c: 1.0 for c in bench.CANARIES}
    assert bench._drift({c: 10.0 for c in bench.CANARIES}, base) == 10.0
    assert bench._drift({c: 0.01 for c in bench.CANARIES}, base) == 0.01


def test_drift_none_without_baseline_overlap():
    assert bench._drift({"pricing_summary": 1.0}, {}) is None
    assert bench._drift({}, {"pricing_summary": 1.0}) is None
    # zero/negative baselines are skipped, not divided by
    assert bench._drift(
        {"pricing_summary": 1.0}, {"pricing_summary": 0.0}
    ) is None


def test_factor_passthrough_inside_bounds(capsys):
    assert bench._drift_factor(1.2) == (1.2, 1.2, None)
    assert capsys.readouterr().err == ""


def test_factor_none_means_no_normalization():
    # Degenerate: canary missing from baseline -> _drift gave None.
    assert bench._drift_factor(None) == (None, 1.0, None)


def test_factor_disables_above_cap_instead_of_clamping(capsys):
    # Degenerate: drift above the 3.0 cap. Clamping would hand a dirty
    # run a 3x allowance; the factor must DISABLE normalization and
    # surface the raw median as suspect (round-12 ADVICE).
    drift, dfac, suspect = bench._drift_factor(10.0)
    assert (drift, dfac, suspect) == (None, 1.0, 10.0)
    assert "DISABLED" in capsys.readouterr().err


def test_factor_disables_below_floor(capsys):
    # Degenerate: zero-time canaries -> median ~0 (a broken run or a
    # malformed committed record); same disable-not-clamp policy.
    drift, dfac, suspect = bench._drift_factor(0.01)
    assert (drift, dfac, suspect) == (None, 1.0, 0.01)
    assert "DISABLED" in capsys.readouterr().err


def test_factor_warns_on_large_but_sane_drift(capsys):
    # 1.5 < med <= 3.0: normalization applies but gets adjudication.
    drift, dfac, suspect = bench._drift_factor(2.0)
    assert (drift, dfac, suspect) == (2.0, 2.0, None)
    assert "WARN bench drift" in capsys.readouterr().err


def test_zero_time_canary_end_to_end():
    # A committed record with zero canary times must not divide by zero
    # mid-bench: _drift skips them, factor sees None, dfac stays 1.0.
    base = {c: 0.0 for c in bench.CANARIES}
    timings = {c: 1.0 for c in bench.CANARIES}
    med = bench._drift(timings, base)
    assert med is None
    assert bench._drift_factor(med) == (None, 1.0, None)


def test_canaries_are_headline_members():
    for c in bench.CANARIES:
        assert c in bench.HEADLINE, c


def test_class_of_brackets():
    assert bench._class_of(0.4) == "cheap"
    assert bench._class_of(0.99) == "cheap"
    assert bench._class_of(1.0) == "mid"
    assert bench._class_of(1.99) == "mid"
    assert bench._class_of(2.0) == "heavy"
    assert bench._class_of(9.0) == "heavy"


def test_drift_by_class_groups_on_baseline_bracket():
    # cheap canaries drift 1.5x, the heavy canary only 1.1x — one
    # global median would hand heavy queries the cheap allowance.
    base = {
        "pricing_summary": 0.5,
        "scd2_user_state": 0.6,
        "join_left_outer": 0.5,
        "dedup_minhash_lsh": 1.5,
        "ann_mmr_diversified_rerank": 2.5,
    }
    timings = {
        "pricing_summary": 0.75,
        "scd2_user_state": 0.9,
        "join_left_outer": 0.75,
        "dedup_minhash_lsh": 1.8,
        "ann_mmr_diversified_rerank": 2.75,
    }
    by = bench._drift_by_class(timings, base)
    assert by == {"cheap": 1.5, "mid": 1.2, "heavy": 1.1}


def test_drift_by_class_skips_missing_and_zero_baselines():
    base = {"pricing_summary": 0.0, "ann_mmr_diversified_rerank": 2.0}
    timings = {
        "pricing_summary": 1.0,
        "ann_mmr_diversified_rerank": 4.0,
    }
    assert bench._drift_by_class(timings, base) == {"heavy": 2.0}
    assert bench._drift_by_class({}, base) == {}


def test_phantom_flag_scenario_cheap_burst_does_not_widen_heavy():
    # A loaded run where cheap canaries read 2.6x but mid/heavy are
    # near 1x: a heavy engine query at 1.8x of baseline must NOT be
    # flagged (raw threshold 2x not crossed), and a heavy query at
    # 2.2x MUST be flagged because its own bracket's coefficient is
    # ~1.05, not the cheap 2.6 (which would have absorbed it).
    base = {c: 0.5 for c in bench.CANARIES[:5]}
    base["ann_mmr_diversified_rerank"] = 2.5
    base["ann_hard_negative_mining"] = 2.5
    timings = {c: 1.3 for c in bench.CANARIES[:5]}
    timings["ann_mmr_diversified_rerank"] = 2.6
    timings["ann_hard_negative_mining"] = 2.65
    by = bench._drift_by_class(timings, base)
    # dedup_minhash_lsh's baseline (0.5) lands in cheap here; heavy
    # medians come from the two heavy canaries.
    assert by["cheap"] == 2.6
    assert by["heavy"] == 1.05
    # Threshold math: flag iff now > 2 * baseline * bracket_dfac.
    heavy_base, heavy_dfac = 3.0, by["heavy"]
    assert 2.2 * heavy_base > 2 * heavy_base * heavy_dfac  # flagged
    assert not 1.8 * heavy_base > 2 * heavy_base * heavy_dfac  # absorbed
    # Under the old single global coefficient (cheap-dominated median
    # 2.6) the 2.2x heavy regression would have been absorbed:
    assert not 2.2 * heavy_base > 2 * heavy_base * by["cheap"]


def test_main_removes_only_its_own_artifact_dirs(monkeypatch, tmp_path):
    """The run's cleanup deletes the directories built under its own
    ``SPARK_GRAFT_TMP_NS`` nonce and leaves another run's alone, even
    one created while this run was going."""
    import shutil

    from change_data_capture_poc_spark.functions.artifacts import (
        artifact_dir,
    )

    sf_dir = str(tmp_path / "sf0.001")
    built = []

    def fake_run(sf_dir, sf, load_start):
        for prefix in ("ann_index", "uni_vocab"):
            built.append(artifact_dir(prefix, sf_dir))
            os.makedirs(built[-1])
        # Plain writes, not monkeypatch.setenv: bench.main restores the
        # variable itself, and a monkeypatch record of bench's own
        # value would re-set it at teardown for every later test.
        os.environ["SPARK_GRAFT_TMP_NS"] = "other-run"
        built.append(artifact_dir("ann_index", sf_dir))
        os.makedirs(built[-1])
        os.environ["SPARK_GRAFT_TMP_NS"] = f"bench{os.getpid()}"

    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.delenv("SPARK_GRAFT_TMP_NS", raising=False)
    monkeypatch.setattr(bench, "_run", fake_run)
    try:
        bench.main()
        assert [os.path.isdir(d) for d in built] == [False, False, True]
        assert "SPARK_GRAFT_TMP_NS" not in os.environ
    finally:
        for d in built:
            shutil.rmtree(d, ignore_errors=True)


def test_artifact_dir_cleanup_test_leaves_tmp_ns_unset(monkeypatch, tmp_path):
    """Tearing the cleanup test down leaves ``SPARK_GRAFT_TMP_NS``
    unset: a leaked ``bench<pid>`` would key every later test's
    artifacts under a namespace no cleanup glob matches."""
    monkeypatch.delenv("SPARK_GRAFT_TMP_NS", raising=False)
    inner = pytest.MonkeyPatch()
    try:
        test_main_removes_only_its_own_artifact_dirs(inner, tmp_path)
    finally:
        inner.undo()
    assert "SPARK_GRAFT_TMP_NS" not in os.environ
