"""Round-8 operator tests: the portable histogram-quantile sketch's
distributed-sketch properties (register merge associativity, accuracy
bound, batch/stream estimate equality)."""

from __future__ import annotations

from pyspark.sql import functions as F

from change_data_capture_poc_spark.operators.sketch import (
    HIST_B,
    HIST_W,
    hist_register_exprs,
)
from change_data_capture_poc_spark.registry import all_queries

SF = "/root/testdata/sf0.001"


def _registers(df):
    bucket, _ = hist_register_exprs()
    return (
        df.select("event_type", "value", bucket)
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def test_histogram_registers_merge_associatively(spark):
    """The property that makes the sketch DISTRIBUTED: build register
    tables on two disjoint halves, merge by per-bucket SUM, and the
    result is the whole-data register table — so partial sketches from
    any partitioning (executors, days, streams) combine losslessly."""
    ev = spark.read.parquet(f"{SF}/events.parquet").where(
        F.col("value").isNotNull()
    )
    left = ev.where(F.col("event_id") % 2 == 0)
    right = ev.where(F.col("event_id") % 2 == 1)

    merged = {
        (r.event_type, r.bucket): r.cnt
        for r in _registers(left)
        .unionByName(_registers(right))
        .groupBy("event_type", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
        .collect()
    }
    whole = {
        (r.event_type, r.bucket): r.cnt
        for r in _registers(ev).collect()
    }
    assert merged == whole and whole


def test_histogram_quantile_accuracy_bound(spark):
    """The sketch's REAL contract: the estimate lands inside the grid
    bucket holding the rank-ceil(q*n) order statistic, so it is within
    one grid width W of that order statistic. (Against quantile_cont
    the error additionally includes the gap between adjacent order
    stats — unbounded in a sparse tail — which is a property of the
    data, not the sketch; the query reports that abs_error for the
    operator to judge.) Also: nothing clipped on this dataset's
    [0, 1024) domain, register count within the grid bound."""
    import math
    from collections import defaultdict

    q = all_queries()["agg_histogram_quantile_portable"]
    rows = q.fn(spark, SF).collect()
    assert len(rows) > 0

    vals = defaultdict(list)
    for r in (
        spark.read.parquet(f"{SF}/events.parquet")
        .where(F.col("value").isNotNull())
        .select("event_type", "value")
        .collect()
    ):
        vals[r.event_type].append(r.value)
    for v in vals.values():
        v.sort()

    for r in rows:
        assert r.n_clipped == 0
        assert 1 <= r.registers_hit <= HIST_B
        order_stat = vals[r.event_type][
            math.ceil(r.q * len(vals[r.event_type])) - 1
        ]
        assert abs(r.hist_estimate - order_stat) <= HIST_W, (
            r.event_type, r.q, r.hist_estimate, order_stat,
        )


def test_histogram_stream_twin_matches_batch(spark):
    """Complete-mode register drain + batch readout == the batch
    sketch's estimates, column for column."""
    qs = all_queries()
    batch = {
        (r.event_type, r.q): (
            r.n_rows, r.n_clipped, r.registers_hit, r.hist_estimate
        )
        for r in qs["agg_histogram_quantile_portable"].fn(spark, SF).collect()
    }
    stream = {
        (r.event_type, r.q): (
            r.n_rows, r.n_clipped, r.registers_hit, r.hist_estimate
        )
        for r in qs["streaming_histogram_register_drain"].fn(spark, SF).collect()
    }
    assert stream == batch and batch


def test_sampled_truth_recall_agrees_with_exact(spark):
    """The calibration that licenses the cheap gate: at sf0.01 the
    hash-sampled-truth recall per query agrees with the exact
    full-corpus recall (mean abs difference ~0 on this deterministic
    data; bound at 0.05 to leave room for a regenerated fixture).
    Also pins the CI arithmetic: halfwidth is 0 exactly when p is 0
    or 1, and n_truth never exceeds the target k."""
    qs = all_queries()
    sf01 = "/root/testdata/sf0.01"
    exact = {
        r.q_id: r["recall_at_5"]
        for r in qs["eval_ann_recall"].fn(spark, sf01).collect()
    }
    sampled_rows = qs["eval_ann_recall_sampled_truth"].fn(
        spark, sf01
    ).collect()
    sampled = {r.q_id: r.recall_sampled for r in sampled_rows}
    assert set(exact) == set(sampled) and exact
    mean_abs = sum(
        abs(exact[k] - sampled[k]) for k in exact
    ) / len(exact)
    assert mean_abs <= 0.05, (exact, sampled)
    for r in sampled_rows:
        assert 1 <= r.n_truth <= 5
        if r.recall_sampled in (0.0, 1.0):
            assert r.ci95_halfwidth <= 1e-6
        else:
            assert r.ci95_halfwidth > 0


def test_f2_sketch_never_underestimates(spark):
    """The property a salting decision relies on: hash-bucket collisions
    only ADD cross terms, so the sketched self-join size is always >=
    the exact F2 moment (and equals it only if no two keys collide)."""
    r = all_queries()["agg_selfjoin_size_f2_sketch"].fn(spark, SF).collect()[0]
    assert r.f2_sketch >= r.f2_exact
    assert r.overestimate_ratio >= 1.0
    assert r.n_rows > 0 and r.max_key_count >= 1


def test_hll_set_ops_algebra_invariants(spark):
    """Register-algebra sanity: the union sketch (MAX-merged registers)
    estimates at least as large as each side, inclusion-exclusion is
    clamped non-negative, and the estimated Jaccard lands within 0.35
    of exact on this 64-register sketch (the ~13% HLL sigma compounds
    through three estimates)."""
    r = all_queries()["agg_hll_set_ops"].fn(spark, SF).collect()[0]
    assert r.hll_union >= max(r.hll_a, r.hll_b) - 1e-6
    assert r.hll_intersection >= 0.0
    assert r.overlap_exact == r.a_exact + r.b_exact - r.union_exact
    assert abs(r.jaccard_est - r.jaccard_exact) <= 0.35, (
        r.jaccard_est, r.jaccard_exact,
    )


def test_dp_noisy_counts_mechanism_invariants(spark):
    """Laplace-release invariants: the noise is nonzero for every
    group (md5 uniforms never land exactly on 0.5 here), releases
    clamp at 0, and |noise| matches the inverse-CDF magnitude implied
    by epsilon (<= b*ln(2^32) for a 32-bit uniform)."""
    import math

    rows = all_queries()["privacy_dp_noisy_counts"].fn(spark, SF).collect()
    assert rows
    b = 1.0 / rows[0].epsilon
    for r in rows:
        assert r.noisy_count >= 0.0
        assert 0.0 < r.abs_noise <= b * math.log(2**32) + 1e-6
        assert abs(r.noisy_count - max(r.true_count, 0)) <= r.abs_noise + 1e-5


def test_k_anonymity_audit_consistency(spark):
    """The census must agree with a direct recount of the QI groups."""
    from collections import Counter

    r = all_queries()["privacy_k_anonymity_audit"].fn(spark, SF).collect()[0]
    cust = spark.read.parquet(f"{SF}/customer.parquet").collect()
    groups = Counter((c.c_nationkey, c.c_mktsegment) for c in cust)
    assert r.n_groups == len(groups)
    assert r.min_group_size == min(groups.values())
    at_risk = sum(v for v in groups.values() if v < r.k)
    assert r.n_rows_at_risk == at_risk
    assert abs(r.pct_rows_at_risk - at_risk / len(cust)) < 1e-5
