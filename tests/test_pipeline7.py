"""Invariant checks for the round-7 operators (pipeline7_q +
streaming_cms_register_drain).

The DuckDB oracle (tools/check_correctness.py) pins exact values;
these tests pin the semantic invariants that hold at ANY scale.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from change_data_capture_poc_spark.registry import all_queries


def test_cms_overestimate_invariant(spark, sf_dir):
    """Count-Min never underestimates (the one-sided error guarantee),
    and every word's estimate is at most the total token count."""
    out = all_queries()["agg_cms_portable"].fn(spark, sf_dir).collect()
    assert out, "expected vocabulary rows"
    total = sum(r.exact_count for r in out)
    for r in out:
        assert r.cms_estimate >= r.exact_count, r
        assert r.overcount == r.cms_estimate - r.exact_count
        assert r.cms_estimate <= total


def test_cms_register_merge_associativity(spark, sf_dir):
    """Registers built on two disjoint shards and SUMMED equal the
    registers built on the whole corpus — the property that lets the
    sketch be maintained per-partition / per-stream-batch and merged."""
    from change_data_capture_poc_spark.operators.sketch import cms_registers

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def registers(df):
        t = df.select(
            F.explode(F.split("text", " ")).alias("word")
        ).where(F.col("word") != "")
        return {(r.j, r.b): r.cnt for r in cms_registers(t).collect()}

    whole = registers(d)
    even = registers(d.where(F.col("doc_id") % 2 == 0))
    odd = registers(d.where(F.col("doc_id") % 2 == 1))
    merged: dict = {}
    for part in (even, odd):
        for k, v in part.items():
            merged[k] = merged.get(k, 0) + v
    assert merged == whole


def test_streaming_cms_equals_batch(spark, sf_dir):
    """The stream-maintained registers yield exactly the batch
    sketch's word estimates (integer-exact, no tolerance)."""
    batch = {
        r.word: r.cms_estimate
        for r in all_queries()["agg_cms_portable"].fn(spark, sf_dir).collect()
    }
    stream = {
        r.word: r.cms_estimate
        for r in all_queries()["streaming_cms_register_drain"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert stream == batch


def test_pq_recall_bounds_and_code_range(spark, sf_dir):
    """Recall@k lies in [0, 1] with n_hits consistent; every emitted
    query appears exactly once; PQ codes stay within the codebook."""
    from change_data_capture_poc_spark.operators.ann import (
        PQ_K,
        PQ_NQ,
    )

    out = all_queries()["ann_pq_adc_recall"].fn(spark, sf_dir).collect()
    assert len(out) == PQ_NQ
    assert len({r.q_id for r in out}) == PQ_NQ
    for r in out:
        assert 0 <= r.n_hits <= PQ_K
        assert abs(r.recall - r.n_hits / PQ_K) < 2e-6
    # The synthetic embeddings cluster by label, so ADC over 4x16
    # subspaces should recover a nonzero share of true neighbors
    # overall — a PQ wired to garbage codes would sit at ~0.
    assert sum(r.n_hits for r in out) > 0


def test_pq_codebook_vector_encodes_to_itself(spark, sf_dir):
    """A vector that IS codeword c in every subspace must encode to
    codes with zero subspace distance — i.e. the argmin picks a
    codeword whose subvector is identical (distance 0)."""
    from change_data_capture_poc_spark.operators.ann import (
        PQ_C,
        PQ_M,
        PQ_SUB,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cb = {
        int(r.vec_id): [float(x) for x in r.v]
        for r in e.where(F.col("vec_id") < PQ_C).collect()
    }
    cands = sorted(cb.items())
    for _vid, vec in cands:
        for m in range(PQ_M):
            own = vec[m * PQ_SUB : (m + 1) * PQ_SUB]
            # distance to the argmin codeword must be 0 (its own
            # subvector, or an identical one with a lower cid)
            best = min(
                (
                    sum((x - y) * (x - y) for x, y in zip(own, c[m * PQ_SUB : (m + 1) * PQ_SUB])),
                    cid,
                )
                for cid, c in cands
            )
            assert best[0] == 0.0


def test_pq_codebook_rejects_id_gap(spark):
    """The codeword ids double as LUT positions, so a table missing one
    of vec_ids 0..PQ_C-1 must fail at codebook build, naming the gap."""
    import pytest

    from change_data_capture_poc_spark.operators.ann import PQ_C, pq_codebook

    gap = 3
    e = spark.createDataFrame(
        [(i, [float(i)] * 4) for i in range(PQ_C + 2) if i != gap],
        "vec_id bigint, v array<double>",
    )
    with pytest.raises(ValueError, match=rf"missing \[{gap}\]"):
        pq_codebook(e)


def test_semantic_decontamination_matches_model(spark, sf_dir):
    """Per-label contaminated counts match a driver-side float64
    recompute of max-cosine-to-benchmark (within rounding tolerance
    of the 1e-6 grid)."""
    from change_data_capture_poc_spark.queries.pipeline7_q import (
        _DSE_NB,
        _DSE_THRESH,
    )

    rows = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "label", F.col("embedding").cast("array<double>").alias("v"))
        .collect()
    )
    bench = [
        [float(x) for x in r.v] for r in sorted(rows, key=lambda r: r.vec_id)
        if r.vec_id < _DSE_NB
    ]

    def norm(v):
        n = math.sqrt(sum(x * x for x in v))
        return n if n != 0.0 else 1.0

    model: dict = {}
    for r in rows:
        if r.vec_id < _DSE_NB:
            continue
        v = [float(x) for x in r.v]
        mx = max(
            sum(a * b for a, b in zip(v, bv)) / (norm(v) * norm(bv))
            for bv in bench
        )
        lab = int(r.label)
        n_vecs, n_cont = model.get(lab, (0, 0))
        model[lab] = (n_vecs + 1, n_cont + (1 if mx >= _DSE_THRESH - 2e-6 else 0))

    out = all_queries()["decontaminate_semantic_embedding"].fn(
        spark, sf_dir
    ).collect()
    assert {r.label for r in out} == set(model)
    for r in out:
        n_vecs, n_cont = model[r.label]
        assert r.n_vecs == n_vecs
        # Threshold-boundary rounding can move a vector by one grid
        # step at most.
        assert abs(r.n_contaminated - n_cont) <= 1


def test_bitext_margin_matches_model(spark, sf_dir):
    """The mined match per source maximizes the margin per a
    driver-side recompute (to float tolerance), and margins demote
    at least as well as raw cosine (margin match != cosine match is
    allowed, margin of the chosen match is maximal)."""
    from change_data_capture_poc_spark.queries.pipeline7_q import (
        _BMM_K,
        _BMM_NQ,
    )

    rows = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .collect()
    )
    vecs = {int(r.vec_id): [float(x) for x in r.v] for r in rows}
    src = {i: vecs[i] for i in sorted(vecs) if i < _BMM_NQ}
    tgt = {i: vecs[i] for i in sorted(vecs) if i >= _BMM_NQ}

    def norm(v):
        n = math.sqrt(sum(x * x for x in v))
        return n if n != 0.0 else 1.0

    cos = {
        (q, t): sum(a * b for a, b in zip(qv, tv)) / (norm(qv) * norm(tv))
        for q, qv in src.items()
        for t, tv in tgt.items()
    }
    fwd = {
        q: sum(sorted((cos[(q, t)] for t in tgt), reverse=True)[:_BMM_K])
        / _BMM_K
        for q in src
    }
    bwd = {
        t: sum(sorted((cos[(q, t)] for q in src), reverse=True)[:_BMM_K])
        / _BMM_K
        for t in tgt
    }
    margin = {
        (q, t): cos[(q, t)] / ((fwd[q] + bwd[t]) / 2) for q, t in cos
    }
    out = all_queries()["bitext_margin_mining"].fn(spark, sf_dir).collect()
    assert len(out) == _BMM_NQ
    for r in out:
        best = max(margin[(r.q_id, t)] for t in tgt)
        assert margin[(r.q_id, r.match_id)] >= best - 5e-6
        assert abs(r.margin - margin[(r.q_id, r.match_id)]) < 5e-5


def test_doremi_weights_form_distribution(spark, sf_dir):
    """Weights are a smoothed probability distribution and excess loss
    is non-negative (the in-domain MLE unigram model never scores its
    own domain worse than the pooled model)."""
    from change_data_capture_poc_spark.queries.pipeline7_q import (
        _DRM_SMOOTH,
    )

    out = all_queries()["corpus_doremi_domain_weights"].fn(
        spark, sf_dir
    ).collect()
    assert len(out) >= 2
    total = sum(r.doremi_weight for r in out)
    assert abs(total - 1.0) < 1e-4
    floor = _DRM_SMOOTH / len(out)
    for r in out:
        assert r.excess_nats >= -1e-3, r  # millinat grid rounding slack
        assert r.doremi_weight >= floor - 1e-6


def test_bpe_trainer_matches_python_reference(spark, sf_dir):
    """The 3-round merge sequence equals a pure-Python greedy BPE
    trainer run on the same word-frequency table (counts and chosen
    pairs exact), and pair counts never increase across rounds."""
    from change_data_capture_poc_spark.operators.subword import BPE_ROUNDS

    words: dict[str, int] = {}
    for r in (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("text")
        .collect()
    ):
        for w in r.text.split(" "):
            if w:
                words[w] = words.get(w, 0) + 1
    vocab = {w: (list(w), n) for w, n in words.items()}

    expected = []
    for _ in range(BPE_ROUNDS):
        counts: dict[tuple[str, str], int] = {}
        for toks, n in vocab.values():
            for i in range(len(toks) - 1):
                p = (toks[i], toks[i + 1])
                counts[p] = counts.get(p, 0) + n
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (l, r), cnt = best
        expected.append((l, r, cnt))
        for w, (toks, n) in vocab.items():
            out, i = [], 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == l and toks[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            vocab[w] = (out, n)

    got = sorted(
        all_queries()["bpe_train_iterative_merges"].fn(spark, sf_dir)
        .collect(),
        key=lambda r: r.merge_round,
    )
    assert [(r.left_sym, r.right_sym, r.pair_count) for r in got] == expected
    counts_seq = [r.pair_count for r in got]
    assert counts_seq == sorted(counts_seq, reverse=True)


def test_mad_outliers_match_python_reference(spark, sf_dir):
    """Flagged event ids equal a float64 recompute (linear-interp
    median, Iglewicz-Hoaglin modified z); boundary rows may differ
    only within the rounding grid."""
    from change_data_capture_poc_spark.queries.pipeline7_q import (
        _MAD_CUT,
        _MAD_SCALE,
    )

    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id", "event_type", "value")
        .collect()
    )

    def median(xs):
        s = sorted(xs)
        n = len(s)
        mid = (n - 1) / 2
        lo, hi = s[int(mid)], s[int(mid + 0.5)]
        return lo + (hi - lo) * (mid - int(mid))

    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    expect = {}
    for et, rs in by_type.items():
        med = median([r.value for r in rs])
        mad = median([abs(r.value - med) for r in rs])
        if mad <= 0:
            continue
        for r in rs:
            mz = _MAD_SCALE * (r.value - med) / mad
            if abs(mz) > _MAD_CUT:
                expect[r.event_id] = mz

    got = {
        r.event_id: r.modified_z
        for r in all_queries()["events_anomaly_mad_robust"]
        .fn(spark, sf_dir)
        .collect()
    }
    for eid in set(expect) ^ set(got):
        mz = expect.get(eid, got.get(eid))
        assert abs(abs(mz) - _MAD_CUT) < 1e-4, (eid, mz)
    for eid in set(expect) & set(got):
        assert abs(expect[eid] - got[eid]) < 1e-4


def test_triangle_count_matches_python_reference(spark, sf_dir):
    """Wedge and triangle counts equal a pure-Python enumeration over
    the same edge set, and triangles never exceed wedges."""
    edges = {
        (r.doc_id_a, r.doc_id_b)
        for r in all_queries()["dedup_minhash_lsh"].fn(spark, sf_dir)
        .collect()
    }
    succ: dict = {}
    for a, b in edges:
        succ.setdefault(a, set()).add(b)
    wedges = triangles = 0
    for a, bs in succ.items():
        for b in bs:
            for c in succ.get(b, ()):
                wedges += 1
                if c in succ.get(a, ()):
                    triangles += 1

    out = all_queries()["graph_triangle_count_dupgraph"].fn(
        spark, sf_dir
    ).collect()[0]
    assert out.n_edges == len(edges)
    assert out.n_wedges == wedges
    assert out.n_triangles == triangles
    assert out.n_triangles <= out.n_wedges


def test_weighted_priority_sample_matches_model(spark, sf_dir, tmp_path):
    """Per-source samples equal the A-Res top-k of a driver-side
    float64 recompute (deterministic u from the same md5 prefix). The
    corpus gains one zero-length doc, which has no priority and must
    never be sampled."""
    from change_data_capture_poc_spark.operators.topk import (
        WPS_K,
        WPS_U_DEN,
    )
    import hashlib

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    empty = docs.limit(1).withColumns(
        {
            c: F.lit(v).cast(docs.schema[c].dataType)
            for c, v in {"doc_id": 10**9, "text": "", "n_chars": 0}.items()
        }
    )
    docs.unionByName(empty).write.parquet(str(tmp_path / "documents.parquet"))
    sf_dir = str(tmp_path)
    rows = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("source", "doc_id", "n_chars")
        .where(F.col("n_chars") > 0)
        .collect()
    )
    by_source: dict = {}
    for r in rows:
        hv = int(hashlib.md5(str(r.doc_id).encode()).hexdigest()[:8], 16)
        u = (hv + 1) / WPS_U_DEN
        pk = math.log(u) / r.n_chars
        by_source.setdefault(r.source, []).append((pk, r.doc_id))
    expect = {
        src: {d for _pk, d in sorted(v, key=lambda t: (-t[0], t[1]))[:WPS_K]}
        for src, v in by_source.items()
    }
    got: dict = {}
    for r in (
        all_queries()["corpus_weighted_priority_sample"]
        .fn(spark, sf_dir)
        .collect()
    ):
        got.setdefault(r.source, set()).add(r.doc_id)
    assert got == expect


def test_bloom_no_false_negatives_and_stream_twin(spark, sf_dir):
    """The Bloom guarantee: every true duplicate is flagged (zero
    false negatives); rates are sane; and the stream-maintained bit
    set yields the identical readout row."""
    batch = all_queries()["dedup_bloom_portable"].fn(spark, sf_dir).collect()
    assert len(batch) == 1
    b = batch[0]
    assert b.n_flagged >= b.n_true_dup  # no false negatives, ever
    assert b.n_false_pos == b.n_flagged - b.n_true_dup
    assert 0 <= b.fp_rate <= 1
    assert 0 < b.fill_ratio < 1
    stream = (
        all_queries()["streaming_bloom_bitset_drain"]
        .fn(spark, sf_dir)
        .collect()
    )
    assert [tuple(r) for r in stream] == [tuple(r) for r in batch]


def test_ivf_pq_recall_bounds(spark, sf_dir):
    """Composed IVF-PQ: one row per query, candidates strictly fewer
    than brute force, recall consistent with hits."""
    from change_data_capture_poc_spark.operators.ann import (
        PQ_K,
        PQ_NQ,
    )

    n_corpus = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    out = all_queries()["ann_ivf_pq_recall"].fn(spark, sf_dir).collect()
    assert len(out) == PQ_NQ
    assert len({r.q_id for r in out}) == PQ_NQ
    for r in out:
        assert 0 < r.n_candidates < n_corpus - 1
        assert 0 <= r.n_hits <= PQ_K
        assert abs(r.recall - r.n_hits / PQ_K) < 2e-6


def test_streaming_reservoir_equals_batch_sample(spark, sf_dir):
    """The stream-maintained A-Res reservoir equals the batch weighted
    sample exactly (same priorities, same displacement rule)."""
    batch = {
        (r.source, r.doc_id)
        for r in all_queries()["corpus_weighted_priority_sample"]
        .fn(spark, sf_dir)
        .collect()
    }
    stream = {
        (r.source, r.doc_id)
        for r in all_queries()["streaming_weighted_reservoir_drain"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert stream == batch


def test_weighted_build_allocation_and_sample(spark, sf_dir):
    """The composed pipeline samples exactly min(k_s, survivors) per
    source, allocations sum to the budget, and every sampled doc
    passed the gate and the dedup."""
    from change_data_capture_poc_spark.queries.pipeline7_q import (
        _WB_BUDGET,
        _WB_MIN_CHARS,
    )

    out = all_queries()["corpus_weighted_build_e2e"].fn(
        spark, sf_dir
    ).collect()
    assert out, "expected sampled docs"
    docs = {
        r.doc_id: r
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    # Gate respected; ranks contiguous from 1 per source.
    by_src: dict = {}
    for r in out:
        assert docs[r.doc_id].n_chars >= _WB_MIN_CHARS
        by_src.setdefault(r.source, []).append(r.sample_rank)
    for ranks in by_src.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    # Dedup respected: no two sampled docs share a text.
    texts = [docs[r.doc_id].text for r in out]
    assert len(texts) == len(set(texts))
    # Total never exceeds the budget (sources can run short of docs,
    # so <= rather than ==).
    assert len(out) <= _WB_BUDGET


def test_schema_evolution_union_null_semantics(spark, sf_dir):
    """Pre-migration envelopes parse to NULL tier under the evolved
    union schema; post-migration ones carry it; counts add up."""
    out = all_queries()["cdc_schema_evolution_union"].fn(
        spark, sf_dir
    ).collect()
    assert out
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .where(F.col("user_id").isNotNull())
        .collect()
    )
    by_user: dict = {}
    for r in ev:
        pre, post = by_user.get(r.user_id, (0, 0))
        if r.event_id % 2 == 1:
            by_user[r.user_id] = (pre, post + 1)
        else:
            by_user[r.user_id] = (pre + 1, post)
    for r in out:
        pre, post = by_user[r.user_id]
        assert r.n_pre_evolution == pre
        assert r.n_post_evolution == post
        assert r.n_versions == pre + post
        if post == 0:
            assert r.first_post_lsn is None and r.latest_tier is None
        else:
            assert r.latest_tier is not None


def test_cusum_peak_matches_python_reference(spark, sf_dir):
    """The changepoint (argmax |cusum|) and its magnitude match a
    driver-side float64 recompute."""
    from change_data_capture_poc_spark.queries.pipeline7_q import (
        _CUSUM_MIN_N,
    )

    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .where(F.col("user_id").isNotNull() & F.col("value").isNotNull())
        .select("user_id", "event_id", "ts", "value")
        .collect()
    )
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    expect = {}
    for uid, rs in by_user.items():
        if len(rs) < _CUSUM_MIN_N:
            continue
        rs.sort(key=lambda r: (r.ts, r.event_id))
        mu = sum(r.value for r in rs) / len(rs)
        acc, best = 0.0, None
        for r in rs:
            acc += r.value - mu
            key = (round(abs(acc), 5), -r.event_id)
            if best is None or key > best[0]:
                best = (key, r.event_id, abs(acc))
        expect[uid] = (best[1], best[2])

    got = {
        r.user_id: (r.cp_event_id, r.cusum_max_abs)
        for r in all_queries()["events_changepoint_cusum"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert set(got) == set(expect)
    for uid, (cp, mx) in got.items():
        ecp, emx = expect[uid]
        assert abs(mx - emx) < 1e-4
        # Boundary-tie slack: argmax can differ only between events
        # whose |cusum| agrees within the rounding grid.
        if cp != ecp:
            assert abs(mx - emx) < 1e-4


def test_holt_matches_python_reference(spark, sf_dir):
    """Level/trend/forecast equal a float64 recompute of the Holt
    recurrences in event order."""
    from change_data_capture_poc_spark.queries.pipeline7_q import (
        _HOLT_A,
        _HOLT_B,
        _HOLT_MIN_N,
    )

    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .where(F.col("user_id").isNotNull() & F.col("value").isNotNull())
        .select("user_id", "event_id", "value")
        .collect()
    )
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append((r.event_id, r.value))
    expect = {}
    for uid, vs in by_user.items():
        if len(vs) < _HOLT_MIN_N:
            continue
        vs.sort()
        vals = [v for _e, v in vs]
        level, trend = vals[1], vals[1] - vals[0]
        for x in vals[2:]:
            nl = _HOLT_A * x + (1 - _HOLT_A) * (level + trend)
            trend = _HOLT_B * (nl - level) + (1 - _HOLT_B) * trend
            level = nl
        expect[uid] = (len(vals), level, trend)

    got = all_queries()["events_holt_linear_smoothing"].fn(
        spark, sf_dir
    ).collect()
    assert {r.user_id for r in got} == set(expect)
    for r in got:
        n, level, trend = expect[r.user_id]
        assert r.n_points == n
        assert abs(r.level - level) < 1e-4
        assert abs(r.trend - trend) < 1e-4
        assert abs(r.forecast_next - (level + trend)) < 1e-4


def test_cluster_representative_is_best_member(spark, sf_dir):
    """The representative is the longest member (lowest doc_id tie),
    and drop counts are consistent with cluster sizes."""
    comp = {
        r.doc_id: r.cluster_id
        for r in all_queries()["dedup_cluster_label_propagation"]
        .fn(spark, sf_dir)
        .collect()
    }
    chars = {
        r.doc_id: r.n_chars
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    best: dict = {}
    size: dict = {}
    for doc, cl in comp.items():
        size[cl] = size.get(cl, 0) + 1
        key = (-chars[doc], doc)
        if cl not in best or key < best[cl][0]:
            best[cl] = (key, doc)
    out = all_queries()["dedup_cluster_best_representative"].fn(
        spark, sf_dir
    ).collect()
    assert {r.cluster_id for r in out} == set(size)
    for r in out:
        assert r.rep_doc_id == best[r.cluster_id][1]
        assert r.n_members == size[r.cluster_id]
        assert r.n_dropped == r.n_members - 1
        assert r.rep_n_chars == chars[r.rep_doc_id]


def test_threshold_sensitivity_is_monotone(spark, sf_dir):
    """Raising the threshold can only shrink the duplicate set:
    pair counts, drop counts monotone non-increasing; retention
    monotone non-decreasing; drops never exceed pairs."""
    out = sorted(
        all_queries()["dedup_threshold_sensitivity"].fn(
            spark, sf_dir
        ).collect(),
        key=lambda r: r.threshold_permille,
    )
    assert len(out) >= 2
    for lo, hi in zip(out, out[1:]):
        assert hi.n_dup_pairs <= lo.n_dup_pairs
        assert hi.n_docs_dropped <= lo.n_docs_dropped
        assert hi.retention_rate >= lo.retention_rate - 1e-9
    for r in out:
        assert r.n_docs_dropped <= r.n_dup_pairs or r.n_dup_pairs == 0
        assert 0 <= r.retention_rate <= 1
