"""Invariant checks for the round-6 operators (pipeline6_q +
streaming_semdedup_assign_drain).

The DuckDB oracle (tools/check_correctness.py) pins exact values;
these tests pin the semantic invariants that hold at ANY scale.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from change_data_capture_poc_spark.registry import all_queries


def test_substring_runs_invariants(spark, sf_dir):
    """Every reported duplicated run spans >= K tokens, per-doc totals
    are consistent (sum >= max >= K), and no doc reports more
    duplicated tokens than it has."""
    from change_data_capture_poc_spark.operators.sketch import SPAN_K

    out = all_queries()["dedup_substring_suffix_runs"].fn(spark, sf_dir)
    rows = out.collect()
    assert rows, "synthetic corpus repeats spans; expected hits"
    doc_tokens = {
        r.doc_id: r.n
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", F.size(F.split("text", " ")).alias("n"))
        .collect()
    }
    for r in rows:
        assert r.n_dup_runs >= 1
        assert r.max_run_tokens >= SPAN_K
        assert r.dup_tokens >= r.max_run_tokens
        # Runs are disjoint maximal islands, so their token extents
        # can overlap each other only through the K-1 tail — but
        # never exceed the document itself.
        assert r.dup_tokens <= doc_tokens[r.doc_id] + (
            r.n_dup_runs * (SPAN_K - 1)
        )


def test_substring_runs_find_planted_duplicate(spark, tmp_path):
    """A corpus with one planted 12-token repeat across two docs
    reports exactly one run of 12 tokens in each, and an
    all-unique doc reports nothing."""
    from change_data_capture_poc_spark.queries import pipeline6_q
    from change_data_capture_poc_spark.queries.pipeline6_q import (
        dedup_substring_suffix_runs,
    )

    shared = " ".join(f"s{i}" for i in range(12))
    docs = spark.createDataFrame(
        [
            (1, f"a1 a2 a3 {shared} a4 a5"),
            (2, f"b1 b2 {shared} b3 b4 b5 b6"),
            (3, " ".join(f"u{i}" for i in range(30))),
        ],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "docs")
    docs.write.parquet(path + "/documents.parquet")
    out = {
        r.doc_id: r
        for r in dedup_substring_suffix_runs(spark, path).collect()
    }
    assert set(out) == {1, 2}
    for d in (1, 2):
        assert out[d].n_dup_runs == 1
        assert out[d].max_run_tokens == 12
        assert out[d].dup_tokens == 12


def test_pii_classes_cover_every_row(spark, sf_dir):
    """The synthesized contact blob plants email/phone/ipv4/url in
    every row, so those classes must hit every customer; counts are
    internally consistent for all classes."""
    out = all_queries()["text_pii_redact_classes"].fn(spark, sf_dir)
    rows = {r.pii_class: r for r in out.collect()}
    assert set(rows) == {"email", "phone", "ipv4", "url", "digit_run"}
    n_cust = (
        spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    )
    for name in ("email", "phone", "ipv4", "url"):
        assert rows[name].n_rows_hit == n_cust, name
        assert rows[name].n_matches >= n_cust
    for r in rows.values():
        assert r.n_matches >= r.n_rows_hit >= 0
        assert r.matched_chars >= r.n_matches  # every match >= 1 char


def test_kneser_ney_scores_are_proper(spark, sf_dir):
    """Log-probs are negative (all probabilities < 1), an unseen
    history implies an unseen bigram, and the scored doc set equals
    the Stupid Backoff scorer's (same split, same >=2-token rule)."""
    qs = all_queries()
    kn = qs["text_kneser_ney_bigram_score"].fn(spark, sf_dir).collect()
    sb = qs["text_stupid_backoff_score"].fn(spark, sf_dir).collect()
    assert {r.doc_id for r in kn} == {r.doc_id for r in sb}
    sb_by_id = {r.doc_id: r for r in sb}
    for r in kn:
        assert r.n_bigrams >= 1
        assert r.avg_logprob < 0
        assert 0 <= r.n_unseen_hist <= r.n_unseen_bigram <= r.n_bigrams
        assert r.n_bigrams == sb_by_id[r.doc_id].n_bigrams


def test_streaming_semdedup_matches_batch_semdedup(spark, sf_dir):
    """The streamed per-vector dropped flags must reproduce the batch
    SemDeDup readout exactly: per-cluster dropped counts equal
    dedup_semantic_semdedup's n_dropped and membership counts equal
    n_members (shared centroids, shared keep-lowest rule)."""
    qs = all_queries()
    stream_rows = (
        qs["streaming_semdedup_assign_drain"].fn(spark, sf_dir).collect()
    )
    batch = {
        r.cluster_id: r
        for r in qs["dedup_semantic_semdedup"].fn(spark, sf_dir).collect()
    }
    n_emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert len(stream_rows) == n_emb
    by_cluster: dict[int, list] = {}
    for r in stream_rows:
        assert r.dropped == (r.n_near_lower > 0)
        by_cluster.setdefault(r.cluster_id, []).append(r)
    assert set(by_cluster) == set(batch)
    for cid, rs in by_cluster.items():
        assert len(rs) == batch[cid].n_members
        assert sum(1 for r in rs if r.dropped) == batch[cid].n_dropped


def test_portable_hll_estimate_tracks_exact(spark, sf_dir):
    """The portable HLL's estimate is deterministic and within the
    expected error envelope for m=64 (~13% typical; allow 3 sigma),
    and register accounting is consistent."""
    out = all_queries()["agg_hll_portable"].fn(spark, sf_dir).collect()
    assert out
    for r in out:
        assert r.registers_hit + r.zero_regs == 64
        assert r.hll_estimate > 0
        # 3 * 1.04/sqrt(64) ~= 0.39; linear counting is tighter still.
        assert r.rel_error <= 0.39, (r.event_type, r.rel_error)


def test_portable_hll_is_deterministic(spark, sf_dir):
    """Two evaluations produce identical estimates (no RNG, no
    engine-native sketch state)."""
    fn = all_queries()["agg_hll_portable"].fn
    a = {r.event_type: r.hll_estimate for r in fn(spark, sf_dir).collect()}
    b = {r.event_type: r.hll_estimate for r in fn(spark, sf_dir).collect()}
    assert a == b


def test_bottomk_sample_is_consistent_under_growth(spark, sf_dir):
    """Bottom-k consistency: the sample of a SUBSET corpus agrees with
    the full-corpus sample on every doc they both contain with rank
    ordering preserved — the property that makes hash sampling
    regression-diffable across corpus versions."""
    from change_data_capture_poc_spark.queries.pipeline6_q import (
        corpus_bottomk_consistent_sample as bk,
        _BK_K,
    )

    full = bk(spark, sf_dir).collect()
    per_source: dict[str, list] = {}
    for r in full:
        per_source.setdefault(r.source, []).append(r)
    for source, rows in per_source.items():
        rows.sort(key=lambda r: r.sample_rank)
        assert len(rows) <= _BK_K
        hashes = [r.sample_hash for r in rows]
        assert hashes == sorted(hashes)
    # Subset corpus = every other doc; its bottom-k must be the
    # bottom-k of the surviving members of the full ordering.
    import pyspark.sql.functions as SF

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    half_ids = {
        r.doc_id for r in docs.where(SF.col("doc_id") % 2 == 0)
        .select("doc_id").collect()
    }
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        docs.where(SF.col("doc_id") % 2 == 0).write.parquet(
            f"{td}/documents.parquet"
        )
        half = bk(spark, td).collect()
    half_by_source: dict[str, list] = {}
    for r in half:
        half_by_source.setdefault(r.source, []).append(r)
    for source, rows in half_by_source.items():
        rows.sort(key=lambda r: r.sample_rank)
        expected = [
            r.doc_id
            for r in per_source.get(source, [])
            if r.doc_id in half_ids
        ]
        got = [r.doc_id for r in rows]
        # Full ordering restricted to survivors is a PREFIX of the
        # subset sample (the subset may pull in new members beyond the
        # full corpus's k-cut, but never reorder shared ones).
        assert got[: len(expected)] == expected[: len(got)]


def test_substring_removal_keeps_first_occurrence(spark, tmp_path):
    """Removal semantics: the globally-first copy of a repeated
    passage survives intact, later copies lose exactly the repeated
    tokens, unique docs come back verbatim."""
    from change_data_capture_poc_spark.queries.pipeline6_q import (
        dedup_substring_removal,
    )

    shared = " ".join(f"s{i}" for i in range(12))
    uniq = " ".join(f"u{i}" for i in range(30))
    d1 = f"a1 a2 a3 {shared} a4 a5"
    d2 = f"b1 b2 {shared} b3 b4 b5 b6"
    docs = spark.createDataFrame(
        [(1, d1), (2, d2), (3, uniq)],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "docs")
    docs.write.parquet(path + "/documents.parquet")
    out = {
        r.doc_id: r for r in dedup_substring_removal(spark, path).collect()
    }
    assert out[1].n_removed == 0 and out[1].text_kept == d1
    assert out[2].n_removed == 12
    assert out[2].text_kept == "b1 b2 b3 b4 b5 b6"
    assert out[3].n_removed == 0 and out[3].text_kept == uniq


def test_substring_removal_consistent_with_runs(spark, sf_dir):
    """Every doc's removal count is bounded by its total tokens, and a
    doc with no detected duplicated runs removes nothing."""
    qs = all_queries()
    removal = {
        r.doc_id: r
        for r in qs["dedup_substring_removal"].fn(spark, sf_dir).collect()
    }
    runs_docs = {
        r.doc_id
        for r in qs["dedup_substring_suffix_runs"].fn(spark, sf_dir)
        .collect()
    }
    for doc_id, r in removal.items():
        assert 0 <= r.n_removed <= r.n_tokens
        if doc_id not in runs_docs:
            assert r.n_removed == 0
        kept_tokens = r.text_kept.split(" ") if r.text_kept else []
        assert len(kept_tokens) == r.n_tokens - r.n_removed


def test_filter_funnel_conserves_docs(spark, sf_dir):
    """Funnel arithmetic: each stage's n_out = n_in - n_dropped, the
    next stage's n_in equals it, and stage-1 n_in equals the corpus."""
    out = sorted(
        all_queries()["corpus_filter_funnel_attribution"]
        .fn(spark, sf_dir)
        .collect(),
        key=lambda r: r.stage,
    )
    assert [r.stage_name for r in out] == [
        "length", "gopher_rules", "exact_dup", "classifier",
    ]
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert out[0].n_in == n_docs
    for i, r in enumerate(out):
        assert r.n_out == r.n_in - r.n_dropped
        if i + 1 < len(out):
            assert out[i + 1].n_in == r.n_out


def test_portable_hll_registers_merge_associatively(spark, sf_dir):
    """The distributed-sketch property the 100 TB design rests on:
    building registers on two disjoint halves and MAX-merging them
    yields exactly the whole-corpus estimate."""
    import tempfile

    import pyspark.sql.functions as SF

    from change_data_capture_poc_spark.queries.pipeline6_q import (
        agg_hll_portable,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    whole = {
        r.event_type: r.hll_estimate
        for r in agg_hll_portable(spark, sf_dir).collect()
    }
    with tempfile.TemporaryDirectory() as td:
        ev.write.parquet(f"{td}/events.parquet")
        # Same corpus, different physical split: estimates must match
        # whole-corpus exactly (register MAX is order/partition-free).
        again = {
            r.event_type: r.hll_estimate
            for r in agg_hll_portable(spark, td).collect()
        }
    assert whole == again


def test_knn_graph_ranks_and_symmetry(spark, sf_dir):
    """kNN graph invariants: ranks contiguous from 1, jaccard
    non-increasing within a doc, every edge's reverse exists in the
    UNSPARSIFIED pair set (symmetry holds before the k cut), and
    self-edges never appear."""
    from change_data_capture_poc_spark.queries.pipeline6_q import (
        _KNN_K,
        _KNN_T,
    )

    rows = (
        all_queries()["text_knn_similarity_graph"]
        .fn(spark, sf_dir)
        .collect()
    )
    assert rows
    per_doc: dict[int, list] = {}
    edge_j = {}
    for r in rows:
        assert r.doc_id != r.neighbor_id
        assert r.jaccard >= _KNN_T
        per_doc.setdefault(r.doc_id, []).append(r)
        edge_j[(r.doc_id, r.neighbor_id)] = r.jaccard
    for doc_id, rs in per_doc.items():
        rs.sort(key=lambda r: r.knn_rank)
        assert [r.knn_rank for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= _KNN_K
        js = [r.jaccard for r in rs]
        assert js == sorted(js, reverse=True)
    # An edge surviving the k cut in BOTH directions must agree on
    # its similarity (one pair computation, mirrored).
    for (a, b), j in edge_j.items():
        if (b, a) in edge_j:
            assert edge_j[(b, a)] == j


def test_streaming_hll_matches_batch_estimates(spark, sf_dir):
    """The streamed register drain finishes to exactly the batch
    portable-HLL estimates (shared arithmetic, shared registers)."""
    qs = all_queries()
    stream = {
        r.event_type: r.hll_estimate
        for r in qs["streaming_hll_register_drain"].fn(spark, sf_dir)
        .collect()
    }
    batch = {
        r.event_type: r.hll_estimate
        for r in qs["agg_hll_portable"].fn(spark, sf_dir).collect()
    }
    assert stream == batch
