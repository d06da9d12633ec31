"""Round-9 continuation operators: content-defined chunking, retrieval
quality metrics, RRF fusion, epoch shuffle plan, cross-modal retrieval.

Pins the invariants the DuckDB oracles can't express: chunk
reconstruction (chunks concatenate back to the source token stream),
content-defined boundary stability under prefix insertion, the shuffle
plan being a per-epoch permutation with dense per-shard positions, RRF
membership/monotonicity, and metric range/self-consistency bounds.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from change_data_capture_poc_spark.operators.chunking import CDC_MASK
from change_data_capture_poc_spark.queries.pipeline10_q import (
    _RETR_QUERIES,
    chunk_content_defined,
    corpus_epoch_shuffle_plan,
    eval_retrieval_ndcg_mrr,
    multimodal_crossmodal_retrieval,
    text_rrf_fusion,
)
from change_data_capture_poc_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _cut(word: str) -> bool:
    h = int(hashlib.md5(word.encode()).hexdigest()[:8], 16)
    return h % CDC_MASK == 0


def test_chunks_reconstruct_source_tokens(spark):
    """Concatenating a document's chunks in chunk_idx order must equal
    its original token stream — chunking loses nothing."""
    docs = {
        r["doc_id"]: [w for w in r["text"].split(" ") if w != ""]
        for r in load_table(spark, SF, "documents")
        .where(F.col("doc_id") < 20)
        .collect()
    }
    ch = (
        chunk_content_defined(spark, SF)
        .where(F.col("doc_id") < 20)
        .collect()
    )
    by_doc: dict[int, list] = {}
    for r in ch:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r["chunk_idx"])
        # word counts must tile the document exactly
        assert sum(r["n_words"] for r in rows) == len(docs[doc_id])
        # reconstruct each chunk from the source tokens and check fp
        pos = 0
        for r in rows:
            words = docs[doc_id][pos: pos + r["n_words"]]
            pos += r["n_words"]
            fp = hashlib.md5(" ".join(words).encode()).hexdigest()
            assert fp == r["chunk_fp"], (doc_id, r["chunk_idx"])
        # every chunk's last word (except possibly the final chunk)
        # must be a cut word, and no interior word may be one
        pos = 0
        for i, r in enumerate(rows):
            words = docs[doc_id][pos: pos + r["n_words"]]
            pos += r["n_words"]
            for w in words[:-1]:
                assert not _cut(w)
            if i < len(rows) - 1:
                assert _cut(words[-1])


def test_content_defined_boundaries_shift_invariant():
    """The defining CDC property: inserting a prefix changes only the
    chunk containing the insertion point — all chunks after the next
    cut word are byte-identical (fixed-width chunking would shift
    every downstream boundary)."""

    def chunk(words: list[str]) -> list[str]:
        out, cur = [], []
        for w in words:
            cur.append(w)
            if _cut(w):
                out.append(" ".join(cur))
                cur = []
        if cur:
            out.append(" ".join(cur))
        return out

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon").split()
    shifted = ["inserted0", "inserted1"] + base
    a, b = chunk(base), chunk(shifted)
    # after the first cut point both chunkings must realign
    tail_a = a[1:]
    assert tail_a, "fixture needs at least one cut word"
    assert b[-len(tail_a):] == tail_a


def test_epoch_shuffle_is_permutation(spark):
    rows = corpus_epoch_shuffle_plan(spark, SF).collect()
    n_docs = load_table(spark, SF, "documents").count()
    by_epoch: dict[int, list] = {}
    for r in rows:
        by_epoch.setdefault(r["epoch"], []).append(r)
    assert set(by_epoch) == {0, 1}
    orders = {}
    for ep, rs in by_epoch.items():
        # every doc exactly once per epoch
        assert sorted(r["doc_id"] for r in rs) == list(range(n_docs))
        # positions dense 1..k within each shard
        shards: dict[int, list] = {}
        for r in rs:
            shards.setdefault(r["shard"], []).append(r["pos"])
        for ps in shards.values():
            assert sorted(ps) == list(range(1, len(ps) + 1))
        orders[ep] = [
            r["doc_id"]
            for r in sorted(rs, key=lambda r: (r["shard"], r["pos"]))
        ]
    # epochs must be decorrelated (different traversal order)
    assert orders[0] != orders[1]


def test_rrf_fuses_both_systems(spark):
    out = text_rrf_fusion(spark, SF).collect()
    assert 0 < len(out) <= 10
    # descending fused score, and the score formula holds row by row
    scores = [r["rrf_score"] for r in out]
    assert scores == sorted(scores, reverse=True)
    for r in out:
        expect = 0.0
        if r["lex_rank"] is not None:
            expect += 1.0 / (60 + r["lex_rank"])
        if r["sem_rank"] is not None:
            expect += 1.0 / (60 + r["sem_rank"])
        assert abs(r["rrf_score"] - expect) < 1e-5
    # a doc on BOTH lists at equal rank beats a doc on one list only
    both = [r for r in out if r["lex_rank"] and r["sem_rank"]]
    single = [r for r in out if (r["lex_rank"] is None)
              != (r["sem_rank"] is None)]
    if both and single:
        assert max(r["rrf_score"] for r in both) > min(
            r["rrf_score"] for r in single
        )


def test_retrieval_metrics_in_range(spark):
    out = {r["qid"]: r for r in eval_retrieval_ndcg_mrr(spark, SF).collect()}
    assert set(out) == {q for q, _, _ in _RETR_QUERIES}
    for r in out.values():
        assert 0.0 <= r["ndcg10"] <= 1.0 + 1e-6
        assert 0.0 <= r["mrr100"] <= 1.0 + 1e-6
        assert r["n_rel"] <= r["n_cand"]
        # with any relevant candidate, both metrics must be positive
        if r["n_rel"] > 0:
            assert r["ndcg10"] > 0
            assert r["mrr100"] > 0


def test_crossmodal_top1_is_argmax(spark):
    out = multimodal_crossmodal_retrieval(spark, SF).collect()
    assert len(out) == 32
    assert all(-1.0 - 1e-6 <= r["score"] <= 1.0 + 1e-6 for r in out)
    assert all(
        r["self_match"] == (r["best_vec_id"] == r["doc_id"]) for r in out
    )


def test_er_finds_all_planted_duplicates(spark):
    """Every planted variant must pair with its original, 35-multiples
    must form 3-record clusters, and no cluster may mix entities."""
    from change_data_capture_poc_spark.queries.pipeline10_q import (
        er_candidate_pairs_blocked,
        er_golden_records,
    )

    n_cust = load_table(spark, SF, "customer").count()
    pairs = {
        (r["rec_a"], r["rec_b"])
        for r in er_candidate_pairs_blocked(spark, SF).collect()
    }
    for k in range(0, n_cust, 5):
        assert (k * 10, k * 10 + 1) in pairs, f"missed prefix typo {k}"
    for k in range(0, n_cust, 7):
        assert (k * 10, k * 10 + 2) in pairs, f"missed suffix typo {k}"

    golden = er_golden_records(spark, SF).collect()
    assert all(r["pure"] for r in golden)
    assert all(r["n_entities"] == 1 for r in golden)
    by_cluster = {r["cluster_id"]: r for r in golden}
    for k in range(0, n_cust, 35):
        r = by_cluster[k * 10]
        assert r["n_records"] == 3, f"entity {k} cluster incomplete"
        # survivorship: canonical name comes from the original record
        assert r["canonical_name"].startswith("Customer#")


def test_two_phase_components_matches_label_propagation(spark):
    """On a shallow random graph both algorithms must agree exactly;
    on a deep chain (diameter 120 > label propagation's 25-round cap)
    two-phase must still converge to the true components."""
    import random

    from change_data_capture_poc_spark.operators.components import (
        connected_components,
        two_phase_components,
    )

    rng = random.Random(7)
    edges = [
        (rng.randrange(60), rng.randrange(60)) for _ in range(80)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")
    lp = {
        r["node"]: r["component"]
        for r in connected_components(df).collect()
    }
    tp = {
        r["node"]: r["component"]
        for r in two_phase_components(df).collect()
    }
    assert lp == tp

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(120)], "src long, dst long"
    )
    out = {
        r["node"]: r["component"]
        for r in two_phase_components(chain).collect()
    }
    assert out == {i: 0 for i in range(121)}


def test_bigstar_query_keeps_isolated_documents(spark, tmp_path):
    """A source with exactly ONE document has no chain edge, so its
    doc never enters two_phase_components — the query must still emit
    it as its own singleton component (round-9 advice: the oracle's
    MIN OVER (PARTITION BY source) covers every document)."""
    import pandas as pd

    from change_data_capture_poc_spark.queries.pipeline10_q import (
        graph_components_chain_bigstar,
    )

    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "source": ["a", "a", "a", "lonely"],
            "text": ["x", "y", "z", "w"],
        }
    )
    docs.to_parquet(tmp_path / "documents.parquet")
    out = {
        r["doc_id"]: r["component"]
        for r in graph_components_chain_bigstar(
            spark, str(tmp_path)
        ).collect()
    }
    assert out == {0: 0, 1: 0, 2: 0, 3: 3}


def test_dp_quantile_release_properties(spark):
    """Releases are grid-aligned, ordered in q (CDF post-processing is
    monotone), and within the public bounds; the noisy total stays
    within max-noise distance of the true count."""
    from change_data_capture_poc_spark.queries.pipeline10_q import (
        _DPQ_BINS,
        _DPQ_EPS,
        _DPQ_WIDTH,
        privacy_dp_quantile,
    )

    out = {r["q"]: r for r in privacy_dp_quantile(spark, SF).collect()}
    assert set(out) == {0.5, 0.95}
    for r in out.values():
        assert r["released_value"] % _DPQ_WIDTH == 0
        assert 0 < r["released_value"] <= _DPQ_BINS * _DPQ_WIDTH
    assert out[0.5]["released_value"] <= out[0.95]["released_value"]
    n_events = load_table(spark, SF, "events").count()
    import math

    max_noise = _DPQ_BINS * (1.0 / _DPQ_EPS) * -math.log(2.0 ** -32)
    assert abs(out[0.5]["noisy_total"] - n_events) <= max_noise


def test_chunking_total_on_degenerate_documents(spark):
    """The slice-based chunker must be TOTAL: empty/whitespace-only
    documents (where sequence(1, 0) would count DOWN and index an
    empty word array — an observed ANSI crash) produce no rows rather
    than failing the stage; single-word and cut-terminal documents
    chunk correctly."""
    from change_data_capture_poc_spark.operators.chunking import (
        cdc_chunks_from,
    )

    nocut = ["aaa", "aab", "aac", "aad", "aae"]  # none hits the mask
    for w in nocut:
        assert not _cut(w)
    cutw = "aar"
    assert _cut(cutw)
    rows = [
        (1, "s", " ".join(nocut)),            # no cut word: one chunk
        (2, "s", cutw),                        # single cut word
        (3, "s", nocut[0]),                    # single non-cut word
        (4, "s", " ".join(nocut[:2] + [cutw])),  # ends exactly on cut
        (5, "s", ""),                          # empty text
        (6, "s", "   "),                       # whitespace only
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = cdc_chunks_from(df).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {1, 2, 3, 4}
    assert [r["n_words"] for r in by_doc[1]] == [5]
    assert [r["n_words"] for r in by_doc[4]] == [3]


def test_chunk_serve_reads_index_not_corpus(spark):
    """The incremental serve must scan documents exactly once (the
    delta branch) plus the persisted fingerprint index — never
    re-chunk the existing corpus — and must agree row-for-row with
    the in-plan variant (persistence is transparent)."""
    from change_data_capture_poc_spark.queries.pipeline10_q import (
        chunk_incremental_dedup,
        chunk_incremental_serve,
        ensure_chunk_index,
    )
    from change_data_capture_poc_spark.functions.caching import (
        release_pins,
    )

    ensure_chunk_index(spark, SF)
    df = chunk_incremental_serve(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("documents.parquet") == 1
    assert "fp_index.parquet" in plan

    serve = {r["doc_id"]: tuple(r) for r in df.collect()}
    inplan = {
        r["doc_id"]: tuple(r)
        for r in chunk_incremental_dedup(spark, SF).collect()
    }
    release_pins(spark)
    assert serve == inplan
