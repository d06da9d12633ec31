"""Invariant checks for the round-3 curation/LM/eval operators.

The DuckDB oracle (tools/check_correctness.py) pins exact values;
these tests pin the semantic invariants that hold at ANY scale —
partition/coverage properties, bounds, determinism.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from change_data_capture_poc_spark.registry import all_queries


def test_split_partitions_corpus(spark, sf_dir):
    """Every doc lands in exactly one split; the assignment is a pure
    function of doc_id (two runs agree row-for-row)."""
    q = all_queries()["split_train_val_test"]
    a = q.fn(spark, sf_dir)
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert a.count() == n_docs
    assert a.select("doc_id").distinct().count() == n_docs
    splits = {r.split for r in a.select("split").distinct().collect()}
    assert splits <= {"train", "val", "test"}
    b = q.fn(spark, sf_dir)
    assert a.exceptAll(b).count() == 0


def test_mix_rebalance_caps_every_source(spark, sf_dir):
    """The smallest source is kept whole (permille 1000); every other
    source's kept count stays near its integer keep rate."""
    q = all_queries()["corpus_mix_rebalance"]
    out = q.fn(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    counts = {r.source: r.cnt for r in docs.groupBy("source")
              .agg(F.count("*").alias("cnt")).collect()}
    mn = min(counts.values())
    kept = {r.source: (r.kept, r.keep_permille) for r in out.groupBy(
        "source", "keep_permille").agg(F.count("*").alias("kept"))
        .select("source", "kept", "keep_permille").collect()}
    # EVERY source must survive rebalancing (keep rate >= 1 doc); a
    # regression dropping a whole source would otherwise skip its
    # assertions silently.
    assert set(kept) == set(counts)
    for src, (k, permille) in kept.items():
        assert permille == (mn * 1000) // counts[src]
        assert k <= counts[src]
    smallest = min(counts, key=lambda s: (counts[s], s))
    assert kept[smallest][1] == 1000
    assert kept[smallest][0] == counts[smallest]


def test_curriculum_phases_are_ordered_terciles(spark, sf_dir):
    """Phases partition the corpus; length ranges are ordered
    phase0 <= phase1 <= phase2 and sizes are near-equal thirds."""
    out = all_queries()["curriculum_quality_phases"].fn(spark, sf_dir)
    rows = out.groupBy("phase").agg(
        F.count("*").alias("n"),
        F.min("n_chars").alias("lo"),
        F.max("n_chars").alias("hi"),
    ).collect()
    by_phase = {r.phase: r for r in rows}
    assert set(by_phase) == {0, 1, 2}
    # Real ordered-range invariant: phase ranges are disjoint up to a
    # shared boundary value (threshold assignment puts every tie in the
    # lower phase, so equality is the only permitted overlap).
    assert by_phase[0].hi <= by_phase[1].lo
    assert by_phase[1].hi <= by_phase[2].lo
    total = sum(r.n for r in rows)
    for r in rows:
        assert abs(r.n - total / 3) < 0.1 * total + 2


def test_bigram_logprob_bounds(spark, sf_dir):
    """Log-probs are negative; every doc with >= 2 tokens scores and
    emits exactly n_tokens - 1 bigrams."""
    out = all_queries()["text_bigram_logprob"].fn(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tok")
    ).where(F.col("n_tok") >= 2)
    joined = docs.join(out, "doc_id")
    assert joined.count() == docs.count()
    # ...and nothing else scores: a 1-token doc sneaking into the
    # output (e.g. a dropped size(w) >= 2 filter) must fail here, not
    # pass the subset check above.
    assert out.count() == docs.count()
    bad = joined.where(
        (F.col("n_bigrams") != F.col("n_tok") - 1)
        | (F.col("avg_logprob") >= 0)
    ).count()
    assert bad == 0


def test_oov_rate_bounds(spark, sf_dir):
    out = all_queries()["tokenizer_oov_rate"].fn(spark, sf_dir).collect()
    assert len(out) >= 1
    for r in out:
        assert 0 <= r.covered_tokens <= r.total_tokens
        assert -1e-6 <= r.oov_rate <= 1 + 1e-6


def test_ann_recall_bounds(spark, sf_dir):
    out = all_queries()["eval_ann_recall"].fn(spark, sf_dir).collect()
    assert len(out) == 8
    for r in out:
        assert 0 <= r.hits <= 5
        assert abs(r.recall_at_5 - r.hits / 5) < 1e-5


def test_containment_dominates_jaccard(spark, sf_dir):
    """max(containment_a, containment_b) >= jaccard of the same pair —
    containment is the laxer measure (subset dup detection)."""
    pairs = all_queries()["dedup_minhash_containment"].fn(spark, sf_dir)
    jac = all_queries()["dedup_ngram_jaccard"].fn(spark, sf_dir)
    j = pairs.join(jac, ["doc_id_a", "doc_id_b"])
    bad = j.where(
        F.greatest("containment_a", "containment_b")
        < F.col("jaccard") - 1e-6
    ).count()
    assert bad == 0
    out = pairs.collect()
    for r in out:
        assert 0 < r.containment_a <= 1 + 1e-6
        assert 0 < r.containment_b <= 1 + 1e-6


def test_mmr_rerank_diversifies_and_agrees_on_rank1(spark, sf_dir):
    """Per query: exactly ranks 1..3 over 3 distinct neighbors, and
    rank 1 (pure relevance) equals ann_two_stage_rerank's exact top-1
    — MMR only changes picks 2+."""
    out = all_queries()["ann_mmr_diversified_rerank"].fn(spark, sf_dir)
    rows = out.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append(r)
    assert len(by_q) == 8
    for q_id, rs in by_q.items():
        assert sorted(r.rank for r in rs) == [1, 2, 3]
        assert len({r.neighbor_id for r in rs}) == 3
    two = all_queries()["ann_two_stage_rerank"].fn(spark, sf_dir).collect()
    top1 = {}
    for r in two:
        # Model the operators' exact rule: max rounded cosine, ties
        # broken by LOWEST neighbor_id. (A collect-order keep-first
        # would pick an arbitrary tied neighbor and flake.)
        cur = top1.get(r.q_id)
        if cur is None or (-r.cosine, r.neighbor_id) < (-cur[1], cur[0]):
            top1[r.q_id] = (r.neighbor_id, r.cosine)
    for q_id, rs in by_q.items():
        r1 = next(r for r in rs if r.rank == 1)
        assert r1.neighbor_id == top1[q_id][0]


def test_lang_confusion_shares_sum_to_one(spark, sf_dir):
    out = all_queries()["text_lang_confusion_matrix"].fn(spark, sf_dir)
    rows = out.collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert sum(r.n for r in rows) == docs.count()
    by_lang = {}
    for r in rows:
        by_lang[r.lang] = by_lang.get(r.lang, 0.0) + r.share_of_lang
    for lang, s in by_lang.items():
        assert abs(s - 1.0) < 1e-4


def test_ngram_novelty_first_band_is_all_novel(spark, sf_dir):
    out = all_queries()["corpus_ngram_novelty_curve"].fn(spark, sf_dir)
    rows = {r.band: r for r in out.collect()}
    assert abs(rows[0].novelty_rate - 1.0) < 1e-5  # first band: all new
    # Every distinct gram is novel in exactly one band.
    total_novel = sum(r.novel_grams for r in rows.values())
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from change_data_capture_poc_spark.functions.text import ngram_shingles
    n_distinct = (
        docs.select(F.split("text", " ").alias("w"))
        .where(F.size("w") >= 3)
        .select(F.explode(ngram_shingles(F.col("w"), 3)).alias("g"))
        .select("g")
        .distinct()
        .count()
    )
    assert total_novel == n_distinct


def test_length_tradeoff_curve_is_monotone(spark, sf_dir):
    """Higher threshold never keeps more: docs/tokens/share all
    non-increasing in min_chars, and threshold 0 keeps everything."""
    out = all_queries()["corpus_length_filter_tradeoff"].fn(spark, sf_dir)
    rows = sorted(out.collect(), key=lambda r: r.min_chars)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert rows[0].min_chars == 0 and rows[0].docs_kept == docs.count()
    assert abs(rows[0].token_share - 1.0) < 1e-5
    for a, b in zip(rows, rows[1:]):
        assert b.docs_kept <= a.docs_kept
        assert b.tokens_kept <= a.tokens_kept


def test_dedup_impact_totals_match_survivors(spark, sf_dir):
    """Per-source afters sum to the survivor count; retention <= 1 and
    before >= after everywhere."""
    out = all_queries()["dedup_impact_by_source"].fn(spark, sf_dir)
    rows = out.collect()
    for r in rows:
        assert r.docs_after <= r.docs_before
        assert r.tokens_after <= r.tokens_before
        assert r.token_retention <= 1.0 + 1e-6
    survivors = all_queries()["dedup_survivors"].fn(spark, sf_dir).count()
    assert sum(r.docs_after for r in rows) == survivors


def test_multimodal_bucket_dedup_signature_is_exact(spark, sf_dir):
    """Buckets exist (>=2 docs each), and the emitted bucket key of the
    keeper doc matches a direct Python recomputation of the quantized
    byte-histogram from the raw text — pinning the whole Arrow-UDF +
    integer-quantization chain end to end."""
    out = all_queries()["multimodal_feature_bucket_dedup"].fn(spark, sf_dir)
    rows = out.collect()
    assert rows and all(r.n_docs >= 2 for r in rows)
    biggest = max(rows, key=lambda r: (r.n_docs, -r.keeper_doc))
    text = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id") == biggest.keeper_doc)
        .first()
        .text
    )
    b = text.encode("utf-8")
    hist = [0] * 16
    for byte in b:
        hist[byte % 16] += 1
    key = "|".join(str((c * 32) // len(b)) for c in hist)
    assert key == biggest.bucket_key


def test_multimodal_bucket_dedup_oracle_agrees_on_non_ascii(
    spark, tmp_path
):
    """The driver fixtures are pure ASCII, where codepoint and byte
    histograms coincide — so run the Spark path AND the DuckDB oracle
    on a corpus with multi-byte UTF-8 (and an empty doc) and require
    identical buckets. Guards the byte-vs-codepoint oracle pairing and
    the n=0 division guard on both engines."""
    import duckdb

    texts = [
        (1, "héllo wörld ñ"),          # latin-1 accents, 2-byte UTF-8
        (2, "héllo wörld ñ"),          # exact dup of 1
        (3, "日本語テキスト"),            # CJK, 3-byte UTF-8
        (4, "日本語テキスト"),            # exact dup of 3
        (5, ""),                        # empty: excluded on both sides
        (6, "plain ascii text"),        # singleton: filtered by HAVING
        (7, None),                      # NULL: excluded on both sides
    ]
    sf_dir = str(tmp_path / "sf")
    spark.createDataFrame(texts, "doc_id long, text string").write.parquet(
        f"{sf_dir}/documents.parquet"
    )

    q = all_queries()["multimodal_feature_bucket_dedup"]
    got = sorted(
        (r.bucket_key, r.n_docs, r.keeper_doc)
        for r in q.fn(spark, sf_dir).collect()
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet/*.parquet')"
    )
    want = sorted(tuple(r) for r in con.execute(q.oracle).fetchall())
    assert got == want
    assert len(got) == 2 and all(n == 2 for _, n, _ in got)


def test_bitemporal_grid_cell_matches_direct_recompute(spark, sf_dir):
    """The 3x3 grid has 9 cells with axes increasing, and the middle
    cell equals an independent direct reconstruction (filter the cone,
    latest by (valid_ts, lsn) per key, deletes excluded)."""
    from change_data_capture_poc_spark.sources.tables import load_table

    out = all_queries()["scd2_bitemporal_grid_audit"].fn(spark, sf_dir)
    rows = {(r.qi, r.qj): r for r in out.collect()}
    assert len(rows) == 9
    assert rows[(1, 1)].tx_lsn < rows[(2, 1)].tx_lsn < rows[(3, 1)].tx_lsn
    assert (rows[(1, 1)].valid_ts_us < rows[(1, 2)].valid_ts_us
            < rows[(1, 3)].valid_ts_us)

    cell = rows[(2, 2)]
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    ).select(
        "user_id", "event_id", F.unix_micros("ts").alias("tus"), "value",
        F.when(F.col("event_type") == "error", F.lit("d"))
        .otherwise(F.lit("u")).alias("op"),
    )
    cone = ev.where(
        (F.col("event_id") <= cell.tx_lsn)
        & (F.col("tus") <= cell.valid_ts_us)
    )
    last = cone.groupBy("user_id").agg(
        F.max_by("op", F.struct("tus", "event_id")).alias("lop"),
        F.max_by("value", F.struct("tus", "event_id")).alias("lval"),
    ).where(F.col("lop") != "d")
    direct = last.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("lval") + F.lit(1e-9), 6).alias("s"),
    ).first()
    assert direct.n == cell.n_live_users
    assert abs(direct.s - cell.total_value) < 1e-6


def test_importance_sampling_prefers_target_domain(spark, sf_dir):
    """Top-100 selection is sorted desc on the rounded score, and the
    target language is overrepresented vs its corpus share — the
    selection has to actually pull toward the target domain."""
    out = all_queries()["corpus_importance_sampling"].fn(spark, sf_dir)
    rows = out.collect()
    assert len(rows) == 100
    imps = [r.importance for r in rows]
    assert imps == sorted(imps, reverse=True)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lang = {r.doc_id: r.lang for r in docs.select("doc_id", "lang").collect()}
    sel_en = sum(1 for r in rows if lang[r.doc_id] == "en") / len(rows)
    corpus_en = sum(1 for v in lang.values() if v == "en") / len(lang)
    assert sel_en > corpus_en


def test_incremental_dedup_is_cross_split_subset_of_full_lsh(spark, sf_dir):
    """Delta-vs-index candidates: every pair straddles the split (delta
    side >= split, index side < split), is_dup implies jaccard >= 0.5,
    and the pair set equals the full LSH pair set restricted to
    cross-split pairs — the incremental path finds exactly what a full
    re-dedup would find for the delta."""
    out = all_queries()["dedup_incremental_delta_index"].fn(spark, sf_dir)
    rows = out.collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    split = docs.agg(F.expr("max(doc_id) div 2").alias("s")).first().s
    for r in rows:
        assert r.delta_doc_id >= split > r.index_doc_id
        if r.is_dup:
            assert r.jaccard >= 0.5 - 1e-9
    full = all_queries()["dedup_minhash_lsh"].fn(spark, sf_dir).collect()
    cross = {
        (max(p.doc_id_a, p.doc_id_b), min(p.doc_id_a, p.doc_id_b))
        for p in full
        if (p.doc_id_a < split) != (p.doc_id_b < split)
    }
    assert {(r.delta_doc_id, r.index_doc_id) for r in rows} == cross


def test_stratified_holdout_exact_allocation(spark, sf_dir):
    """Exactly K docs total; per-source counts equal the emitted quota;
    every quota is within 1 of the exact proportional share (the
    largest-remainder guarantee)."""
    out = all_queries()["eval_holdout_stratified_exact"].fn(spark, sf_dir)
    rows = out.collect()
    assert len(rows) == 50
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    counts = {r.source: r.cnt for r in docs.groupBy("source")
              .agg(F.count("*").alias("cnt")).collect()}
    n = sum(counts.values())
    per_src = {}
    for r in rows:
        per_src.setdefault(r.source, []).append(r)
    for src, rs in per_src.items():
        quota = rs[0].source_quota
        assert len(rs) == quota
        exact = 50 * counts[src] / n
        assert abs(quota - exact) < 1 + 1e-9
    assert sum(len(rs) for rs in per_src.values()) == 50


def test_quality_classifier_scores_every_doc(spark, sf_dir):
    out = all_queries()["text_quality_classifier_score"].fn(spark, sf_dir)
    rows = out.collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert len(rows) == docs.count()
    for r in rows:
        assert 0.0 < r.quality_score < 1.0
        assert r.keep == (r.quality_score >= 0.5)


def test_lsn_gap_empty_band_does_not_split_transaction(spark, tmp_path):
    """Regression: a band with NO rows (a <= _TX_GAP hole that happens
    to swallow a whole LSN band on a tiny range) must NOT fabricate a
    transaction boundary — the stitch has to carry the last PRECEDING
    NON-EMPTY band's max, not just band-1's."""
    import datetime as dt

    # Segment A: 0..60, hole 61..79 (gap 80-60=20 == _TX_GAP, NOT a
    # boundary), segment B: 80..140, hole 141..200 (gap 61 > _TX_GAP,
    # real boundary), segment C: 201..210.
    from change_data_capture_poc_spark.queries.cdc_ops_q import _N_BANDS

    ids = list(range(0, 61)) + list(range(80, 141)) + list(range(201, 211))
    lo, hi = min(ids), max(ids)
    # Import the implementation's band count: a hard-coded copy would
    # let a changed count silently turn this hole-crafting meta-check
    # into a no-op.
    bands = {((i - lo) * _N_BANDS) // (hi - lo + 1) for i in ids}
    assert len(bands) < _N_BANDS  # the crafted hole really empties a band

    ts = dt.datetime(2024, 1, 1)
    rows = [(i, ts, i % 7, "purchase", 1.0, "{}") for i in ids]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, props string"
    )
    d = str(tmp_path / "tiny")
    df.write.parquet(f"{d}/events.parquet")

    out = (
        all_queries()["cdc_lsn_gap_transactions"]
        .fn(spark, d)
        .orderBy("tx_id")
        .collect()
    )
    assert len(out) == 2  # A+B fused across the empty band; C split off
    assert (out[0].first_lsn, out[0].last_lsn) == (0, 140)
    assert (out[1].first_lsn, out[1].last_lsn) == (201, 210)
    assert out[0].n_changes == 122 and out[1].n_changes == 10


def test_lsn_gap_transactions_tile_the_log(spark, sf_dir):
    """Transactions are disjoint LSN intervals in order, cover every
    purchase row, and only break on gaps > 20."""
    out = all_queries()["cdc_lsn_gap_transactions"].fn(spark, sf_dir)
    rows = sorted(out.collect(), key=lambda r: r.tx_id)
    assert [r.tx_id for r in rows] == list(range(1, len(rows) + 1))
    n_purchases = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .where("event_type = 'purchase' AND user_id IS NOT NULL")
        .count()
    )
    assert sum(r.n_changes for r in rows) == n_purchases
    for prev, cur in zip(rows, rows[1:]):
        assert prev.last_lsn < cur.first_lsn
        assert cur.first_lsn - prev.last_lsn > 20


def test_rebuild_at_lsn_respects_bound_and_tombstones(spark, sf_dir):
    out = all_queries()["scd2_rebuild_at_lsn"].fn(spark, sf_dir)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    bound = ev.agg(F.expr("max(event_id) div 2").alias("l")).collect()[0].l
    assert out.where(F.col("last_lsn") > bound).count() == 0
    # Cross-check against a direct driver-side recompute: keep only
    # each user's max event at-or-under the bound, drop tombstones.
    got = {r.user_id: r for r in out.collect()}
    per_user = {}
    for r in ev.where(
        (F.col("event_id") <= bound) & F.col("user_id").isNotNull()
    ).collect():
        if r.user_id not in per_user or r.event_id > per_user[r.user_id].event_id:
            per_user[r.user_id] = r
    expect = {u: r for u, r in per_user.items() if r.event_type != "error"}
    assert set(got) == set(expect)
    for u, r in expect.items():
        assert got[u].last_lsn == r.event_id


def test_token_budget_takes_best_prefix(spark, sf_dir):
    """Selected docs form a prefix of the (n_chars desc, doc_id)
    order and stay within budget."""
    out = all_queries()["corpus_quality_token_budget"].fn(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "n_chars", F.size(F.split("text", " ")).alias("n_tokens")
    )
    total = docs.agg(F.sum("n_tokens")).collect()[0][0]
    budget = (total * 2) // 5
    sel = {r.doc_id: r for r in out.collect()}
    assert all(r.cum_tokens <= budget for r in sel.values())
    ordered = sorted(
        docs.collect(), key=lambda r: (-r.n_chars, r.doc_id)
    )
    # Model the FULL prefix, then require set equality — a subset check
    # that breaks at the first over-budget doc would let a regressed
    # cum_tokens (e.g. a per-band restart understating the running sum)
    # smuggle extra docs past the budget unnoticed.
    prefix: dict[int, int] = {}
    run = 0
    for r in ordered:
        if run + r.n_tokens > budget:
            break
        run += r.n_tokens
        prefix[r.doc_id] = run
    assert set(sel) == set(prefix)
    for doc_id, cum in prefix.items():
        assert sel[doc_id].cum_tokens == cum


def test_span_dedup_keeps_each_span_once(spark, sf_dir):
    """After span dedup, kept occurrences == distinct spans in the
    corpus (every duplicate collapsed to its first occurrence)."""
    out = all_queries()["text_span_dedup_c4"].fn(spark, sf_dir)
    kept_occurrences = out.agg(
        F.sum(F.col("n_spans") - F.col("n_removed"))
    ).collect()[0][0]
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    spans = docs.select(
        F.posexplode(
            F.expr(
                "transform(sequence(0, (size(split(text, ' ')) + 7) DIV 8 - 1),"
                " p -> array_join(slice(split(text, ' '), p * 8 + 1, 8), ' '))"
            )
        ).alias("pos", "span")
    )
    n_distinct = spans.select("span").distinct().count()
    assert kept_occurrences == n_distinct


def test_streaming_interval_join_matches_batch(spark, sf_dir):
    """The streamed inner interval join emits exactly the batch
    theta-join's pair set."""
    out = all_queries()["streaming_interval_join_drain"].fn(spark, sf_dir)
    got = {(r.p_event_id, r.s_event_id) for r in out.collect()}
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    p = ev.where("event_type = 'purchase' AND user_id IS NOT NULL").select(
        F.col("event_id").alias("p_event_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    s = ev.where("event_type = 'signup' AND user_id IS NOT NULL").select(
        F.col("event_id").alias("s_event_id"),
        F.col("user_id").alias("s_user"),
        F.col("ts").alias("s_ts"),
    )
    batch = p.join(
        s,
        (F.col("p_user") == F.col("s_user"))
        & (F.col("s_ts") >= F.col("p_ts") - F.expr("INTERVAL 2 HOURS"))
        & (F.col("s_ts") <= F.col("p_ts")),
    )
    expect = {(r.p_event_id, r.s_event_id) for r in batch.collect()}
    assert got == expect


def test_pca_projection_is_centered_and_deterministic(spark, sf_dir):
    q = all_queries()["embedding_pca_power_iteration"]
    a = q.fn(spark, sf_dir)
    n_vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    rows = a.collect()
    assert len(rows) == n_vecs
    # Projection of mean-centered data onto any direction sums to ~0.
    assert abs(sum(r.pc1 for r in rows)) < 1e-2
    b = {r.vec_id: r.pc1 for r in q.fn(spark, sf_dir).collect()}
    assert all(b[r.vec_id] == r.pc1 for r in rows)
    # 3 power iterations should already dominate any axis-aligned
    # direction (PC1 maximizes variance over unit directions).
    import statistics

    var_pc1 = statistics.pvariance([r.pc1 for r in rows])
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("embedding").cast("array<double>").alias("v")
    )
    axis_vars = emb.agg(
        *[F.var_pop(F.col("v")[i]).alias(f"v{i}") for i in range(64)]
    ).collect()[0]
    assert var_pc1 >= max(axis_vars) * 0.99


def test_containment_survivors_drop_contained_side(spark, sf_dir):
    """A doc that is >=90% contained in a partner (and not mutually)
    never survives; survivors + drops partition the corpus."""
    surv = all_queries()["dedup_containment_survivors"].fn(spark, sf_dir)
    cont = all_queries()["dedup_minhash_containment"].fn(spark, sf_dir)
    survivors = {r.doc_id for r in surv.collect()}
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert len(survivors) <= n_docs
    # Margin keeps the float-rounded containment view away from the
    # exact integer 0.9 boundary the operator tests.
    for r in cont.collect():
        a_in_b = r.containment_a >= 0.9005
        b_in_a = r.containment_b >= 0.9005
        if a_in_b and not b_in_a:
            assert r.doc_id_a not in survivors
        elif b_in_a and not a_in_b:
            assert r.doc_id_b not in survivors
        elif a_in_b and b_in_a:
            assert max(r.doc_id_a, r.doc_id_b) not in survivors


def test_cross_source_report_accounts_every_pair(spark, sf_dir):
    rep = all_queries()["corpus_cross_source_dup_report"].fn(spark, sf_dir)
    total = rep.agg(F.sum("n_dup_pairs")).collect()[0][0]
    from change_data_capture_poc_spark.queries.datapipe import (
        dedup_minhash_lsh,
    )

    assert total == dedup_minhash_lsh(spark, sf_dir).count()
    bad = rep.where(F.col("source_x") > F.col("source_y")).count()
    assert bad == 0


def test_cep_matches_have_clean_windows(spark, sf_dir):
    """Every emitted (signup, purchase) match: signup precedes the
    purchase by LSN, lies within 24h, is the LATEST such signup, and
    no error event sits between the two."""
    out = all_queries()["events_pattern_signup_purchase_cep"].fn(
        spark, sf_dir
    )
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").where(
        F.col("user_id").isNotNull()
    )
    by_user = {}
    for r in ev.collect():
        by_user.setdefault(r.user_id, []).append(r)
    for rows in by_user.values():
        rows.sort(key=lambda r: r.event_id)
    for m in out.collect():
        rows = by_user[m.user_id]
        sid = {r.event_id: r for r in rows}
        s, p = sid[m.s_event_id], sid[m.p_event_id]
        assert s.event_type == "signup" and p.event_type == "purchase"
        assert s.event_id < p.event_id
        delta = (p.ts - s.ts).total_seconds()
        assert 0 <= delta <= 86400
        assert int(delta) == m.latency_s
        between = [
            r for r in rows if s.event_id < r.event_id < p.event_id
        ]
        assert not any(r.event_type == "error" for r in between)
        later_signups = [
            r for r in rows
            if r.event_type == "signup"
            and m.s_event_id < r.event_id < m.p_event_id
            and (p.ts - r.ts).total_seconds() >= 0
            and (p.ts - r.ts).total_seconds() <= 86400
        ]
        assert not later_signups, "a later qualifying signup exists"


def test_out_of_order_report_counts_inversions(spark, sf_dir):
    out = {
        r.user_id: r
        for r in all_queries()["cdc_out_of_order_report"]
        .fn(spark, sf_dir)
        .collect()
    }
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").where(
        F.col("user_id").isNotNull()
    )
    by_user = {}
    for r in ev.collect():
        by_user.setdefault(r.user_id, []).append(r)
    for uid, rows in by_user.items():
        rows.sort(key=lambda r: r.event_id)
        inv = sum(
            1 for a, b in zip(rows, rows[1:]) if b.ts < a.ts
        )
        if inv:
            assert uid in out
            assert out[uid].n_inversions == inv
            assert out[uid].n_changes == len(rows)
        else:
            assert uid not in out


def test_js_divergence_bounds_and_symmetry_inputs(spark, sf_dir):
    """JS divergence lies in [0, 1] bits and covers every unordered
    source pair exactly once."""
    out = all_queries()["text_js_divergence_sources"].fn(spark, sf_dir)
    rows = out.collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_sources = docs.select("source").distinct().count()
    assert len(rows) == n_sources * (n_sources - 1) // 2
    for r in rows:
        assert r.source_x < r.source_y
        assert -1e-6 <= r.js_divergence_bits <= 1 + 1e-6


def test_two_stage_rerank_subset_of_ivf(spark, sf_dir):
    """The reranked top-5 per query is exactly the IVF top-5 (stage-1
    pool top-12 contains it; rerank by the same exact score)."""
    rer = all_queries()["ann_two_stage_rerank"].fn(spark, sf_dir)
    ivf = all_queries()["ann_cosine_ivf_partition"].fn(spark, sf_dir)
    got = {(r.q_id, r.neighbor_id) for r in rer.collect()}
    expect = {(r.q_id, r.neighbor_id) for r in ivf.collect()}
    assert got == expect


def test_history_compaction_drops_only_noop_updates(spark, sf_dir):
    """Compacted history: no two consecutive versions of a key carry
    the same value; every surviving version's interval tiles the key's
    LSN line."""
    out = all_queries()["scd2_history_compaction"].fn(spark, sf_dir)
    by_user = {}
    for r in out.collect():
        by_user.setdefault(r.user_id, []).append(r)
    for rows in by_user.values():
        rows.sort(key=lambda r: r.version_lsn)
        for a, b in zip(rows, rows[1:]):
            assert a.value != b.value, "no-op update survived"
            assert a.valid_to_lsn == b.version_lsn - 1, "interval gap"
        assert rows[-1].valid_to_lsn == 9223372036854775807


def test_scd3_current_previous_shape(spark, sf_dir):
    out = all_queries()["scd2_type3_current_previous"].fn(spark, sf_dir)
    rows = out.collect()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").where(
        F.col("user_id").isNotNull()
    )
    assert len(rows) == ev.select("user_id").distinct().count()
    for r in rows:
        assert r.current_lsn is not None
        if r.previous_lsn is not None:
            assert r.previous_lsn < r.current_lsn


def test_kmeans_multi_iter_improves_on_one_iter(spark, sf_dir):
    """3 Lloyd iterations never increase within-cluster SSE vs 1
    (Lloyd's algorithm is monotone; rounding noise gets a margin)."""
    import math

    def sse(centroid_rows):
        # rebuild centroids, assign all vectors, sum distances
        cents = {}
        for r in centroid_rows:
            cents.setdefault(r.cluster_id, {})[r.dim] = r.centroid_val
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
        total = 0.0
        for v in emb:
            e = [float(x) for x in v.embedding]
            best = min(
                sum(
                    (e[i - 1] - c[i]) ** 2 for i in range(1, len(e) + 1)
                )
                for c in cents.values()
            )
            total += best
        return total

    one = all_queries()["kmeans_one_iter"].fn(spark, sf_dir).collect()
    multi = all_queries()["kmeans_multi_iter"].fn(spark, sf_dir).collect()
    assert sse(multi) <= sse(one) * 1.001


def test_cluster_histogram_conserves_docs(spark, sf_dir):
    """Histogram mass equals the clustered-doc count; min size 2."""
    hist = all_queries()["dedup_cluster_size_histogram"].fn(spark, sf_dir)
    rows = hist.collect()
    comps = all_queries()["dedup_cluster_label_propagation"].fn(
        spark, sf_dir
    )
    assert sum(r.n_docs for r in rows) == comps.count()
    for r in rows:
        assert r.cluster_size >= 2
        assert r.n_docs == r.cluster_size * r.n_clusters


def test_shard_manifest_balanced_and_complete(spark, sf_dir):
    out = all_queries()["corpus_shard_manifest"].fn(spark, sf_dir)
    rows = out.collect()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert sum(r.n_docs for r in rows) == n_docs
    counts = [r.n_docs for r in rows]
    assert max(counts) - min(counts) <= 1, "round-robin imbalance"


def test_ks_drift_statistic_bounds(spark, sf_dir):
    out = all_queries()["events_ks_drift_halves"].fn(spark, sf_dir)
    r = out.collect()[0]
    assert 0 <= r.ks_statistic <= 1 + 1e-6
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").where(
        F.col("value").isNotNull()
    )
    assert r.n_first + r.n_second == ev.count()


def test_boilerplate_spans_are_really_repeated(spark, sf_dir):
    out = all_queries()["text_boilerplate_top_spans"].fn(spark, sf_dir)
    rows = out.collect()
    assert len(rows) <= 20
    for r in rows:
        assert r.n_occurrences >= 2
        assert 1 <= r.n_docs <= r.n_occurrences
    occ = [r.n_occurrences for r in rows]
    assert occ == sorted(occ, reverse=True)


def test_misra_gries_partitioning_independent(spark, sf_dir):
    """The heavy-hitter OUTPUT must be exact regardless of how the token
    stream is partitioned: MG survivors are a candidate superset whose
    exact rescan applies the threshold, so 1-partition and 16-partition
    runs agree (the sketch state differs; the answer must not)."""
    from change_data_capture_poc_spark.operators.sketch import (
        MG_K,
        mg_candidates,
        mg_heavy_hitters,
    )
    from change_data_capture_poc_spark.registry import all_queries

    q = all_queries()["text_heavy_hitters_misra_gries"]
    base = {(r.tok, r.cnt) for r in q.fn(spark, sf_dir).collect()}
    assert base  # sf data has heavy tokens

    # Same computation with the token stream forced through different
    # partitionings.
    toks = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.explode(F.split("text", " ")).alias("tok"))
    )
    for parts in (1, 16):
        t = toks.repartition(parts)
        got = {
            (r.tok, r.cnt)
            for r in mg_heavy_hitters(
                t, mg_candidates(t).distinct()
            ).collect()
        }
        assert got == base, f"partitioning {parts} changed the answer"

    # The corpus vocabulary is smaller than MG_K, so the counters never
    # fill above; this stream has 5 x MG_K distinct light tokens with
    # the heavy ones arriving after the counters are full, so they only
    # survive if the fold evicts. Order is kept: one input partition.
    stream = (
        [f"light{i}" for i in range(5 * MG_K)]
        + ["heavy_a", "heavy_b"] * 40
        + [f"late{i}" for i in range(MG_K)]
    )
    n = len(stream)
    counts = {tok: stream.count(tok) for tok in set(stream)}
    expected = {(tok, c) for tok, c in counts.items() if c > n / MG_K}
    assert {tok for tok, _ in expected} == {"heavy_a", "heavy_b"}
    df = spark.createDataFrame([(tok,) for tok in stream], "tok string")
    cand = mg_candidates(df.coalesce(1))
    survivors = [r.tok for r in cand.collect()]
    assert len(survivors) <= MG_K  # bounded state
    got = {(r.tok, r.cnt) for r in mg_heavy_hitters(df, cand).collect()}
    assert got == expected


def test_streaming_heavy_hitters_equals_batch(spark, sf_dir):
    """The stream twin drains Misra-Gries candidates per micro-batch
    and finishes with the batch rescan, so its rows equal the batch
    query's rows exactly."""
    from change_data_capture_poc_spark.registry import all_queries

    def rows(name):
        return sorted(
            (r.tok, r.cnt)
            for r in all_queries()[name].fn(spark, sf_dir).collect()
        )

    batch = rows("text_heavy_hitters_misra_gries")
    assert batch
    assert rows("streaming_heavy_hitters_drain") == batch


def test_streaming_minhash_band_drain_equals_batch(spark, sf_dir):
    """The stream shingles, signs and bands each document with the
    batch code of operators/minhash.py, so its drained bucket
    occupancy equals a batch groupBy over the same bands of
    documents, keeping buckets with at least two docs."""
    from change_data_capture_poc_spark.operators.minhash import (
        spark_bands,
        spark_grams,
    )
    from change_data_capture_poc_spark.sources.tables import load_table

    batch = sorted(
        tuple(r)
        for r in spark_bands(
            spark_grams(load_table(spark, sf_dir, "documents"))
        )
        .groupBy("band_id", "band_key")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("earliest_doc"),
        )
        .where(F.col("n_docs") >= 2)
        .collect()
    )
    assert batch
    drained = all_queries()["streaming_minhash_band_drain"].fn(spark, sf_dir)
    assert drained.columns == ["band_id", "band_key", "n_docs", "earliest_doc"]
    assert sorted(tuple(r) for r in drained.collect()) == batch


def test_temperature_resample_allocation(spark, sf_dir):
    """Largest-remainder targets: sum exactly equals the budget, every
    source gets >= its floor quota, and temperature flattens the mix
    (smallest source's share strictly rises, largest's falls)."""
    from change_data_capture_poc_spark.queries.pipeline3_q import (
        _RESAMPLE_BUDGET,
        corpus_temperature_resample,
    )

    rows = {r.source: r for r in
            corpus_temperature_resample(spark, sf_dir).collect()}
    assert sum(r.target_docs for r in rows.values()) == _RESAMPLE_BUDGET
    smallest = min(rows.values(), key=lambda r: r.n_docs)
    largest = max(rows.values(), key=lambda r: r.n_docs)
    if smallest.n_docs < largest.n_docs:  # degenerate equal-mix guard
        assert smallest.q_share > smallest.n_share
        assert largest.q_share < largest.n_share
    for r in rows.values():
        # target never drifts below the floor quota or above floor+1
        assert abs(r.target_docs - _RESAMPLE_BUDGET * r.q_share) <= 1.01


def test_quality_calibration_bins(spark, sf_dir):
    """Calibration rows: bins within [0,9], doc counts cover the whole
    corpus exactly once, gap is |mean_score - rule_pass_rate|."""
    from change_data_capture_poc_spark.queries.datapipe import (
        eval_quality_score_calibration,
    )

    rows = eval_quality_score_calibration(spark, sf_dir).collect()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert sum(r.n_docs for r in rows) == n_docs
    for r in rows:
        assert 0 <= r.bin <= 9
        assert 0.0 <= r.mean_score <= 1.0
        assert 0.0 <= r.rule_pass_rate <= 1.0
        assert abs(r.gap - abs(r.mean_score - r.rule_pass_rate)) < 2e-6
