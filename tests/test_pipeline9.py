"""Round-9 operators: corpus BPE encode, ANN index build/serve split,
best-fit packing, quarantine report."""

from __future__ import annotations

from pyspark.sql import functions as F

from change_data_capture_poc_spark.registry import all_queries


# ---------------------------------------------------------------------------
# Pure-Python BPE reference (Sennrich et al. 2016 semantics)
# ---------------------------------------------------------------------------


def _py_bpe_train(word_counts: dict[str, int], rounds: int):
    """(merges, final_vocab): greedy trainer with the engine's exact
    tiebreak — count desc, then (left, right) lexicographically asc."""
    vocab = {w: [c for c in w] for w in word_counts}
    merges = []
    for _ in range(rounds):
        pairs: dict[tuple[str, str], int] = {}
        for w, toks in vocab.items():
            for i in range(len(toks) - 1):
                p = (toks[i], toks[i + 1])
                pairs[p] = pairs.get(p, 0) + word_counts[w]
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        l, r = best
        for w, toks in vocab.items():
            out, i = [], 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == l and toks[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            vocab[w] = out
    return merges, vocab


def test_bpe_encode_roundtrip_vs_pure_python(spark, tmp_path):
    """The relational corpus encode must equal a sequential-fold BPE
    encode word for word — including self-pair runs ('aaaa' under an
    (a,a) merge -> greedy keeps every other position) and multi-space
    word positions."""
    texts = [
        (1, "aaaa aaa banana bandana"),
        (2, "low lower lowest  low"),  # double space: word_pos gap
        (3, "aa aa aa banana low"),
        (4, "x"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )

    # Pure-Python expectation.
    wc: dict[str, int] = {}
    for _, t in texts:
        for w in t.split(" "):
            if w:
                wc[w] = wc.get(w, 0) + 1
    _merges, vocab = _py_bpe_train(wc, 3)
    syms = sorted({s for toks in vocab.values() for s in toks})
    tid = {s: i for i, s in enumerate(syms)}
    expected = set()
    for doc_id, t in texts:
        for word_pos, w in enumerate(t.split(" ")):
            if not w:
                continue
            for tok_idx, s in enumerate(vocab[w]):
                expected.add((doc_id, word_pos, tok_idx, s, tid[s]))

    q = all_queries()["bpe_encode_corpus"]
    got = {tuple(r) for r in q.fn(spark, str(tmp_path)).collect()}
    spark.catalog.clearCache()
    assert got == expected

    # The shared doc -> word stream itself: every encoder inner-joins
    # it to a word table, which would hide an empty word it let through.
    from change_data_capture_poc_spark.operators.subword import doc_words

    docs = spark.read.parquet(str(tmp_path / "documents.parquet"))
    assert {tuple(r) for r in doc_words(docs).collect()} == {
        (doc_id, word_pos, w)
        for doc_id, t in texts
        for word_pos, w in enumerate(t.split(" "))
        if w
    }


def test_ann_serve_reads_only_index_tables(spark, sf_dir):
    """The production split's contract: after the offline build, the
    serve plan's file scans touch ONLY the persisted index tables
    (codebook/codes/queries parquet) — never the embeddings table.
    Also pins the serve answer against the composed in-one-plan
    recall query's prediction machinery: top-1 neighbor ids agree."""
    from change_data_capture_poc_spark.functions.artifacts import artifact_dir
    from change_data_capture_poc_spark.queries.pipeline9_q import (
        ensure_ann_index,
    )

    ensure_ann_index(spark, sf_dir, force=True)
    df = all_queries()["ann_serve_from_index"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "embeddings.parquet" not in plan, plan
    assert artifact_dir("ann_index", sf_dir).split("/")[-1] in plan

    rows = df.collect()
    assert len(rows) == 8 * 5
    for r in rows:
        assert 1 <= r.rk <= 5 and r.adc_dist >= 0
    # Serving is idempotent: a second call re-uses the index (marker
    # hit) and returns the identical answer set.
    again = {
        tuple(r)
        for r in all_queries()["ann_serve_from_index"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert again == {tuple(r) for r in rows}


def test_pack_best_fit_invariants(spark, sf_dir, tmp_path):
    """Packing guarantees: every doc placed exactly once, slots fit
    the class capacity, every FULL bin is more than half full, the
    harmonic waste bound n_bins <= 2*ceil(total/L) + part-full-groups
    holds per lang, and bin count is MONOTONE under corpus growth."""
    from change_data_capture_poc_spark.queries.pipeline9_q import (
        _PACK_L,
        _pack_assignment,
    )

    a = _pack_assignment(spark, sf_dir).collect()
    docs = [r.doc_id for r in a]
    assert len(docs) == len(set(docs))

    bins: dict[tuple, list] = {}
    for r in a:
        cap = 1 if r.size_class == -1 else (1 << r.size_class)
        assert 0 <= r.slot < cap
        assert r.n_chars <= (
            r.n_chars if r.size_class == -1 else _PACK_L >> r.size_class
        )
        bins.setdefault(
            (r.lang, r.size_class, r.band, r.bin_id), []
        ).append(r)
    per_lang_bins: dict[str, int] = {}
    per_lang_chars: dict[str, int] = {}
    part_full_groups: dict[str, int] = {}
    for (lang, k, band, bin_id), rows in bins.items():
        cap = 1 if k == -1 else (1 << k)
        chars = sum(r.n_chars for r in rows)
        assert chars <= max(_PACK_L, max(r.n_chars for r in rows))
        if len(rows) == cap:  # full bin -> more than half full
            assert chars * 2 > _PACK_L or k == -1
        else:
            part_full_groups[lang] = part_full_groups.get(lang, 0) + 1
        per_lang_bins[lang] = per_lang_bins.get(lang, 0) + 1
        per_lang_chars[lang] = per_lang_chars.get(lang, 0) + chars
    for lang, nb in per_lang_bins.items():
        opt_lb = -(-per_lang_chars[lang] // _PACK_L)
        assert nb <= 2 * opt_lb + part_full_groups.get(lang, 0), lang

    # Monotonicity: a superset corpus never needs fewer bins.
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    half = d.where(F.col("doc_id") % 2 == 0)
    for name, frame in (("half", half), ("full", d)):
        frame.write.mode("overwrite").parquet(
            str(tmp_path / name / "documents.parquet")
        )
    q = all_queries()["pack_fill_rate_report"]
    nb_half = {
        r.lang: r.n_bins for r in q.fn(spark, str(tmp_path / "half")).collect()
    }
    nb_full = {
        r.lang: r.n_bins for r in q.fn(spark, str(tmp_path / "full")).collect()
    }
    for lang in nb_half:
        assert nb_half[lang] <= nb_full[lang]


def test_cache_contract_pins_and_releases(spark, sf_dir):
    """Round-9 cache contract: a persist-reliant query pins via
    persist_once (warm re-run adds NO new pins — the 'already cached'
    warning source is gone by construction), release_pins drops
    exactly the engine's pins, and the CacheManager ends empty."""
    from change_data_capture_poc_spark.functions.caching import (
        engine_cache_is_clean,
        pinned_count,
        release_pins,
    )

    release_pins(spark)
    spark.catalog.clearCache()
    q = all_queries()["dedup_minhash_lsh"]

    q.fn(spark, sf_dir).count()
    first = pinned_count(spark)
    assert first >= 1  # the query is persist-reliant

    q.fn(spark, sf_dir).count()  # warm re-run: identical plan
    assert pinned_count(spark) == first  # no re-pin, no warning

    released = release_pins(spark)
    assert released == first
    assert pinned_count(spark) == 0
    assert engine_cache_is_clean(spark)


def test_free_local_checkpoint_drops_blocks(spark):
    """Round-11 cache-contract extension: iterative trainers
    re-checkpoint per round; free_local_checkpoint must actually drop
    the superseded rounds' RDD blocks (release_pins only covers
    persist_once pins — without this the EM trainer leaked a block
    set per round for the session lifetime)."""
    import time

    from change_data_capture_poc_spark.functions.caching import (
        free_local_checkpoint,
    )

    sc = spark.sparkContext

    def n_cached() -> int:
        return len(sc._jsc.sc().getRDDStorageInfo())

    base = n_cached()
    df = spark.range(1000).selectExpr("id", "id * 2 AS v").localCheckpoint()
    assert df.count() == 1000
    assert n_cached() >= base + 1  # the checkpoint holds blocks
    free_local_checkpoint(df)
    for _ in range(50):  # unpersist is non-blocking
        if n_cached() <= base:
            break
        time.sleep(0.1)
    assert n_cached() <= base


def test_multiprobe_sampled_truth_agrees_with_exact(spark):
    """Calibration for the cheap multiprobe gate (the round-8 SCALING
    row this query retires): at sf0.01 the sampled-truth multiprobe
    recall per query tracks the exact full-corpus multiprobe recall,
    and the CI arithmetic behaves (0 exactly at p in {0,1})."""
    qs = all_queries()
    sf01 = "/root/testdata/sf0.01"
    exact = {
        r.q_id: r["recall_at_5"]
        for r in qs["ann_ivf_multiprobe_recall"].fn(spark, sf01).collect()
    }
    sampled_rows = (
        qs["ann_multiprobe_recall_sampled_truth"].fn(spark, sf01).collect()
    )
    spark.catalog.clearCache()
    sampled = {r.q_id: r.recall_sampled for r in sampled_rows}
    assert set(exact) == set(sampled) and exact
    mean_abs = sum(abs(exact[k] - sampled[k]) for k in exact) / len(exact)
    assert mean_abs <= 0.25, (exact, sampled)
    for r in sampled_rows:
        assert 1 <= r.n_truth <= 5
        if r.recall_sampled in (0.0, 1.0):
            assert r.ci95_halfwidth <= 1e-6
        else:
            assert r.ci95_halfwidth > 0


def test_quarantine_report_counts_match_damage_rule(spark, sf_dir):
    """The tolerant reader + raw-text classifier must reproduce the
    deterministic damage rule exactly: per-reason totals equal the
    modular arithmetic on event_id (truncation wins the overlap), and
    the split is lossless (every line lands in exactly one bucket)."""
    from change_data_capture_poc_spark.queries.pipeline9_q import (
        _QUAR_GARBLE_MOD,
        _QUAR_GARBLE_REM,
        _QUAR_TRUNC_MOD,
    )
    from change_data_capture_poc_spark.sources.tables import load_table

    rep = all_queries()["cdc_quarantine_report"].fn(spark, sf_dir)
    tot = rep.agg(
        F.sum("n_lines").alias("n"),
        F.sum("n_ok").alias("ok"),
        F.sum("n_truncated").alias("tr"),
        F.sum("n_not_json").alias("nj"),
    ).first()

    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    trunc = F.col("event_id") % _QUAR_TRUNC_MOD == 0
    garble = F.col("event_id") % _QUAR_GARBLE_MOD == _QUAR_GARBLE_REM
    exp = ev.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(trunc.cast("long")).alias("tr"),
        F.sum((~trunc & garble).cast("long")).alias("nj"),
    ).first()

    assert tot.n == exp.n
    assert tot.tr == exp.tr > 0
    assert tot.nj == exp.nj > 0
    assert tot.ok == exp.n - exp.tr - exp.nj
    assert tot.ok + tot.tr + tot.nj == tot.n  # lossless split


def test_quarantine_ok_rows_parse_with_intact_lsn(spark, sf_dir):
    """Undamaged lines must parse into the full envelope shape: the
    recovered lsn set is exactly the undamaged event_id set (no
    silent drops, no partial parses counted as ok)."""
    from pyspark.sql import types as T

    from change_data_capture_poc_spark.queries.pipeline9_q import (
        _QUAR_GARBLE_MOD,
        _QUAR_GARBLE_REM,
        _QUAR_TRUNC_MOD,
        ensure_quarantine_log,
    )
    from change_data_capture_poc_spark.sources.readers import (
        read_envelope_log_tolerant,
    )
    from change_data_capture_poc_spark.sources.tables import load_table

    d = ensure_quarantine_log(spark, sf_dir)
    raw = read_envelope_log_tolerant(
        spark,
        d,
        [
            T.StructField("id", T.LongType()),
            T.StructField("etype", T.StringType()),
        ],
    ).cache()
    try:
        ok = raw.where(F.col("_corrupt_record").isNull())
        got = {
            r.lsn
            for r in ok.select(
                F.col("payload.source.lsn").alias("lsn")
            ).collect()
        }
        ev = load_table(spark, sf_dir, "events").where(
            F.col("user_id").isNotNull()
        )
        want = {
            r.event_id
            for r in ev.where(
                (F.col("event_id") % _QUAR_TRUNC_MOD != 0)
                & (
                    F.col("event_id") % _QUAR_GARBLE_MOD
                    != _QUAR_GARBLE_REM
                )
            )
            .select("event_id")
            .collect()
        }
        assert got == want
    finally:
        raw.unpersist()


def test_delta_serve_equals_full_serve(spark, sf_dir):
    """Merge transparency: the persisted-base ∪ fresh-delta serve must
    answer EXACTLY what the full-index serve answers (PQ codes are
    deterministic in codebook + vector, so the merged code table is
    the full build bit for bit)."""
    qs = all_queries()
    full = qs["ann_serve_from_index"].fn(spark, sf_dir)
    delta = qs["ann_index_delta_serve"].fn(spark, sf_dir)
    assert full.exceptAll(delta).count() == 0
    assert delta.exceptAll(full).count() == 0


def test_delta_serve_scan_pruning(spark, sf_dir):
    """The incremental serve must read the persisted code table below
    the watermark (pushed range filter) and raw embeddings only above
    it — never a full embeddings scan."""
    from change_data_capture_poc_spark.plans.inspect import (
        formatted_plan,
        pushed_filters,
    )

    df = all_queries()["ann_index_delta_serve"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    pushed = " | ".join(pushed_filters(df, plan))
    assert "LessThanOrEqual(vec_id" in pushed  # base codes pruned
    assert "GreaterThan(vec_id" in pushed      # delta range-pruned


def test_gdpr_erasure_conservation_and_cohort(spark, sf_dir):
    """Conservation law: ledger-purged versions + purged-dim retained
    versions == the full history row count, and the ledger cohort is
    exactly the work queue's `erasable` user set (gdpr_erasure_audit
    in cdc_ops_q) — the three queries tell one consistent story."""
    from change_data_capture_poc_spark.queries.pipeline9_q import (
        _gdpr_cohort,
    )
    from change_data_capture_poc_spark.sources.tables import load_table

    qs = all_queries()
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    total = ev.count()
    retained = qs["gdpr_erasure_purged_dim"].fn(spark, sf_dir).count()
    purged = (
        qs["gdpr_erasure_ledger"].fn(spark, sf_dir)
        .agg(F.sum("n_versions_purged"))
        .first()[0]
        or 0
    )
    assert retained + purged == total

    cohort = {
        r.user_id for r in _gdpr_cohort(spark, sf_dir).collect()
    }
    erasable = {
        r.user_id
        for r in qs["gdpr_erasure_audit"].fn(spark, sf_dir)
        .where("erasable")
        .collect()
    }
    assert cohort == erasable
    assert cohort  # non-trivial at every SF


def test_quarantine_replay_recovers_exactly_the_garbled_lines(
    spark, sf_dir
):
    """Replay recovers every transport-prefixed line (strip + re-parse
    succeeds) and none of the truncated ones; recovered + dead ==
    quarantined, day by day."""
    from change_data_capture_poc_spark.queries.pipeline9_q import (
        _QUAR_GARBLE_MOD,
        _QUAR_GARBLE_REM,
        _QUAR_TRUNC_MOD,
    )
    from change_data_capture_poc_spark.sources.tables import load_table

    rep = all_queries()["cdc_quarantine_replay"].fn(spark, sf_dir)
    rows = rep.collect()
    assert all(
        r.n_recovered + r.n_dead == r.n_quarantined for r in rows
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    trunc = F.col("event_id") % _QUAR_TRUNC_MOD == 0
    garble = F.col("event_id") % _QUAR_GARBLE_MOD == _QUAR_GARBLE_REM
    exp = ev.agg(
        F.sum((~trunc & garble).cast("long")).alias("rec"),
        F.sum(trunc.cast("long")).alias("dead"),
    ).first()
    assert sum(r.n_recovered for r in rows) == exp.rec
    assert sum(r.n_dead for r in rows) == exp.dead


def test_quarantine_log_regenerates_when_source_changes(
    spark, sf_dir, tmp_sf
):
    """Staleness guard: per-SF /tmp artifacts outlive testdata
    regeneration at the same path. A changed source fingerprint
    (size/mtime) must trigger a rebuild; an unchanged one must not."""
    import json
    import os
    import shutil

    from change_data_capture_poc_spark.functions.artifacts import (
        MARKER,
        artifact_dir,
    )
    from change_data_capture_poc_spark.queries.pipeline9_q import (
        ensure_quarantine_log,
    )

    my_sf = tmp_sf
    shutil.copy(
        os.path.join(sf_dir, "events.parquet"),
        os.path.join(my_sf, "events.parquet"),
    )
    d = ensure_quarantine_log(spark, my_sf)
    marker = os.path.join(artifact_dir("quarlog", my_sf), MARKER)
    with open(marker) as fh:
        fp1 = json.load(fh)["fp"]

    # Unchanged source: marker (and its mtime) stay put.
    m1 = os.path.getmtime(marker)
    assert ensure_quarantine_log(spark, my_sf) == d
    assert os.path.getmtime(marker) == m1

    # "Regenerated" source (new mtime): rebuild, new fingerprint.
    os.utime(os.path.join(my_sf, "events.parquet"))
    ensure_quarantine_log(spark, my_sf)
    with open(marker) as fh:
        fp2 = json.load(fh)["fp"]
    assert fp2 != fp1


def test_bpe_encode_from_vocab_matches_and_skips_trainer(spark, sf_dir):
    """Tokenizer train/serve split: the from-artifact encoder equals
    the in-plan encoder row for row, and its plan scans documents
    exactly ONCE (the corpus pass) plus the two artifact tables — the
    trainer cascade is provably absent (the in-plan encoder's plan
    scans documents more than once because it embeds training)."""
    from change_data_capture_poc_spark.functions.artifacts import artifact_dir
    from change_data_capture_poc_spark.queries.pipeline9_q import (
        ensure_bpe_vocab,
    )

    ensure_bpe_vocab(spark, sf_dir, force=True)
    qs = all_queries()
    art = qs["bpe_encode_from_vocab"].fn(spark, sf_dir)
    plan = art._jdf.queryExecution().executedPlan().toString()
    assert plan.count("documents.parquet") == 1, plan
    assert artifact_dir("bpe_vocab", sf_dir).split("/")[-1] in plan

    inplan = qs["bpe_encode_corpus"].fn(spark, sf_dir)
    assert (
        inplan._jdf.queryExecution().executedPlan().toString()
        .count("documents.parquet")
        > 1
    )
    assert art.exceptAll(inplan).count() == 0
    assert inplan.exceptAll(art).count() == 0


def test_unigram_soft_em_expected_counts_vs_pure_python(spark, sf_dir):
    """The soft e-step must reproduce a pure-Python forward-backward
    over the same trained model: per-piece expected counts equal to
    1e-6 absolute, totals equal, and the expected token count per
    word never below 1 (every word emits at least one piece)."""
    import os

    from change_data_capture_poc_spark.operators.subword import MAX_PIECE
    from change_data_capture_poc_spark.queries.pipeline9_q import (
        ensure_unigram_vocab,
        unigram_em_expected_counts,
    )
    from change_data_capture_poc_spark.sources.tables import load_table

    d = ensure_unigram_vocab(spark, sf_dir, force=True)
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(d, "vocab.parquet")).to_pydict()
    z = float(sum(t["cnt"]))
    p = {tok: c / z for tok, c in zip(t["token"], t["cnt"])}

    words = {
        r["w"]: r["count"]
        for r in load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .count()
        .collect()
    }

    def fb(w):
        L = len(w)
        a = [0.0] * (L + 1)
        a[0] = 1.0
        for j in range(1, L + 1):
            a[j] = sum(
                p[w[j - l: j]] * a[j - l]
                for l in range(1, min(MAX_PIECE, j) + 1)
                if w[j - l: j] in p
            )
        b = [0.0] * (L + 1)
        b[L] = 1.0
        for j in range(L - 1, -1, -1):
            b[j] = sum(
                p[w[j: j + l]] * b[j + l]
                for l in range(1, min(MAX_PIECE, L - j) + 1)
                if w[j: j + l] in p
            )
        return a, b

    ref: dict[str, float] = {}
    for w, n in words.items():
        a, b = fb(w)
        L = len(w)
        for s in range(L):
            for l in range(1, min(MAX_PIECE, L - s) + 1):
                tok = w[s: s + l]
                if tok in p:
                    ref[tok] = (
                        ref.get(tok, 0.0)
                        + n * a[s] * p[tok] * b[s + l] / a[L]
                    )

    got = {
        r["token"]: r["expected_cnt"]
        for r in unigram_em_expected_counts(spark, sf_dir).collect()
    }
    assert set(got) == {t for t, e in ref.items() if e > 0}
    for tok, e in ref.items():
        assert abs(got[tok] - e) < 1e-4, tok
    # soft total tokens >= n words: every word emits >= 1 piece
    assert sum(got.values()) >= sum(words.values()) - 1e-3


def test_artifact_dirs_honor_probe_namespace(monkeypatch):
    """SPARK_GRAFT_TMP_NS must re-key every artifact directory: a
    harness that monkeypatches the table loader (the scale probe's 8x
    self-union) builds into its own namespace instead of poisoning
    the artifacts real runs serve from (the round-10 incident:
    probing the unigram trainer force-persisted a rotated-corpus
    model under the real corpus's still-valid file fingerprint)."""
    from change_data_capture_poc_spark.functions.artifacts import (
        artifact_dir,
    )

    monkeypatch.delenv("SPARK_GRAFT_TMP_NS", raising=False)
    real = artifact_dir("uni_vocab", "/root/testdata/sf0.1")
    monkeypatch.setenv("SPARK_GRAFT_TMP_NS", "scaleprobe")
    probed = artifact_dir("uni_vocab", "/root/testdata/sf0.1")
    assert real != probed
    assert real.startswith("/tmp/spark_graft_uni_vocab_")
    assert probed.startswith("/tmp/spark_graft_uni_vocab_")


def test_unigram_encode_serves_from_artifact(spark, sf_dir):
    """Unigram train/serve split: the encoder's plan scans documents
    exactly ONCE (the corpus pass — the word table feeding the fold
    is derived from that same scan via persist_once) plus the
    persisted vocab parquet; the two EM training rounds are provably
    absent (each would add its own cost-table lineage). The oracle
    replays the full EM chain, so correctness of the artifact is
    already gated; here we pin the plan shape."""
    from change_data_capture_poc_spark.functions.artifacts import artifact_dir
    from change_data_capture_poc_spark.queries.pipeline9_q import (
        ensure_unigram_vocab,
    )

    ensure_unigram_vocab(spark, sf_dir, force=True)
    df = all_queries()["unigram_viterbi_encode"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # corpus scan + word-table scan (+1 pre-cache duplicate before
    # persist_once materializes); the EM rounds would each add their
    # own word-table lineage on top
    assert plan.count("documents.parquet") <= 3, plan
    assert artifact_dir("uni_vocab", sf_dir).split("/")[-1] in plan


def test_ivm_maintenance_reads_snapshot_plus_pruned_delta(
    spark, sf_dir
):
    """The IVM contract in the plan: maintenance reads the persisted
    snapshot table plus an events scan whose delta predicate
    (event_id > T) is PUSHED into the parquet reader — history is
    never rescanned. Result equality with the full recompute is the
    oracle's job; here we also pin it against a direct groupBy."""
    from change_data_capture_poc_spark.plans.inspect import (
        formatted_plan,
        pushed_filters,
    )
    from change_data_capture_poc_spark.functions.artifacts import artifact_dir
    from change_data_capture_poc_spark.queries.pipeline9_q import (
        ensure_agg_snapshot,
    )
    from change_data_capture_poc_spark.sources.tables import load_table

    ensure_agg_snapshot(spark, sf_dir, force=True)
    df = all_queries()["cdc_incremental_agg_maintenance"].fn(
        spark, sf_dir
    )
    plan = formatted_plan(df)
    assert artifact_dir("aggsnap", sf_dir).split("/")[-1] in plan
    assert "GreaterThan(event_id" in " | ".join(
        pushed_filters(df, plan)
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    direct = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(F.sum("value") + F.lit(1e-9), 6).alias("value_sum"),
    )
    assert df.exceptAll(direct).count() == 0
    assert direct.exceptAll(df).count() == 0


def test_ivm_merge_preserves_all_null_sum(spark, tmp_sf):
    """SUM ignores NULLs: a key whose values are ALL NULL must stay
    NULL through the snapshot+delta merge (coalescing both sides to
    0.0 would silently report 0.0 where the recompute says NULL)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import os

    sf = tmp_sf
    # user 1: all-null values split across both halves; user 2: mixed.
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2, 3, 4], type=pa.int64()),
            "ts": pa.array([1_700_000_000_000_000 + i for i in range(4)],
                           type=pa.timestamp("us")),
            "user_id": pa.array([1, 2, 1, 2], type=pa.int64()),
            "event_type": pa.array(["click"] * 4),
            "value": pa.array([None, 1.5, None, 2.25], type=pa.float64()),
            "props": pa.array(["{}"] * 4),
        }
    )
    pq.write_table(tbl, os.path.join(sf, "events.parquet"))

    out = {
        r.user_id: (r.n_events, r.value_sum)
        for r in all_queries()["cdc_incremental_agg_maintenance"]
        .fn(spark, sf)
        .collect()
    }
    assert out[1] == (2, None)
    assert out[2][0] == 2 and abs(out[2][1] - 3.75) < 1e-6


def test_compact_generation_equals_build(spark, sf_dir):
    """Compaction transparency: folding the post-watermark delta into
    generation 2 must reproduce the from-scratch build exactly (PQ
    codes are deterministic in codebook + vector), and generation 1
    must survive untouched so serving continues mid-compaction."""
    import os

    from change_data_capture_poc_spark.functions.artifacts import artifact_dir
    from change_data_capture_poc_spark.queries.pipeline9_q import (
        ensure_ann_index,
    )

    qs = all_queries()
    d, _ = ensure_ann_index(spark, sf_dir)
    g1_before = sorted(
        os.listdir(os.path.join(d, "codes.parquet"))
    )
    g2 = qs["ann_index_compact"].fn(spark, sf_dir)
    g1 = spark.read.parquet(os.path.join(d, "codes.parquet")).select(
        *g2.columns
    )
    assert g2.exceptAll(g1).count() == 0
    assert g1.exceptAll(g2).count() == 0
    assert d == artifact_dir("ann_index", sf_dir)
    assert sorted(
        os.listdir(os.path.join(d, "codes.parquet"))
    ) == g1_before


def test_detokenize_roundtrip_is_lossless(spark, sf_dir):
    """Decode must invert encode for EVERY document: the reassembled
    text equals the whitespace-normalized source (the tokenizer's
    pre-tokenization), and no document with at least one word is
    dropped or duplicated."""
    qs = all_queries()
    rt = qs["bpe_detokenize_roundtrip"].fn(spark, sf_dir)

    from change_data_capture_poc_spark.sources.tables import load_table

    words = F.filter(F.split("text", " "), lambda w: w != "")
    expected = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.array_join(words, " ").alias("text_exp"),
            F.size(words).cast("long").alias("n_words_exp"),
        )
        .where(F.col("n_words_exp") > 0)
    )
    j = rt.join(expected, "doc_id", "full_outer")
    assert j.where(
        F.col("text_rt").isNull()
        | F.col("text_exp").isNull()
        | (F.col("text_rt") != F.col("text_exp"))
        | (F.col("n_words") != F.col("n_words_exp"))
    ).count() == 0


def test_pack_emit_manifest_invariants(spark, sf_dir):
    """Per-bin manifest laws: the slot-ordered id list carries exactly
    n_docs entries, occupancy + padding equals capacity for sized
    classes (padding is zero for oversize singletons), and the
    manifests partition the assignment (every doc appears in exactly
    one manifest)."""
    from change_data_capture_poc_spark.queries.pipeline9_q import (
        _PACK_L,
        _pack_assignment,
    )

    qs = all_queries()
    seqs = qs["pack_emit_sequences"].fn(spark, sf_dir)
    bad = seqs.where(
        (F.size(F.split("doc_ids", ",")) != F.col("n_docs"))
        | (
            (F.col("size_class") >= 0)
            & (F.col("seq_chars") + F.col("n_pad") != F.lit(_PACK_L))
        )
        | ((F.col("size_class") == -1) & (F.col("n_pad") != 0))
        | (F.col("n_pad") < 0)
    )
    assert bad.count() == 0

    n_assigned = _pack_assignment(spark, sf_dir).count()
    n_manifest = (
        seqs.agg(F.sum("n_docs").cast("long")).first()[0]
    )
    n_distinct = (
        seqs.select(
            F.explode(F.split("doc_ids", ",")).alias("doc_id")
        )
        .distinct()
        .count()
    )
    assert n_manifest == n_assigned
    assert n_distinct == n_assigned


def _wordpiece_model(spark, sf_dir, permille):
    """(word counts, greedy longest-match in Python) under the engine's
    vocabulary rule: every character, plus each 2..MAX_PIECE substring
    whose occurrence-weighted frequency reaches ``permille``."""
    from change_data_capture_poc_spark.operators.subword import MAX_PIECE
    from change_data_capture_poc_spark.sources.tables import load_table

    words = {}
    for r in (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .count()
        .collect()
    ):
        words[r["w"]] = r["count"]

    total = sum(words.values())
    freq: dict[str, int] = {}
    vocab = set()
    for w, n in words.items():
        for i in range(len(w)):
            vocab.add(w[i])  # chars always admitted
        for l in range(2, MAX_PIECE + 1):
            for i in range(len(w) - l + 1):
                t = w[i : i + l]
                freq[t] = freq.get(t, 0) + n
    vocab |= {t for t, f in freq.items() if f * 1000 >= total * permille}

    def maxmatch(w: str) -> list[str]:
        out, i = [], 0
        while i < len(w):
            for l in range(MAX_PIECE, 0, -1):
                if i + l <= len(w) and w[i : i + l] in vocab:
                    out.append(w[i : i + l])
                    i += l
                    break
        return out

    return words, maxmatch


def test_wordpiece_maxmatch_vs_pure_python(spark, sf_dir):
    """The engine's relational MaxMatch (vocab admission -> jumps ->
    greedy fold) must segment every distinct word exactly like a
    straightforward Python greedy longest-match over the same
    vocabulary rule."""
    from change_data_capture_poc_spark.operators.subword import (
        WP_PERMILLE,
        wp_word_toks,
    )

    words, maxmatch = _wordpiece_model(spark, sf_dir, WP_PERMILLE)
    engine = {
        r["word"]: list(r["toks"])
        for r in wp_word_toks(spark, sf_dir).collect()
    }
    assert set(engine) == set(words)
    for w in words:
        assert engine[w] == maxmatch(w), w
        assert "".join(engine[w]) == w  # segmentation partitions the word


def test_wordpiece_maxmatch_4char_jump_vs_pure_python(spark, sf_dir):
    """The same comparison at 20 permille, the loosest point of
    wordpiece_threshold_sensitivity: the default threshold admits no
    4-character piece, this one does, so the 4-character jump is taken
    and checked against the Python greedy model."""
    from change_data_capture_poc_spark.operators.subword import (
        wp_tables,
        wp_toks_for,
        wp_vocab_for,
    )

    permille = 20
    words, maxmatch = _wordpiece_model(spark, sf_dir, permille)
    w_df, chars, freq, tot = wp_tables(spark, sf_dir)
    engine = {
        r["word"]: list(r["toks"])
        for r in wp_toks_for(
            w_df, wp_vocab_for(chars, freq, tot, permille)
        ).collect()
    }
    assert set(engine) == set(words)
    # 4 = the longest jump wp_toks_for probes.
    assert any(len(t) == 4 for toks in engine.values() for t in toks)
    for w in words:
        assert engine[w] == maxmatch(w), w
        assert "".join(engine[w]) == w


def test_wordpiece_threshold_curve_monotone(spark, sf_dir):
    """A looser admission threshold can only grow the vocabulary, and
    a larger vocabulary can only shorten segmentations: vocab_size is
    non-increasing and fertility non-decreasing in the threshold."""
    rows = sorted(
        (
            r["permille"],
            r["vocab_size"],
            r["n_words"],
            r["n_tokens"],
        )
        for r in all_queries()["wordpiece_threshold_sensitivity"]
        .fn(spark, sf_dir)
        .collect()
    )
    assert len(rows) == 3
    n_words = {r[2] for r in rows}
    assert len(n_words) == 1  # same corpus, same word split
    for (p1, v1, _, t1), (p2, v2, _, t2) in zip(rows, rows[1:]):
        assert p1 < p2
        assert v1 >= v2      # looser threshold admits a superset
        # MaxMatch greediness is not globally optimal, so token counts
        # are not theoretically monotone in vocab inclusion for
        # adversarial vocabularies; on this corpus the curve is
        # monotone and the assert pins the measured behavior.
        assert t1 <= t2


def _py_unigram_em(words: dict[str, int], maxlen: int, rounds: int,
                   topk: int):
    """Pure-Python reference for the hard-EM trainer: seed from all
    substrings, then `rounds` cycles of brute-force-enumerated Viterbi
    (the total order: millinat cost, then space-joined string) ->
    count -> prune/floor/cap -> renormalize. Returns (vocab: token ->
    (cnt, cost), best: word -> toks under the final costs)."""
    import math

    def millinat(vocab: dict[str, int]) -> dict[str, int]:
        z = sum(vocab.values())
        return {
            t: int(round(1000 * math.log(z / c) + 1e-9))
            for t, c in vocab.items()
        }

    def segmentations(w: str, cost: dict[str, int]):
        if not w:
            yield []
            return
        for l in range(1, min(maxlen, len(w)) + 1):
            if w[:l] in cost:
                for rest in segmentations(w[l:], cost):
                    yield [w[:l]] + rest

    def best(w: str, cost: dict[str, int]) -> list[str]:
        return min(
            segmentations(w, cost),
            key=lambda s: (sum(cost[t] for t in s), " ".join(s)),
        )

    vocab: dict[str, int] = {}
    for w, n in words.items():
        for l in range(1, maxlen + 1):
            for i in range(len(w) - l + 1):
                vocab[w[i : i + l]] = vocab.get(w[i : i + l], 0) + n
    chars = {t for t in vocab if len(t) == 1}
    cost = millinat(vocab)
    for _ in range(rounds):
        cnt: dict[str, int] = {}
        for w, n in words.items():
            for t in best(w, cost):
                cnt[t] = cnt.get(t, 0) + n
        multi = sorted(
            ((t, c) for t, c in cnt.items() if len(t) >= 2),
            key=lambda x: (-x[1], x[0]),
        )[:topk]
        vocab = {t: max(cnt.get(t, 0), 1) for t in chars}
        vocab.update(dict(multi))
        cost = millinat(vocab)
    return vocab, cost, {w: best(w, cost) for w in words}


def test_unigram_em_train_vs_pure_python_reference(spark, sf_dir):
    """The engine's hard-EM trainer (linear backward-Viterbi e-step,
    prune/floor/cap m-step) must reproduce, round for round, a pure
    Python reference that enumerates every vocab-restricted
    segmentation brute-force under the identical total order — both
    the trained vocab/costs and the final segmentations."""
    from change_data_capture_poc_spark.operators.subword import (
        MAX_PIECE,
        UNI_EM_ROUNDS,
        UNI_EM_TOPK,
        uni_em_state,
        uni_viterbi_toks,
        wp_tables,
    )
    from change_data_capture_poc_spark.sources.tables import load_table

    words = {
        r["w"]: r["count"]
        for r in load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .count()
        .collect()
    }

    ref_vocab, ref_cost, ref_best = _py_unigram_em(
        words, MAX_PIECE, UNI_EM_ROUNDS, UNI_EM_TOPK
    )

    vocab, cost = uni_em_state(spark, sf_dir)
    got_vocab = {r["token"]: r["cnt"] for r in vocab.collect()}
    got_cost = {r["token"]: r["c"] for r in cost.collect()}
    assert got_vocab == ref_vocab
    assert got_cost == ref_cost

    wt, _, _, _ = wp_tables(spark, sf_dir)
    engine = {
        r["word"]: list(r["toks"])
        for r in uni_viterbi_toks(wt, cost).collect()
    }
    assert set(engine) == set(words)
    for w in words:
        assert engine[w] == ref_best[w], w
        assert "".join(engine[w]) == w
