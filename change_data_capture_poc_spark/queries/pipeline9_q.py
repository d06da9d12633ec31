"""Round-9 pipeline operators.

Closes the genuinely-absent deliverables from the round-8 verdict:

- ``bpe_encode_corpus`` — corpus-scale BPE APPLY: tokenize every
  document with the merges ``bpe_train_iterative_merges`` learned.
  The one step an LM pipeline runs on 100% of its data, and the
  reason the trainer exists at all.
- ``ann_index_build`` / ``ann_serve_from_index`` — the production
  build/serve split for the IVF-PQ index: build writes the index
  tables once; serve answers queries reading ONLY the index tables
  (pytest pins that no ``embeddings`` scan appears in the serve
  plan).
- ``pack_best_fit`` — length-bucketed first-fit-decreasing sequence
  packing with a fill-rate readout vs the greedy concat baseline.
- ``cdc_quarantine_report`` / ``cdc_quarantine_replay`` — the
  malformed-envelope quarantine promoted from pytest-only to an
  oracle-checked per-day report, plus the replay that recovers the
  mechanically-recoverable slice (value-certified by recovered lsns).
- ``ann_index_delta_serve`` — serve across the persisted index plus
  vectors inserted since the last build (FAISS add() semantics).
- ``gdpr_erasure_purged_dim`` / ``gdpr_erasure_ledger`` — the
  executed right-to-be-forgotten purge and its compliance ledger,
  completing the erasure trio with cdc_ops_q's work queue.
- ``tokenizer_vocab_build`` / ``bpe_encode_from_vocab`` — the
  tokenizer train/serve split (persisted vocabulary artifact; encode
  jobs never embed the trainer), and ``pack_best_fit_bpe_tokens``,
  the tokenizer->packer composition packing by real token counts.
- ``cdc_incremental_agg_maintenance`` — materialized-view
  maintenance off the CDC feed: persisted snapshot + pushed-predicate
  delta merge, full-recompute oracle (snapshot + delta == truth).
- ``ann_index_compact`` / ``bpe_detokenize_roundtrip`` /
  ``pack_emit_sequences`` — the lifecycle closers: fold the served
  delta into a new index generation (== from-scratch build, bit for
  bit), decode the token stream back to the source text (the
  tokenizer's certified inverse), and emit the slot-ordered sequence
  manifests the training loader actually consumes.
- ``wordpiece_maxmatch_encode`` / ``tokenizer_family_fertility_compare``
  / ``wordpiece_threshold_sensitivity`` — the second subword family
  (WordPiece greedy longest-match-first inference, all integer/string
  logic), the per-language fertility bake-off against the trained-BPE
  encode, and the one-pass vocab-size/fertility admission-threshold
  curve.
- ``unigram_viterbi_encode`` — the third subword family
  (SentencePiece's unigram model): millinat integer cost grid +
  total-order tie-break; linear backward-Viterbi fold per distinct
  word, oracle = recursive-CTE enumeration picking the identical
  minimum.

Every persisted /tmp artifact (index, log, vocabulary, snapshot) is
built and published through ``functions/artifacts.persisted``: guarded
by the source table's stat fingerprint against testdata regeneration
at the same path, and made visible by one atomic directory rename.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from change_data_capture_poc_spark.cdc.quarantine import (
    QUAR_REASON_SQL,
    QUAR_REPORT_ORACLE,
    QUAR_ROW_FIELDS,
    ensure_quarantine_log,
    quarantine_reason,
    quarantine_report,
)
from change_data_capture_poc_spark.functions.artifacts import persisted
from change_data_capture_poc_spark.registry import register
from change_data_capture_poc_spark.sources.tables import load_table
from change_data_capture_poc_spark.operators.ann import (
    CENTROID_LIST_SQL,
    IVFPQ_PROBES,
    MP_K,
    MP_NQ,
    MP_P,
    PQ_C,
    PQ_K,
    PQ_M,
    SAMPLE_Z,
    embeddings_and_queries,
    ivfpq_cte,
    ivfpq_qprobe,
    label_centroids,
    pq_adc_parts,
    pq_code_cols,
    pq_codebook,
    pq_embeddings,
    pq_queries,
    probe_labels,
    rounded_cos,
    sample_pred_duck,
    sample_pred_spark,
    sampled_recall,
    variant_tag,
)
from change_data_capture_poc_spark.operators.subword import (
    BPE_IDS_SQL,
    BPE_ROUNDS,
    DOC_WORDS_SQL,
    MAX_PIECE,
    UNI_EM_ROUNDS,
    UNI_EM_TOPK,
    WORD_COUNTS_SQL,
    WP_PERMILLE,
    bpe_rounds_cte,
    bpe_token_ids,
    bpe_train_state,
    doc_words,
    encode_sql,
    encode_words,
    piece_lattice,
    uni_em_state,
    uni_train_ctes,
    uni_viterbi_toks,
    unigram_ctes,
    word_counts,
    wp_base_ctes,
    wp_tables,
    wp_vocab_ctes,
    wp_walk_ctes,
    wp_word_toks,
)


# ---------------------------------------------------------------------------
# bpe_encode_corpus — apply the trained merges to every document
# ---------------------------------------------------------------------------


def _bpe_encode_oracle() -> str:
    """Unrolled trainer rounds (shared CTE prefix with the trainer
    oracle) + the encode tail: token-id vocabulary off the final
    round's word->toks table, then the per-document token stream."""
    return f"""
    WITH {WORD_COUNTS_SQL},{bpe_rounds_cte()},{BPE_IDS_SQL},{DOC_WORDS_SQL},
    enc AS ({encode_sql(f"v{BPE_ROUNDS}")})
    SELECT e.doc_id, e.word_pos, e.tok_idx, e.token, i.token_id
    FROM enc e JOIN ids i USING (token)
    """


@register(
    "bpe_encode_corpus",
    oracle=_bpe_encode_oracle(),
    doc=f"BPE corpus ENCODE — apply the {BPE_ROUNDS} trained merges "
        f"to every document, emitting the per-document token stream "
        f"(doc_id, word_pos, tok_idx, token, token_id) that an LM "
        f"pipeline feeds to packing. The key scale move: encoding is "
        f"WORD-level, and BPE-encoding the training corpus with its "
        f"own merges is exactly the trainer's final vocabulary state, "
        f"so the word -> token-array mapping comes straight from "
        f"bpe_train_state's Heaps-bounded word table — the corpus is "
        f"scanned ONCE, joined to the vocabulary on word (vocab side "
        f"~O(corpus^0.5), broadcast at typical fixed-vocab sizes, "
        f"hash join beyond), and never globally sorted or windowed. "
        f"Token ids are a row_number over the SYMBOL table (alphabet "
        f"+ {BPE_ROUNDS} merges — constant-bounded, the documented "
        f"global_window shape) and broadcast back onto the token "
        f"stream. Out-of-vocab words cannot exist here by "
        f"construction (encode corpus == train corpus); a held-out "
        f"corpus would left-join and byte-fallback the misses, same "
        f"plan shape.",
)
def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    _merges, v = bpe_train_state(spark, sf_dir)
    ids = bpe_token_ids(v)
    d = load_table(spark, sf_dir, "documents")
    enc = encode_words(d, v.select("word", "toks"))
    # bounded: BPE token set = alphabet + BPE_ROUNDS merge tokens
    return enc.join(F.broadcast(ids), "token").select(
        "doc_id", "word_pos", "tok_idx", "token", "token_id"
    )


# ---------------------------------------------------------------------------
# ann_multiprobe_recall_sampled_truth — the multiprobe gate that scales
# ---------------------------------------------------------------------------

@register(
    "ann_multiprobe_recall_sampled_truth",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
               FROM embeddings),
    q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv
          FROM e WHERE vec_id < {MP_NQ}),
    cent AS (SELECT label, {CENTROID_LIST_SQL} AS c FROM e GROUP BY label),
    s AS (SELECT * FROM e WHERE {sample_pred_duck('vec_id')}),
    probed AS (
        SELECT q_id, label FROM (
            SELECT q.q_id, cent.label,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.q_id
                       ORDER BY ROUND(list_dot_product(q.qv, cent.c) /
                           (sqrt(list_dot_product(q.qv, q.qv)) *
                            sqrt(list_dot_product(cent.c, cent.c)))
                           + 1e-9, 6)
                           DESC, cent.label) AS rk
            FROM q, cent
        ) WHERE rk <= {MP_P}
    ),
    mp AS (
        SELECT q_id, neighbor_id FROM (
            SELECT q.q_id, s.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.q_id
                       ORDER BY ROUND(list_dot_product(s.v, q.qv) /
                           (sqrt(list_dot_product(s.v, s.v)) *
                            sqrt(list_dot_product(q.qv, q.qv)))
                           + 1e-9, 6)
                           DESC, s.vec_id) AS rk
            FROM s
            JOIN probed p ON s.label = p.label
            JOIN q ON q.q_id = p.q_id AND s.vec_id != q.q_id
        ) WHERE rk <= {MP_K}
    ),
    gt AS (
        SELECT q_id, neighbor_id FROM (
            SELECT q.q_id, s.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.q_id
                       ORDER BY ROUND(list_dot_product(s.v, q.qv) /
                           (sqrt(list_dot_product(s.v, s.v)) *
                            sqrt(list_dot_product(q.qv, q.qv)))
                           + 1e-9, 6)
                           DESC, s.vec_id) AS rk
            FROM s, q WHERE s.vec_id != q.q_id
        ) WHERE rk <= {MP_K}
    ),
    agg AS (
        SELECT gt.q_id,
               CAST(COUNT(*) AS BIGINT) AS n_truth,
               CAST(COUNT(mp.neighbor_id) AS BIGINT) AS hits
        FROM gt LEFT JOIN mp USING (q_id, neighbor_id)
        GROUP BY gt.q_id
    )
    SELECT q_id, n_truth, hits,
           ROUND(hits * 1.0 / n_truth + 1e-9, 6) AS recall_sampled,
           ROUND({SAMPLE_Z} * sqrt((hits * 1.0 / n_truth)
                     * (1 - hits * 1.0 / n_truth) / n_truth)
                 + 1e-9, 6) AS ci95_halfwidth
    FROM agg
    """,
    doc=f"Multiprobe IVF recall@{MP_K} against a HASH-SAMPLED truth "
        f"pool — closes the last near-linearity-bound row in "
        f"SCALING.md: ann_ivf_multiprobe_recall's exact side "
        f"brute-forces the full corpus per query (8x probe 6.9, the "
        f"deliberate eval cost), so at 100 TB the GATE outweighs the "
        f"index. Same device as eval_ann_recall_sampled_truth: truth "
        f"pool = consistent md5 bottom-sample of the corpus (NOT "
        f"rand() — reproducible across engines and runs), exact "
        f"top-{MP_K} only within the sample, multiprobe prediction "
        f"(top-{MP_P} centroid partitions, centroids still from the "
        f"FULL corpus — one linear pass, they are the index, not the "
        f"bottleneck) scored against it inside the same pool, with "
        f"the {SAMPLE_Z}-sigma binomial CI pricing the sampling. Scale "
        f"shape: sample predicate map-side; all cuts via grouped_topk;"
        f" the only corpus-sized work is the linear centroid pass.",
)
def ann_multiprobe_recall_sampled_truth(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e, en, q = embeddings_and_queries(spark, sf_dir, MP_NQ, False)

    # Index side: per-label centroids over the FULL corpus — the
    # centroid pass is this gate's only corpus-sized job, so its
    # constant sets the 8x ratio.
    probed = probe_labels(q.crossJoin(label_centroids(e)), MP_P)

    # Eval side: everything below runs inside the sampled pool.
    s = en.where(sample_pred_spark("vec_id"))
    # Fused dual ranking (r14): the multiprobe candidates (label in the
    # query's probe list) are a subset of the pool's exact candidates —
    # one variant-tagged scan of the sampled pool feeds both top-ks
    # instead of two pool joins each re-evaluating the dot fold (guide
    # §1.2/§4). The probe list is query-set x MP_P rows — broadcast.
    scored = (
        # bounded: query set capped at _N_QUERIES rows
        s.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
        .join(
            # bounded: query set x MP_P probe rows
            F.broadcast(probed.withColumn("in_mp", F.lit(1))),
            ["q_id", "label"],
            "left",
        )
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            rounded_cos("nv", "qnv").alias("cos"),
            variant_tag(F.col("in_mp") == 1),
        )
    )
    return sampled_recall(scored, MP_K)


# ---------------------------------------------------------------------------
# ann_index_build / ann_serve_from_index — the production split
# ---------------------------------------------------------------------------



def ensure_ann_index(
    spark: SparkSession, sf_dir: str, force: bool = False
) -> tuple[str, dict]:
    """Build the persisted IVF-PQ index iff absent or stale (FAISS's
    offline build) and return ``(dir, meta)``: three parquet tables
    under the index dir —

    - ``codebook.parquet`` (cid, v): the PQ_C codeword/centroid
      source vectors (they double as coarse centroids, as in
      ann_ivf_pq_recall);
    - ``codes.parquet`` (vec_id, ccid, code_0.._{M-1}): the whole
      corpus as coarse assignment + PQ codes — the 128x-smaller
      representation that serving scans instead of embeddings;
    - ``queries.parquet`` (vec_id, v): the request batch (online
      input in production; materialized here so the serve plan
      provably never touches the embeddings table).

    Freshness is the embeddings table's stat fingerprint (one os.stat,
    no data read — functions/artifacts.persisted), so it is checked on
    every call without violating the FAISS-style no-per-call-corpus-
    scan rule; ann_index_build redoes the build (force). In production
    the index dir is the object-store prefix the offline build job
    owns and the online servers mount read-only."""
    from change_data_capture_poc_spark.functions.vectors import (
        centroid_argmin_expr,
    )

    def build(d: str) -> dict:
        e = pq_embeddings(spark, sf_dir)
        cb = pq_codebook(e)
        spark.createDataFrame(
            [(cid, vec) for cid, vec in cb], "cid int, v array<double>"
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(d, "codebook.parquet")
        )
        e.select(
            "vec_id",
            centroid_argmin_expr(cb, "v").getField("cid").alias("ccid"),
            *pq_code_cols(cb),
        ).write.mode("overwrite").parquet(os.path.join(d, "codes.parquet"))
        pq_queries(e).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(d, "queries.parquet")
        )
        # max_vec_id = the build's id watermark, recorded so incremental
        # serving can find "rows inserted since this build" from the
        # metadata alone (no corpus scan at serve time).
        return {"max_vec_id": int(e.agg(F.max("vec_id")).first()[0])}

    return persisted("ann_index", sf_dir, "embeddings", build, force)


_CODE_COLS = [f"code_{m}" for m in range(PQ_M)]

# Build + serve restated from the raw embeddings: the answer every
# serving path must give, whatever mix of persisted and fresh codes it
# scans.
_SERVE_ORACLE = ivfpq_cte() + f"""
    SELECT q_id, CAST(rn AS INT) AS rk, neighbor_id, adc_dist FROM (
        SELECT q_id, neighbor_id, adc_dist,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY adc_dist, neighbor_id) AS rn
        FROM adc
    ) WHERE rn <= {PQ_K}
    """


def _index_codebook(
    spark: SparkSession, d: str
) -> list[tuple[int, list[float]]]:
    """The persisted PQ_C-row codebook — bounded collect."""
    return sorted(
        (int(r["cid"]), [float(x) for x in r["v"]])
        for r in spark.read.parquet(
            os.path.join(d, "codebook.parquet")
        ).collect()
    )


def _serve_top_k(
    codes: DataFrame, qe: DataFrame, cb: list[tuple[int, list[float]]]
) -> DataFrame:
    """The ranked top-PQ_K answer (q_id, rk, neighbor_id, adc_dist) of
    request batch ``qe`` over the code table ``codes``: probe the
    IVFPQ_PROBES nearest coarse partitions, ADC-score only their
    codes, cut per query with grouped_topk."""
    from pyspark.sql import Window

    from change_data_capture_poc_spark.operators.topk import grouped_topk

    qprobe = ivfpq_qprobe(qe, cb)
    q_meta, adc = pq_adc_parts(qe, cb)
    scored = (
        # bounded: query x probe-list rows (query-set-capped)
        codes.join(F.broadcast(qprobe), "ccid")
        .where(F.col("vec_id") != F.col("q_id"))
        # bounded: per-query PQ metadata (query-set-capped)
        .join(F.broadcast(q_meta), "q_id")
        .select(
            "q_id", F.col("vec_id").alias("neighbor_id"), adc.alias("adc_dist")
        )
    )
    top = grouped_topk(
        scored, ["q_id"], [("adc_dist", True), ("neighbor_id", True)], PQ_K
    )
    # Rank the k-bounded answer (NQ x K rows) for the serving API.
    wr = Window.partitionBy("q_id").orderBy("adc_dist", "neighbor_id")
    return top.select(
        "q_id",
        F.row_number().over(wr).alias("rk"),
        "neighbor_id",
        "adc_dist",
    )


def _codes_oracle() -> str:
    """The full-corpus code table restated from raw embeddings — the
    oracle for every query whose answer IS the persisted index state
    (build, and compaction, which must reproduce it exactly)."""
    return ivfpq_cte() + f""",
    pcodes AS (
        SELECT vec_id,
               {", ".join(
                   f"MAX(CASE WHEN m = {m} THEN CAST(code AS INT) END)"
                   f" AS code_{m}" for m in range(PQ_M))}
        FROM enc GROUP BY vec_id
    )
    SELECT a.vec_id, CAST(a.ccid AS BIGINT) AS ccid,
           {", ".join(f"p.code_{m}" for m in range(PQ_M))}
    FROM asgn a JOIN pcodes p USING (vec_id)
    """


@register(
    "ann_index_build",
    oracle=_codes_oracle(),
    doc=f"IVF-PQ index BUILD — the offline half of the production "
        f"build/serve split (FAISS builds the index once; serving "
        f"never re-reads raw vectors). Writes codebook ({PQ_C} "
        f"centroid/codeword vectors), the corpus code table (coarse "
        f"assignment + {PQ_M} PQ codes per vector — the whole index "
        f"state, 64 doubles -> ~{PQ_M + 1} small ints), and the "
        f"request batch, then RETURNS the code table read back FROM "
        f"DISK so the oracle certifies the persisted bytes, not the "
        f"in-flight plan. Scale shape: assignment and encoding are "
        f"map-side literal argmins (zero shuffles) streamed straight "
        f"to the writer — the build is one linear pass over the "
        f"corpus.",
)
def ann_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    d, _ = ensure_ann_index(spark, sf_dir, force=True)
    return spark.read.parquet(os.path.join(d, "codes.parquet")).select(
        "vec_id", "ccid", *_CODE_COLS
    )


@register(
    "ann_serve_from_index",
    oracle=_SERVE_ORACLE,
    doc=f"IVF-PQ SERVE — the online half: answer the request batch "
        f"reading ONLY the persisted index tables (codebook + codes + "
        f"the request batch itself; tests/test_pipeline9.py pins that "
        f"no embeddings scan appears in the executed plan). Per "
        f"query: probe the {IVFPQ_PROBES} nearest coarse partitions "
        f"(query vs the {PQ_C}-row codebook), ADC-score only those "
        f"partitions' codes via the literal LUT, return the top-"
        f"{PQ_K} (q_id, rank, neighbor, distance) answer rows — "
        f"semantically the prediction half of ann_ivf_pq_recall, now "
        f"decoupled from the build. The oracle recomputes build+serve "
        f"from the raw embeddings, certifying the round trip through "
        f"parquet. Scale shape: the served scan reads the ~128x-"
        f"compressed code table partition-pruned by the broadcast "
        f"probe set; the only bounded collects are the {PQ_C}-row "
        f"codebook and the request batch LUT.",
)
def ann_serve_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    d, _ = ensure_ann_index(spark, sf_dir)
    cb = _index_codebook(spark, d)
    qe = spark.read.parquet(os.path.join(d, "queries.parquet"))
    codes = spark.read.parquet(os.path.join(d, "codes.parquet"))
    return _serve_top_k(codes, qe, cb)


# ---------------------------------------------------------------------------
# pack_best_fit / pack_fill_rate_report — no-split sequence packing
# ---------------------------------------------------------------------------

_PACK_L = 2048   # sequence capacity (matches pack_concat_chunks)
_PACK_B = 8      # packing bands per (lang, class) — the parallelism
                 # knob: waste grows O(B) bins, parallelism O(B)
_PACK_KMAX = 11  # 2^11 = L: the smallest class holds 1-char docs


def _pack_class_case_sql() -> str:
    """Harmonic size class as a CASE chain — INTEGER arithmetic only
    (no float log2): class k holds lengths in (L/2^(k+1), L/2^k]."""
    branches = [f"WHEN n_chars > {_PACK_L} THEN -1"]
    for k in range(_PACK_KMAX):
        branches.append(f"WHEN n_chars > {_PACK_L >> (k + 1)} THEN {k}")
    return "CASE " + " ".join(branches) + f" ELSE {_PACK_KMAX} END"


def _pack_class_col() -> F.Column:
    c = F.when(F.col("n_chars") > _PACK_L, F.lit(-1))
    for k in range(_PACK_KMAX):
        c = c.when(F.col("n_chars") > (_PACK_L >> (k + 1)), F.lit(k))
    return c.otherwise(F.lit(_PACK_KMAX))


# Items per bin for a class: 2^k fit because every class-k item is
# <= L/2^k (and a 2^k+1-th never fits a bin of full-size class-k
# items); oversize (-1) items get a bin each.
_PACK_CAP_SQL = (
    "CASE WHEN size_class = -1 THEN 1 ELSE (1 << size_class) END"
)


def _pack_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("n_chars") > 0)
        .select(
            "doc_id",
            "lang",
            "n_chars",
            _pack_class_col().alias("size_class"),
            (F.col("doc_id") % _PACK_B).cast("int").alias("band"),
        )
    )
    w = Window.partitionBy("lang", "size_class", "band").orderBy(
        F.col("n_chars").desc(), "doc_id"
    )
    cap = F.expr(_PACK_CAP_SQL)
    rn = F.row_number().over(w) - 1
    return d.select(
        "doc_id",
        "lang",
        "n_chars",
        "size_class",
        "band",
        (rn / cap).cast("long").alias("bin_id"),
        (rn % cap).cast("int").alias("slot"),
    )


_PACK_ASSIGN_SQL = f"""
    d AS (
        SELECT doc_id, lang, n_chars,
               {_pack_class_case_sql()} AS size_class,
               CAST(doc_id % {_PACK_B} AS INT) AS band
        FROM documents WHERE n_chars > 0
    ),
    a AS (
        SELECT doc_id, lang, n_chars, size_class, band,
               CAST((ROW_NUMBER() OVER (
                        PARTITION BY lang, size_class, band
                        ORDER BY n_chars DESC, doc_id) - 1)
                    // ({_PACK_CAP_SQL}) AS BIGINT) AS bin_id,
               CAST((ROW_NUMBER() OVER (
                        PARTITION BY lang, size_class, band
                        ORDER BY n_chars DESC, doc_id) - 1)
                    % ({_PACK_CAP_SQL}) AS INT) AS slot
        FROM d
    )"""


@register(
    "pack_best_fit",
    oracle=f"""
    WITH {_PACK_ASSIGN_SQL}
    SELECT * FROM a
    """,
    doc=f"NO-SPLIT sequence packing (each document lands whole in one "
        f"{_PACK_L}-char bin — the packer for objectives that forbid "
        f"cross-document splits, vs pack_concat_chunks' concat-and-"
        f"slice). First-fit-decreasing made RELATIONAL via harmonic "
        f"length classes (Lee & Lee 1985): within class k (lengths in "
        f"(L/2^(k+1), L/2^k]) every bin takes exactly 2^k items, so "
        f"the FFD recurrence collapses to row_number // 2^k — integer "
        f"arithmetic only, no sequential bin state, bit-identical "
        f"across engines. Packing runs per (lang, class, band) with "
        f"{_PACK_B} bands keyed doc_id % {_PACK_B}: bands kill the "
        f"constant-cardinality hot-key window (each band ranks "
        f"independently; B scales with the cluster) at a bounded "
        f"price of <= B-1 part-full bins per class. Guarantee: every "
        f"FULL bin is >half-full (class-k items exceed L/2^(k+1)), "
        f"so total bins <= 2*OPT + classes*B — the pytest-pinned "
        f"bound. Scale shape: one window shuffle on (lang, class, "
        f"band); zero UDFs, zero joins.",
)
def pack_best_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pack_assignment(spark, sf_dir)


@register(
    "pack_fill_rate_report",
    oracle=f"""
    WITH {_PACK_ASSIGN_SQL},
    bins AS (
        SELECT lang, size_class, band, bin_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS chars
        FROM a GROUP BY lang, size_class, band, bin_id
    ),
    per_lang AS (
        SELECT lang,
               CAST(SUM(n_docs) AS BIGINT) AS n_docs,
               CAST(SUM(chars) AS BIGINT) AS total_chars,
               CAST(COUNT(*) AS BIGINT) AS n_bins,
               CAST(SUM(CASE WHEN size_class = -1 THEN chars
                             ELSE {_PACK_L} END) AS BIGINT) AS capacity
        FROM bins GROUP BY lang
    )
    SELECT lang, n_docs, total_chars, n_bins, capacity,
           ROUND(total_chars * 1.0 / capacity + 1e-9, 6) AS fill_rate,
           CAST((total_chars + {_PACK_L - 1}) // {_PACK_L} AS BIGINT)
               AS baseline_seqs,
           ROUND(n_bins * 1.0 /
                 ((total_chars + {_PACK_L - 1}) // {_PACK_L}) + 1e-9, 6)
               AS bin_overhead
    FROM per_lang
    """,
    doc=f"Fill-rate / waste readout for pack_best_fit vs the greedy "
        f"concat baseline: per language — bins used, capacity, fill "
        f"rate, the concat-and-slice sequence count ceil(chars/"
        f"{_PACK_L}) (OPT's lower bound: splitting makes every "
        f"sequence full), and bin_overhead = bins/baseline, the price "
        f"paid for never splitting a document. The number a packing "
        f"change must move before it ships. Scale shape: the window "
        f"shuffle from the assignment plus two keyed aggregations; "
        f"output is |langs| rows.",
)
def pack_fill_rate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = _pack_assignment(spark, sf_dir)
    bins = a.groupBy("lang", "size_class", "band", "bin_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )
    per_lang = bins.groupBy("lang").agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("chars").cast("long").alias("total_chars"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.sum(
            F.when(F.col("size_class") == -1, F.col("chars")).otherwise(
                F.lit(_PACK_L)
            )
        )
        .cast("long")
        .alias("capacity"),
    )
    baseline = F.expr(f"(total_chars + {_PACK_L - 1}) div {_PACK_L}")
    return per_lang.select(
        "lang",
        "n_docs",
        "total_chars",
        "n_bins",
        "capacity",
        F.round(
            F.col("total_chars") * 1.0 / F.col("capacity") + F.lit(1e-9), 6
        ).alias("fill_rate"),
        baseline.cast("long").alias("baseline_seqs"),
        F.round(F.col("n_bins") * 1.0 / baseline + F.lit(1e-9), 6).alias(
            "bin_overhead"
        ),
    )


# ---------------------------------------------------------------------------
# cdc_quarantine_report — the malformed-envelope quarantine, on the gate
# ---------------------------------------------------------------------------
#
# The log, its damage rule and the report oracle the stream twin shares
# live in cdc/quarantine.py.


@register(
    "cdc_quarantine_report",
    oracle=QUAR_REPORT_ORACLE,
    doc="CDC QUARANTINE REPORT — per-day parse health of the raw "
        "envelope log (read_envelope_log_tolerant promoted from "
        "pytest-only to the oracle gate): line totals, parse "
        "successes, and quarantined counts BY REASON, classified "
        "from the corrupt raw text alone (no generation metadata at "
        "read time). The oracle restates the deterministic damage "
        "rule the log was synthesized with, so the tolerant reader + "
        "classifier are certified end-to-end through real files. "
        "Scale shape: PERMISSIVE parse and classification are "
        "map-side over the partitioned scan (day comes from the "
        "directory, so a dashboard range-query prunes partitions "
        "before reading a byte); one |days|-key aggregation shuffle; "
        "output is |days| rows.",
)
def cdc_quarantine_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from change_data_capture_poc_spark.functions.caching import (
        persist_once,
    )
    from change_data_capture_poc_spark.sources.readers import (
        read_envelope_log_tolerant,
    )

    d = ensure_quarantine_log(spark, sf_dir)
    raw = read_envelope_log_tolerant(spark, d, QUAR_ROW_FIELDS)
    # Cached per the reader's contract: Spark refuses an uncached scan
    # whose projection touches only the corrupt-record column
    # (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — and the report reads it in
    # every branch. persist_once keeps the round-9 cache contract.
    raw = raw.transform(persist_once)
    bad = F.col("_corrupt_record")
    reasons = raw.select(
        F.col("day").cast("string").alias("day"),
        quarantine_reason(bad.isNull(), bad).alias("reason"),
    )
    return quarantine_report(reasons, F.count(F.lit(1)), F.lit(1))


# ---------------------------------------------------------------------------
# ann_index_delta_serve — serve across the persisted index + a fresh delta
# ---------------------------------------------------------------------------
#
# The gap between nightly index builds: vectors inserted AFTER the last
# ann_index_build (monotonic ids above the build watermark) are not in
# the persisted code table yet, but production serving cannot wait for
# the rebuild — FAISS answers this with add() on the fixed codebook.
# Relational form: encode ONLY the delta (the same zero-shuffle literal
# argmin the build uses, against the PERSISTED codebook — no retrain),
# union with the persisted base codes, and run the identical probe/ADC/
# top-k tail. Because PQ encoding is deterministic in (codebook,
# vector), base-codes ∪ fresh-delta-codes reconstructs the full-build
# code table EXACTLY — so the serve oracle certifies merge transparency
# bit for bit, and tests pin that the answer frame equals
# ann_serve_from_index row for row.


def _delta_watermark(spark: SparkSession, sf_dir: str) -> int:
    """The last build's id watermark: 90% of the max id the BUILD
    recorded in the index metadata — a marker read, zero scans at
    serve time (the simulated delta is the top decile of build-time
    ids standing in for rows inserted after the build)."""
    _d, meta = ensure_ann_index(spark, sf_dir)
    return meta["max_vec_id"] * 9 // 10


def _merged_codes(
    spark: SparkSession,
    sf_dir: str,
    d: str,
    cb: list[tuple[int, list[float]]],
) -> DataFrame:
    """Persisted base codes up to the build watermark (range pushed
    into the scan) ∪ the post-watermark delta encoded in-plan against
    the persisted codebook ``cb`` — equal to a from-scratch build."""
    from change_data_capture_poc_spark.functions.vectors import (
        centroid_argmin_expr,
    )

    wm = _delta_watermark(spark, sf_dir)
    base = (
        spark.read.parquet(os.path.join(d, "codes.parquet"))
        .where(F.col("vec_id") <= wm)
        .select("vec_id", "ccid", *_CODE_COLS)
    )
    delta = (
        pq_embeddings(spark, sf_dir)
        .where(F.col("vec_id") > wm)
        .select(
            "vec_id",
            centroid_argmin_expr(cb, "v").getField("cid")
            .cast("long")
            .alias("ccid"),
            *pq_code_cols(cb),
        )
        .select("vec_id", "ccid", *_CODE_COLS)
    )
    return base.unionByName(delta)


@register(
    "ann_index_delta_serve",
    oracle=_SERVE_ORACLE,
    doc=f"IVF-PQ INCREMENTAL SERVE — answer the request batch across "
        f"the persisted index PLUS vectors inserted since the last "
        f"build (ids above the build watermark): base codes come from "
        f"the persisted code table with the watermark predicate PUSHED "
        f"INTO the parquet scan, the delta is encoded in-plan against "
        f"the persisted codebook (map-side literal argmin, zero "
        f"shuffles, no retrain — FAISS add() semantics), and the "
        f"union feeds the identical probe/ADC/top-{PQ_K} tail. PQ "
        f"codes are deterministic in (codebook, vector), so the "
        f"merged table equals the full build exactly — the unchanged "
        f"serve oracle certifies merge transparency end to end. "
        f"Scale shape: delta scan is range-pruned to the new rows; "
        f"everything else matches ann_serve_from_index.",
)
def ann_index_delta_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    d, _ = ensure_ann_index(spark, sf_dir)
    cb = _index_codebook(spark, d)
    qe = spark.read.parquet(os.path.join(d, "queries.parquet"))
    codes = _merged_codes(spark, sf_dir, d, cb)
    return _serve_top_k(codes, qe, cb)


# ---------------------------------------------------------------------------
# gdpr_erasure_purged_dim / gdpr_erasure_audit — right to be forgotten
# ---------------------------------------------------------------------------
#
# The deletion request every CDC-fed warehouse eventually serves: a
# user whose LATEST change is a tombstone (operation 'error' -> DELETE
# in this log's op mapping, cdc/envelope.py) must have their ENTIRE
# version history purged from the SCD2 dimension — not just the open
# row closed, which is what ordinary SCD2 delete handling does. The
# cohort is data-driven (arg_max of the op over the lsn order), the
# purge is an anti-join, and the audit is the compliance evidence: per
# tombstone day, how many users and historical versions left the
# dimension. Scale shape: the cohort is one keyed aggregate, purge is
# a key-partitioned anti-join (broadcast when the cohort is small, by
# AQE's call), audit adds one |days|-key rollup; the dimension is
# never globally sorted or collected.

_GDPR_COHORT_SQL = """
    coh AS (
        SELECT user_id,
               arg_max(event_type, event_id) AS last_op,
               arg_max(ts, event_id) AS tombstone_ts
        FROM events
        WHERE user_id IS NOT NULL
        GROUP BY user_id
        HAVING arg_max(event_type, event_id) = 'error'
    )"""


def _gdpr_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    return (
        ev.groupBy("user_id")
        .agg(
            F.max_by("event_type", "event_id").alias("last_op"),
            F.max_by("ts", "event_id").alias("tombstone_ts"),
        )
        .where(F.col("last_op") == "error")
    )


@register(
    "gdpr_erasure_purged_dim",
    oracle=f"""
    WITH {_GDPR_COHORT_SQL}
    SELECT user_id,
           event_id AS log_seq_num,
           event_type AS operation_type,
           value,
           ROW_NUMBER() OVER w AS version_number
    FROM events
    WHERE user_id IS NOT NULL
      AND user_id NOT IN (SELECT user_id FROM coh)
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    """,
    doc="GDPR PURGED DIMENSION — the SCD2 dimension after serving the "
        "right-to-be-forgotten cohort (users whose latest change is a "
        "tombstone): every historical version of a cohort user is "
        "removed via anti-join, retained users keep their full "
        "versioned history untouched (version numbers recomputed over "
        "the retained log equal the originals, since erasure removes "
        "whole users, never individual versions). Scale shape: cohort "
        "aggregate + one anti-join on the dimension key; no global "
        "sort, no collect.",
)
def gdpr_erasure_purged_dim(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    coh = _gdpr_cohort(spark, sf_dir).select("user_id")
    w = Window.partitionBy("user_id").orderBy("event_id")
    return (
        ev.join(coh, "user_id", "left_anti")
        .select(
            "user_id",
            F.col("event_id").alias("log_seq_num"),
            F.col("event_type").alias("operation_type"),
            "value",
            F.row_number().over(w).alias("version_number"),
        )
    )


@register(
    "gdpr_erasure_ledger",
    oracle=f"""
    WITH {_GDPR_COHORT_SQL},
    purged AS (
        SELECT e.user_id,
               strftime(CAST(c.tombstone_ts AS DATE), '%Y-%m-%d')
                   AS tombstone_day
        FROM events e JOIN coh c USING (user_id)
        WHERE e.user_id IS NOT NULL
    )
    SELECT tombstone_day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_erased,
           CAST(COUNT(*) AS BIGINT) AS n_versions_purged
    FROM purged GROUP BY tombstone_day
    """,
    doc="GDPR ERASURE LEDGER — the compliance evidence the purge must "
        "produce: per tombstone day, how many users were erased and "
        "how many historical versions left the dimension. Completes "
        "the erasure trio: gdpr_erasure_audit (cdc_ops_q) is the "
        "work queue, gdpr_erasure_purged_dim the executed purge, and "
        "this the ledger (ledger + purged dim partition the original "
        "row count — pytest pins the conservation law). Scale shape: "
        "cohort aggregate, one semi-join keyed on user_id, one "
        "|days|-key rollup.",
)
def gdpr_erasure_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    coh = _gdpr_cohort(spark, sf_dir).select(
        "user_id",
        F.date_format("tombstone_ts", "yyyy-MM-dd").alias(
            "tombstone_day"
        ),
    )
    return (
        ev.join(coh, "user_id")
        .groupBy("tombstone_day")
        .agg(
            F.countDistinct("user_id").cast("long").alias(
                "n_users_erased"
            ),
            F.count(F.lit(1)).cast("long").alias("n_versions_purged"),
        )
    )


@register(
    "cdc_quarantine_replay",
    oracle=f"""
    WITH e AS (
        SELECT event_id,
               strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
               {QUAR_REASON_SQL} AS reason
        FROM events WHERE user_id IS NOT NULL
    )
    SELECT day,
           CAST(COUNT(*) FILTER (reason != 'ok') AS BIGINT)
               AS n_quarantined,
           CAST(COUNT(*) FILTER (reason = 'not_json') AS BIGINT)
               AS n_recovered,
           CAST(COUNT(*) FILTER (reason = 'truncated') AS BIGINT)
               AS n_dead,
           CAST(MIN(event_id) FILTER (reason = 'not_json') AS BIGINT)
               AS min_recovered_lsn,
           CAST(MAX(event_id) FILTER (reason = 'not_json') AS BIGINT)
               AS max_recovered_lsn
    FROM e GROUP BY day
    HAVING COUNT(*) FILTER (reason != 'ok') > 0
    """,
    doc="QUARANTINE REPLAY — the second half of the quarantine "
        "contract: reprocess the quarantined rows and recover what "
        "is mechanically recoverable. Transport-prefixed lines are "
        "intact JSON after stripping everything before the first "
        "'{' (re-parsed through the SAME envelope schema, success "
        "judged by a non-null lsn — not by the classifier), while "
        "truncated lines are structurally dead and stay for manual "
        "replay from the source. The per-day readout carries the "
        "MIN/MAX recovered lsn, so the oracle certifies the replay "
        "recovered the right VALUES, not merely the right counts. "
        "Scale shape: strip + re-parse are map-side over only the "
        "quarantined slice; one |days|-key rollup.",
)
def cdc_quarantine_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from change_data_capture_poc_spark.cdc.envelope import envelope_schema
    from change_data_capture_poc_spark.functions.caching import (
        persist_once,
    )
    from change_data_capture_poc_spark.sources.readers import (
        read_envelope_log_tolerant,
    )

    d = ensure_quarantine_log(spark, sf_dir)
    raw = read_envelope_log_tolerant(spark, d, QUAR_ROW_FIELDS).transform(
        persist_once
    )
    bad = raw.where(F.col("_corrupt_record").isNotNull()).select(
        F.col("day").cast("string").alias("day"),
        F.col("_corrupt_record").alias("line"),
    )
    # Strip the transport prefix (everything before the first '{');
    # locate()=0 (no brace at all) yields an empty substring, which
    # from_json maps to null — structurally dead either way.
    stripped = F.expr("substring(line, locate('{', line))")
    reparsed = F.from_json(stripped, envelope_schema(QUAR_ROW_FIELDS))
    lsn = reparsed.getField("payload").getField("source").getField("lsn")
    r = bad.select("day", lsn.alias("lsn"))
    return (
        r.groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_quarantined"),
            F.count("lsn").cast("long").alias("n_recovered"),
            F.sum(F.col("lsn").isNull().cast("long"))
            .cast("long")
            .alias("n_dead"),
            F.min("lsn").alias("min_recovered_lsn"),
            F.max("lsn").alias("max_recovered_lsn"),
        )
        .where(F.col("n_quarantined") > 0)
    )


# ---------------------------------------------------------------------------
# tokenizer_vocab_build / bpe_encode_from_vocab — tokenizer train/serve split
# ---------------------------------------------------------------------------
#
# The tokenizer twin of the ANN index split: production pipelines train
# a tokenizer ONCE and ship the artifact; every encode job afterwards
# loads the artifact and never re-runs training. Relational form: the
# trainer's final word -> token-array vocabulary and the symbol -> id
# table are written to parquet (with the same source fingerprint guard
# as the other persisted artifacts), and the from-vocab encoder is one
# corpus scan + a vocabulary join — its plan embeds ZERO trainer
# stages (pytest pins exactly one documents scan vs. the in-plan
# encoder's trainer cascade).


def ensure_bpe_vocab(
    spark: SparkSession, sf_dir: str, force: bool = False
) -> str:
    """Train iff absent/stale; write ``vocab.parquet`` (word, toks)
    and ``token_ids.parquet`` (token, token_id)."""
    def build(d: str) -> None:
        _merges, v = bpe_train_state(spark, sf_dir)
        v.select("word", "toks").write.mode("overwrite").parquet(
            os.path.join(d, "vocab.parquet")
        )
        bpe_token_ids(v).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(d, "token_ids.parquet")
        )

    return persisted("bpe_vocab", sf_dir, "documents", build, force)[0]


@register(
    "tokenizer_vocab_build",
    oracle=f"""
    WITH {WORD_COUNTS_SQL},{bpe_rounds_cte()},{BPE_IDS_SQL}
    SELECT token, token_id FROM ids
    """,
    doc=f"TOKENIZER ARTIFACT BUILD — the offline half of the "
        f"tokenizer train/serve split: runs the {BPE_ROUNDS}-round "
        f"trainer once, persists the word->tokens vocabulary and the "
        f"symbol->id table to parquet, and RETURNS the id table read "
        f"back FROM DISK so the oracle certifies the persisted bytes "
        f"(the ann_index_build pattern). Retrains on every call; "
        f"the persisted artifact is replaced when the source "
        f"fingerprint or the code changes. Scale shape: training is "
        f"the documented Heaps-bounded trainer; the artifact is "
        f"vocabulary-sized, not corpus-sized.",
)
def tokenizer_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_bpe_vocab(spark, sf_dir, force=True)
    return spark.read.parquet(os.path.join(d, "token_ids.parquet"))


@register(
    "bpe_encode_from_vocab",
    oracle=_bpe_encode_oracle(),
    doc="BPE ENCODE FROM THE PERSISTED ARTIFACT — the online half: "
        "tokenize the corpus reading the trained vocabulary from "
        "parquet instead of embedding the trainer in the plan (what "
        "every encode job after training actually does). One corpus "
        "scan, one join against the artifact's word table (Zipf-"
        "bounded, AQE picks broadcast vs hash), one broadcast id "
        "join; pytest pins the plan contains exactly one documents "
        "scan and row-for-row equality with the in-plan encoder — "
        "the trainer cascade is provably absent. Shares "
        "bpe_encode_corpus's oracle: artifact round-trip through "
        "parquet must be semantics-preserving.",
)
def bpe_encode_from_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_bpe_vocab(spark, sf_dir)
    v = spark.read.parquet(os.path.join(d, "vocab.parquet"))
    ids = spark.read.parquet(os.path.join(d, "token_ids.parquet"))

    enc = encode_words(load_table(spark, sf_dir, "documents"), v)
    # bounded: BPE token set = alphabet + BPE_ROUNDS merge tokens
    return enc.join(F.broadcast(ids), "token").select(
        "doc_id", "word_pos", "tok_idx", "token", "token_id"
    )


# ---------------------------------------------------------------------------
# pack_best_fit_bpe_tokens — the packer fed by the tokenizer, end to end
# ---------------------------------------------------------------------------
#
# pack_best_fit packs by n_chars because that column ships with the
# corpus; a real pretraining packer packs by TOKEN counts from the
# production tokenizer. This composes the two round-9 deliverables:
# per-doc token counts come from the persisted-vocabulary encode
# (bpe_encode_from_vocab — no trainer in the plan), and the identical
# banded-FFD assignment runs with a token capacity. The readout is the
# per-lang fill-rate report — the number that decides whether the
# tokenizer/packer pair wastes FLOPs.

_PACKT_L = 256   # sequence capacity in TOKENS
_PACKT_B = 8     # packing bands per (lang, class)
_PACKT_KMAX = 8  # 2^8 = L: smallest class holds 1-token docs


def _packt_class_case_sql() -> str:
    branches = [f"WHEN n_toks > {_PACKT_L} THEN -1"]
    for k in range(_PACKT_KMAX):
        branches.append(f"WHEN n_toks > {_PACKT_L >> (k + 1)} THEN {k}")
    return "CASE " + " ".join(branches) + f" ELSE {_PACKT_KMAX} END"


def _packt_class_col() -> F.Column:
    c = F.when(F.col("n_toks") > _PACKT_L, F.lit(-1))
    for k in range(_PACKT_KMAX):
        c = c.when(F.col("n_toks") > (_PACKT_L >> (k + 1)), F.lit(k))
    return c.otherwise(F.lit(_PACKT_KMAX))


@register(
    "pack_best_fit_bpe_tokens",
    oracle=f"""
    WITH {WORD_COUNTS_SQL},{bpe_rounds_cte()},{DOC_WORDS_SQL},
    tc AS (
        SELECT dw.doc_id,
               CAST(SUM(len(v.toks)) AS BIGINT) AS n_toks
        FROM dw JOIN v{BPE_ROUNDS} v USING (word)
        GROUP BY dw.doc_id
    ),
    d AS (
        SELECT t.doc_id, doc.lang, t.n_toks,
               {_packt_class_case_sql()} AS size_class,
               CAST(t.doc_id % {_PACKT_B} AS INT) AS band
        FROM tc t JOIN documents doc USING (doc_id)
    ),
    a AS (
        SELECT doc_id, lang, n_toks, size_class, band,
               CAST((ROW_NUMBER() OVER (
                        PARTITION BY lang, size_class, band
                        ORDER BY n_toks DESC, doc_id) - 1)
                    // (CASE WHEN size_class = -1 THEN 1
                        ELSE (1 << size_class) END) AS BIGINT) AS bin_id
        FROM d
    ),
    bins AS (
        SELECT lang, size_class, band, bin_id,
               COUNT(*) AS n_docs, SUM(n_toks) AS toks
        FROM a GROUP BY lang, size_class, band, bin_id
    )
    SELECT lang,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(toks) AS BIGINT) AS total_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_bins,
           CAST(SUM(CASE WHEN size_class = -1 THEN toks
                    ELSE {_PACKT_L} END) AS BIGINT) AS capacity,
           ROUND(SUM(toks) * 1.0 /
                 SUM(CASE WHEN size_class = -1 THEN toks
                     ELSE {_PACKT_L} END) + 1e-9, 6) AS fill_rate,
           CAST((SUM(toks) + {_PACKT_L - 1}) // {_PACKT_L} AS BIGINT)
               AS baseline_seqs,
           ROUND(COUNT(*) * 1.0 /
                 ((SUM(toks) + {_PACKT_L - 1}) // {_PACKT_L})
                 + 1e-9, 6) AS bin_overhead
    FROM bins GROUP BY lang
    """,
    doc=f"TOKEN-BUDGET SEQUENCE PACKING — the tokenizer/packer "
        f"composition a pretraining pipeline actually runs: per-doc "
        f"token counts from the PERSISTED-vocabulary encode "
        f"(bpe_encode_from_vocab; no trainer stages), then the "
        f"pack_best_fit banded-FFD assignment with a {_PACKT_L}-token "
        f"capacity and harmonic size classes, read out as the "
        f"per-lang fill-rate report (fill rate + bin overhead vs the "
        f"split-anywhere lower bound) — the number that decides "
        f"whether the tokenizer/packer pair wastes FLOPs. Scale "
        f"shape: one corpus scan + vocab join for counts, one "
        f"(lang, class, band)-keyed window over |docs| COUNTS (not "
        f"tokens), two keyed rollups; token streams never shuffle.",
)
def pack_best_fit_bpe_tokens(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    enc = bpe_encode_from_vocab(spark, sf_dir)
    tc = enc.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_toks")
    )
    doc = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    d = tc.join(doc, "doc_id").select(
        "doc_id",
        "lang",
        "n_toks",
        _packt_class_col().alias("size_class"),
        (F.col("doc_id") % _PACKT_B).cast("int").alias("band"),
    )
    w = Window.partitionBy("lang", "size_class", "band").orderBy(
        F.col("n_toks").desc(), "doc_id"
    )
    cap = F.expr(
        "CASE WHEN size_class = -1 THEN 1 ELSE (1 << size_class) END"
    )
    a = d.select(
        "doc_id",
        "lang",
        "n_toks",
        "size_class",
        "band",
        ((F.row_number().over(w) - 1) / cap).cast("long").alias("bin_id"),
    )
    bins = a.groupBy("lang", "size_class", "band", "bin_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("toks"),
    )
    cap_toks = F.when(
        F.col("size_class") == -1, F.col("toks")
    ).otherwise(F.lit(_PACKT_L))
    per_lang = bins.groupBy("lang").agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("toks").cast("long").alias("total_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.sum(cap_toks).cast("long").alias("capacity"),
    )
    baseline = F.expr(f"(total_tokens + {_PACKT_L - 1}) div {_PACKT_L}")
    return per_lang.select(
        "lang",
        "n_docs",
        "total_tokens",
        "n_bins",
        "capacity",
        F.round(
            F.col("total_tokens") * 1.0 / F.col("capacity") + F.lit(1e-9),
            6,
        ).alias("fill_rate"),
        baseline.cast("long").alias("baseline_seqs"),
        F.round(
            F.col("n_bins") * 1.0 / baseline + F.lit(1e-9), 6
        ).alias("bin_overhead"),
    )


# ---------------------------------------------------------------------------
# cdc_incremental_agg_maintenance — materialized-view maintenance off CDC
# ---------------------------------------------------------------------------
#
# The reason CDC feeds exist at all: keep a downstream aggregate
# CURRENT without rescanning history. The per-user aggregate over the
# first half of the log is materialized once (the "view snapshot",
# fingerprint-guarded like every persisted artifact here); maintenance
# reads the snapshot plus ONLY the rows past the snapshot watermark
# (the predicate is pushed into the events scan — pytest pins it) and
# merges with a full-outer coalesce. The full-recompute oracle states
# the contract that makes IVM trustworthy: snapshot + delta == truth.


def ensure_agg_snapshot(
    spark: SparkSession, sf_dir: str, force: bool = False
) -> tuple[str, int]:
    """Materialize the per-user (n_events, value_sum) aggregate over
    event_id <= T (T = max id div 2, the halves convention); returns
    (dir, T)."""
    def build(d: str) -> dict:
        ev = load_table(spark, sf_dir, "events").where(
            F.col("user_id").isNotNull()
        )
        t = int(ev.agg(F.expr("max(event_id) div 2")).first()[0])
        (
            ev.where(F.col("event_id") <= t)
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_events"),
                F.sum("value").alias("value_sum"),
            )
            .write.mode("overwrite")
            .parquet(os.path.join(d, "snapshot.parquet"))
        )
        return {"t": t}

    d, meta = persisted("aggsnap", sf_dir, "events", build, force)
    return d, meta["t"]


@register(
    "cdc_incremental_agg_maintenance",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value) + 1e-9, 6) AS value_sum
    FROM events WHERE user_id IS NOT NULL
    GROUP BY user_id
    """,
    doc="INCREMENTAL AGGREGATE MAINTENANCE — the materialized-view "
        "update every CDC consumer ultimately runs: the per-user "
        "aggregate snapshot (materialized once at the id watermark) "
        "merges with an aggregate over ONLY the post-watermark delta "
        "rows via full-outer coalesce — history is never rescanned "
        "(the delta predicate is pushed into the events scan; pytest "
        "pins it, plus snapshot-staleness regeneration). The "
        "full-recompute oracle states the IVM contract: snapshot + "
        "delta == truth, key by key. Scale shape: the delta scan is "
        "range-pruned to new rows; one aggregate shuffle over the "
        "delta; the merge joins on the snapshot's own key "
        "partitioning. At 100 TB this is the difference between "
        "touching a day's changes and touching a year's history.",
)
def cdc_incremental_agg_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d, t = ensure_agg_snapshot(spark, sf_dir)
    snap = spark.read.parquet(os.path.join(d, "snapshot.parquet"))
    delta = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull() & (F.col("event_id") > t))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("d_n"),
            F.sum("value").alias("d_sum"),
        )
    )
    return (
        snap.join(delta, "user_id", "full_outer")
        .select(
            "user_id",
            (
                F.coalesce("n_events", F.lit(0))
                + F.coalesce("d_n", F.lit(0))
            ).alias("n_events"),
            # NULL-aware merge: SUM ignores NULLs, so a key whose
            # values are all NULL sums to NULL (not 0.0) in both
            # engines — coalescing both sides to 0.0 would turn that
            # into 0.0 and silently diverge from the recompute.
            F.round(
                F.when(
                    F.col("value_sum").isNull() & F.col("d_sum").isNull(),
                    F.lit(None).cast("double"),
                ).otherwise(
                    F.coalesce("value_sum", F.lit(0.0))
                    + F.coalesce("d_sum", F.lit(0.0))
                )
                + F.lit(1e-9),
                6,
            ).alias("value_sum"),
        )
    )


# ---------------------------------------------------------------------------
# ann_index_compact — fold the delta into a new index generation
# ---------------------------------------------------------------------------
#
# The third verb of the index lifecycle (build -> delta-serve ->
# COMPACT): delta-serving re-encodes the post-watermark rows on every
# request, so once the delta grows past a threshold the nightly job
# folds it into a new code-table generation and the watermark advances.
# FAISS ships this as "rebuild with add()-ed vectors"; relationally it
# is the delta-serve union WRITTEN BACK instead of scored: base codes
# (pushed-range scan, <= watermark) union the delta encoded against the
# persisted codebook (map-side literal argmin, NO retrain — the coarse
# geometry is frozen, exactly like FAISS compaction), published as its
# own ``ann_index_g2`` artifact. Because PQ encoding is deterministic
# in (codebook, vector), the compacted generation must equal a
# from-scratch build bit for bit — that is the oracle (shared with
# ann_index_build), and the pytest pins generation-2 == generation-1
# row for row. In production the swap is then atomic: rename the
# generation directory, bump max_vec_id in the metadata; this query
# leaves generation 1 untouched so serve/delta-serve keep answering
# during the compaction (the reason generations exist).


@register(
    "ann_index_compact",
    oracle=_codes_oracle(),
    doc=f"IVF-PQ index COMPACTION — fold the post-watermark delta into "
        f"a new code-table generation: base codes come off the "
        f"persisted table with the watermark range PUSHED into the "
        f"scan, the delta is encoded in-plan against the persisted "
        f"{PQ_C}-codeword codebook (map-side argmin, no retrain), and "
        f"the union is written as generation 2 and read back — the "
        f"oracle (shared with ann_index_build) certifies the persisted "
        f"bytes equal a from-scratch build, because PQ encoding is "
        f"deterministic in (codebook, vector). Generation 1 stays "
        f"untouched so serving continues mid-compaction. Scale shape: "
        f"one linear pass over base codes (~128x smaller than raw "
        f"vectors) + one over the delta slice; zero shuffles, zero "
        f"joins — compaction is strictly cheaper than the build it "
        f"replaces.",
)
def ann_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d, _ = ensure_ann_index(spark, sf_dir)
    merged = _merged_codes(spark, sf_dir, d, _index_codebook(spark, d))

    def build(stage: str) -> None:
        merged.write.mode("overwrite").parquet(
            os.path.join(stage, "codes.parquet")
        )

    g2, _ = persisted("ann_index_g2", sf_dir, "embeddings", build, force=True)
    return spark.read.parquet(os.path.join(g2, "codes.parquet")).select(
        "vec_id", "ccid", *_CODE_COLS
    )


# ---------------------------------------------------------------------------
# bpe_detokenize_roundtrip — decode the token stream back to text
# ---------------------------------------------------------------------------


@register(
    "bpe_detokenize_roundtrip",
    oracle="""
    SELECT doc_id,
           array_to_string(list_filter(string_split(text, ' '),
                                       x -> x != ''), ' ') AS text_rt,
           CAST(len(list_filter(string_split(text, ' '),
                                x -> x != '')) AS BIGINT) AS n_words
    FROM documents
    WHERE len(list_filter(string_split(text, ' '), x -> x != '')) > 0
    """,
    doc="TOKENIZER DECODE — reassemble every document from its "
        "persisted-vocabulary token stream (bpe_encode_from_vocab) and "
        "certify the round trip: tokens concatenate back into their "
        "word (BPE merges only ever concatenate, so the token arrays "
        "partition the word by construction), words rejoin in word_pos "
        "order. The oracle states the lossless contract DIRECTLY from "
        "the source text (whitespace-normalized, the tokenizer's "
        "pre-tokenization), never touching the trainer: any vocabulary "
        "corruption, dropped token, or mis-ordered merge surfaces as a "
        "text hash mismatch. Decode is what serving does millions of "
        "times a day; a tokenizer without a certified inverse is half "
        "shipped. Scale shape: two keyed aggregations ((doc, word) "
        "then doc) over the token stream; reassembly is per-document, "
        "nothing global.",
)
def bpe_detokenize_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = ensure_bpe_vocab(spark, sf_dir)
    v = spark.read.parquet(os.path.join(d, "vocab.parquet")).select(
        "word", "toks"
    )
    dw = doc_words(load_table(spark, sf_dir, "documents"))
    # Decode each word straight off its vocabulary token array:
    # array_join(toks, '') IS the sorted-by-tok_idx concatenation the
    # old path rebuilt by posexploding to token rows, broadcast-joining
    # the id table (whose token_id the roundtrip never reads — but an
    # inner join can't be pruned) and re-aggregating tokens per word.
    # r13: the corpus-token shuffle + per-(doc, word) agg disappear;
    # one per-doc aggregation remains (12.5 MB token-row shuffle -> a
    # word-level one).
    words = dw.join(v, "word").select(
        "doc_id", "word_pos", F.array_join("toks", "").alias("word")
    )
    return words.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("word_pos", "word"))),
                lambda x: x["word"],
            ),
            " ",
        ).alias("text_rt"),
        F.count(F.lit(1)).cast("long").alias("n_words"),
    )


# ---------------------------------------------------------------------------
# pack_emit_sequences — materialize the packed sequences themselves
# ---------------------------------------------------------------------------


@register(
    "pack_emit_sequences",
    oracle=f"""
    WITH {_PACK_ASSIGN_SQL}
    SELECT lang, size_class, band, bin_id,
           array_to_string(list(CAST(doc_id AS VARCHAR) ORDER BY slot),
                           ',') AS doc_ids,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS seq_chars,
           CAST(CASE WHEN size_class = -1 THEN 0
                ELSE {_PACK_L} - SUM(n_chars) END AS BIGINT) AS n_pad
    FROM a GROUP BY lang, size_class, band, bin_id
    """,
    doc=f"PACKED SEQUENCE EMISSION — materialize what pack_best_fit "
        f"only assigns: one row per bin carrying the slot-ordered "
        f"document manifest (the deterministic concatenation order a "
        f"trainer's data loader replays), occupancy, and the padding "
        f"the {_PACK_L}-char capacity leaves (zero by convention for "
        f"oversize singletons, which truncate downstream instead). "
        f"This is the boundary artifact between the data pipeline and "
        f"the training job: the loader consumes (sequence -> ordered "
        f"doc ids), not per-doc assignments, and attention masking "
        f"needs the boundaries in order. Scale shape: the assignment's "
        f"(lang, class, band) window shuffle plus one keyed "
        f"aggregation; manifests are per-bin (<= 2^{_PACK_KMAX} ids), "
        f"never corpus-wide.",
)
def pack_emit_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = _pack_assignment(spark, sf_dir)
    agg = a.groupBy("lang", "size_class", "band", "bin_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("slot", "doc_id"))),
                lambda x: x["doc_id"].cast("string"),
            ),
            ",",
        ).alias("doc_ids"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("seq_chars"),
    )
    return agg.select(
        "lang",
        "size_class",
        "band",
        "bin_id",
        "doc_ids",
        "n_docs",
        "seq_chars",
        F.when(F.col("size_class") == -1, F.lit(0))
        .otherwise(F.lit(_PACK_L) - F.col("seq_chars"))
        .cast("long")
        .alias("n_pad"),
    )


# ---------------------------------------------------------------------------
# wordpiece_maxmatch_encode — the second tokenizer family (MaxMatch)
# ---------------------------------------------------------------------------


@register(
    "wordpiece_maxmatch_encode",
    oracle="WITH RECURSIVE "
    + wp_vocab_ctes().strip()
    + """
    SELECT dw.doc_id, dw.word_pos, w.tok_idx, w.token
    FROM dw JOIN wpwalk w USING (word)
    """,
    doc=f"WORDPIECE-STYLE MAXMATCH ENCODE — the second subword family "
        f"next to BPE (Wu et al. 2016; the greedy longest-match-first "
        f"inference HuggingFace's WordPiece executes): vocabulary = "
        f"every character (totality) ∪ substrings up to length "
        f"{MAX_PIECE} clearing a proportional admission threshold "
        f"({WP_PERMILLE} permille of word instances, integer "
        f"cross-multiplied — scale-invariant, float-free); per-word "
        f"segmentation = a greedy fold over positions consuming the "
        f"longest vocab token at each step, computed ONCE per distinct "
        f"word (Spark: one aggregate() pass over the position jumps; "
        f"oracle: the identical walk as a recursive CTE) and joined "
        f"back onto the corpus — the bpe_encode_corpus shape. Scale "
        f"shape: vocabulary/jump/walk work is all on the Heaps-bounded "
        f"word table with the tiny vocab broadcast; the corpus is "
        f"scanned once, AQE picks broadcast vs hash for the word join; "
        f"nothing global.",
)
def wordpiece_maxmatch_encode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return encode_words(
        load_table(spark, sf_dir, "documents"), wp_word_toks(spark, sf_dir)
    )



@register(
    "tokenizer_family_fertility_compare",
    oracle=f"""
    WITH RECURSIVE {wp_vocab_ctes()},{bpe_rounds_cte()},{unigram_ctes()},
    wp_stream AS (
        SELECT dw.doc_id, w.tok_idx
        FROM dw JOIN wpwalk w USING (word)
    ),
    bpe_stream AS ({encode_sql(f"v{BPE_ROUNDS}")}),
    uni_stream AS ({encode_sql("utoks")}),
    summ AS (
        SELECT 'wordpiece' AS tokenizer, d.lang,
               CAST(COUNT(*) FILTER (s.tok_idx = 0) AS BIGINT) AS n_words,
               CAST(COUNT(*) AS BIGINT) AS n_tokens
        FROM wp_stream s JOIN documents d USING (doc_id)
        GROUP BY d.lang
        UNION ALL
        SELECT 'bpe' AS tokenizer, d.lang,
               CAST(COUNT(*) FILTER (s.tok_idx = 0) AS BIGINT) AS n_words,
               CAST(COUNT(*) AS BIGINT) AS n_tokens
        FROM bpe_stream s JOIN documents d USING (doc_id)
        GROUP BY d.lang
        UNION ALL
        SELECT 'unigram' AS tokenizer, d.lang,
               CAST(COUNT(*) FILTER (s.tok_idx = 0) AS BIGINT) AS n_words,
               CAST(COUNT(*) AS BIGINT) AS n_tokens
        FROM uni_stream s JOIN documents d USING (doc_id)
        GROUP BY d.lang
    )
    SELECT tokenizer, lang, n_words, n_tokens,
           ROUND(n_tokens * 1.0 / n_words + 1e-9, 6) AS fertility
    FROM summ
    """,
    doc="TOKENIZER FAMILY BAKE-OFF — per-language fertility (tokens "
        "per word, THE tokenizer-selection metric: a 10% fertility gap "
        "is 10% more FLOPs for the same text) of the three subword "
        "families over the identical pre-tokenized corpus: WordPiece "
        "MaxMatch vs the trained-BPE encode vs the unigram-LM Viterbi "
        "encode, counted from each token stream (a word's token count "
        "= its tok_idx=0 marker, so n_words needs no distinct). All "
        "streams share the same word split, making the comparison "
        "apples-to-apples. Scale shape (round-11): ONE corpus scan "
        "into a (lang, word, n) occurrence table, then each family is "
        "word-table arithmetic — n_tokens = sum(n * |toks(word)|) "
        "equals counting its encoded stream, so the engine never "
        "materializes the three token streams the oracle counts.",
)
def tokenizer_family_fertility_compare(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from change_data_capture_poc_spark.functions.caching import (
        persist_once,
    )

    docs = load_table(spark, sf_dir, "documents")
    # ONE corpus scan (round-11: was three full encode streams + three
    # doc-keyed joins): per-(lang, word) occurrence counts — the
    # Heaps-bounded word table crossed with the lang domain. Every
    # family's fertility is then pure word-table arithmetic
    # (n_words = sum(n), n_tokens = sum(n * |toks(word)|)), identical
    # to counting the encoded token streams the oracle counts, because
    # both are sums over word occurrences grouped by lang.
    wl = word_counts(docs, "lang").transform(persist_once)
    words, _chars, _freq, _tot = wp_tables(spark, sf_dir)
    wp_toks = wp_word_toks(spark, sf_dir)
    bd = ensure_bpe_vocab(spark, sf_dir)
    bpe_toks = spark.read.parquet(os.path.join(bd, "vocab.parquet")).select(
        "word", "toks"
    )
    ud = ensure_unigram_vocab(spark, sf_dir)
    cost = spark.read.parquet(os.path.join(ud, "vocab.parquet")).select(
        "token", "c"
    )
    uni_toks = uni_viterbi_toks(words, cost)

    def summarize(wt: DataFrame, name: str) -> DataFrame:
        return (
            wl.join(wt, "word")
            .groupBy("lang")
            .agg(
                F.sum("n").cast("long").alias("n_words"),
                F.sum(F.col("n") * F.size("toks"))
                .cast("long")
                .alias("n_tokens"),
            )
            .select(
                F.lit(name).alias("tokenizer"),
                "lang",
                "n_words",
                "n_tokens",
                F.round(
                    F.col("n_tokens") * 1.0 / F.col("n_words")
                    + F.lit(1e-9),
                    6,
                ).alias("fertility"),
            )
        )

    return (
        summarize(wp_toks, "wordpiece")
        .unionByName(summarize(bpe_toks, "bpe"))
        .unionByName(summarize(uni_toks, "unigram"))
    )


# ---------------------------------------------------------------------------
# wordpiece_threshold_sensitivity — the vocab-size/fertility knob curve
# ---------------------------------------------------------------------------

_WP_CURVE = (20, 50, 100)  # admission thresholds, permille of instances


def _wp_curve_oracle() -> str:
    parts = ["WITH RECURSIVE " + wp_base_ctes().strip()]
    selects = []
    for pm in _WP_CURVE:
        sfx = f"_{pm}"
        parts.append("," + wp_walk_ctes(sfx, pm).strip())
        selects.append(f"""
        SELECT CAST({pm} AS INT) AS permille,
               CAST((SELECT COUNT(*) FROM wpvocab{sfx}) AS BIGINT)
                   AS vocab_size,
               CAST(SUM(c.n) AS BIGINT) AS n_words,
               CAST(SUM(c.n * tc.k) AS BIGINT) AS n_tokens
        FROM wc c JOIN (
            SELECT word, COUNT(*) AS k FROM wpwalk{sfx} GROUP BY word
        ) tc USING (word)""")
    return (
        "".join(parts)
        + ", wcurve AS ("
        + " UNION ALL ".join(selects)
        + """)
    SELECT permille, vocab_size, n_words, n_tokens,
           ROUND(n_tokens * 1.0 / n_words + 1e-9, 6) AS fertility
    FROM wcurve
    """
    )


@register(
    "wordpiece_threshold_sensitivity",
    oracle=_wp_curve_oracle(),
    doc=f"TOKENIZER ADMISSION-THRESHOLD CURVE — vocabulary size and "
        f"corpus fertility at {len(_WP_CURVE)} MaxMatch admission "
        f"thresholds ({', '.join(str(p) for p in _WP_CURVE)} permille "
        f"of word instances) measured in ONE pass: the "
        f"threshold-independent work (word counts, char alphabet, "
        f"substring frequencies) is computed once and cached, each "
        f"threshold re-derives only its vocab/jumps/segmentation, and "
        f"— the scale move — corpus totals come from the WORD TABLE "
        f"(n_tokens = sum over words of count x segment length), so "
        f"the corpus itself is never re-scanned per knob. The "
        f"vocab-size-vs-FLOPs trade-off table a tokenizer design "
        f"review reads (same one-pass-knob-curve family as "
        f"dedup_threshold_sensitivity and "
        f"eval_histogram_width_sensitivity); fertility is "
        f"non-increasing in vocab size, pytest-pinned. Scale shape: "
        f"everything after the one corpus tokenize runs on the "
        f"Heaps-bounded word table; output is {len(_WP_CURVE)} rows.",
)
def wordpiece_threshold_sensitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from change_data_capture_poc_spark.functions.caching import (
        persist_once,
    )

    words, chars, freq, tot = wp_tables(spark, sf_dir)
    pms = sorted(_WP_CURVE)
    lo = pms[0]
    # Admission is MONOTONE in the threshold (vocab_100 ⊆ vocab_50 ⊆
    # vocab_20), so one jump-join pass against the lowest-threshold
    # SUPERSET vocab, with a per-threshold admission flag riding on
    # each token, prices every knob simultaneously — the old loop ran
    # the full position frame + three jump joins + greedy fold once
    # per threshold (r13: 18 exchanges -> 6, one MaxMatch pass).
    # Length-1 chars never match the l>=2 jump joins, so omitting them
    # from the probe side changes nothing (jump falls back to 1).
    adm = (
        # bounded: tot is the 1-row corpus token total
        freq.crossJoin(F.broadcast(tot))
        .where(F.col("freq") * 1000 >= F.col("t") * lo)
        .select(
            "token",
            *[
                (F.col("freq") * 1000 >= F.col("t") * pm).alias(
                    f"ok_{pm}"
                )
                for pm in pms
            ],
        )
        .transform(persist_once)  # Heaps-bounded; probed by 3 jump joins
    )
    j = piece_lattice(
        words,
        adm,
        (4, 3, 2),
        lambda l: [F.col(f"ok_{pm}").alias(f"ok{l}_{pm}") for pm in pms],
    )
    jump_cols = []
    for pm in pms:
        jump_cols.append(
            F.when(F.col(f"ok4_{pm}"), 4)
            .when(F.col(f"ok3_{pm}"), 3)
            .when(F.col(f"ok2_{pm}"), 2)
            .otherwise(1)
            .alias(f"j_{pm}")
        )
    jfields = ", ".join(f"j_{pm}" for pm in pms)
    jarr = (
        j.select("word", "pos", *jump_cols)
        .groupBy("word")
        .agg(
            F.expr(
                f"array_sort(collect_list(struct(pos, {jfields})))"
            ).alias("ja")
        )
    )
    # Greedy MaxMatch fold per threshold, counting segments only (the
    # stats never read the token strings, just the segment count).
    k_cols = [
        F.expr(
            f"""
            aggregate(
                sequence(1, length(word)),
                named_struct('nxt', 1, 'k', CAST(0 AS BIGINT)),
                (acc, i) -> IF(i != acc.nxt, acc,
                    named_struct(
                        'nxt', acc.nxt + element_at(ja, i).j_{pm},
                        'k', acc.k + 1)),
                acc -> acc.k)
            """
        ).alias(f"k_{pm}")
        for pm in pms
    ]
    stats = (
        jarr.select("word", *k_cols)
        .join(words, "word")
        .agg(
            F.sum("n").cast("long").alias("n_words"),
            *[
                F.sum(F.col("n") * F.col(f"k_{pm}"))
                .cast("long")
                .alias(f"n_tokens_{pm}")
                for pm in pms
            ],
        )
    )
    # vocab_size_p = |chars| + |admitted_p|: the two sets are disjoint
    # (chars are length-1, admitted substrings length >= 2), so the old
    # union+distinct count decomposes into two tiny aggregates.
    # bounded: tot is the same 1-row total scalar
    vs = freq.crossJoin(F.broadcast(tot)).agg(
        *[
            F.count_if(
                F.col("freq") * 1000 >= F.col("t") * pm
            ).alias(f"adm_{pm}")
            for pm in pms
        ]
    )
    nch = chars.agg(F.count(F.lit(1)).alias("nchars"))
    curve = F.array(
        *[
            F.struct(
                F.lit(pm).cast("int").alias("permille"),
                (F.col(f"adm_{pm}") + F.col("nchars"))
                .cast("long")
                .alias("vocab_size"),
                F.col("n_words"),
                F.col(f"n_tokens_{pm}").alias("n_tokens"),
            )
            for pm in pms
        ]
    )
    return (
        # bounded: vs and nch are 1-row aggregate scalars
        stats.crossJoin(F.broadcast(vs))
        .crossJoin(F.broadcast(nch))
        .select(F.explode(curve).alias("r"))
        .select(
            "r.permille",
            "r.vocab_size",
            "r.n_words",
            "r.n_tokens",
            F.round(
                F.col("r.n_tokens") * 1.0 / F.col("r.n_words")
                + F.lit(1e-9),
                6,
            ).alias("fertility"),
        )
    )


# ---------------------------------------------------------------------------
# unigram LM — the third tokenizer family: EM trainer + Viterbi encode
# ---------------------------------------------------------------------------

def ensure_unigram_vocab(
    spark: SparkSession, sf_dir: str, force: bool = False
) -> str:
    """Run the hard-EM trainer iff absent/stale; persist the trained
    (token, cnt, c) model to ``vocab.parquet`` — the unigram member
    of the tokenizer train/serve split (same source-fingerprint guard
    as the BPE and ANN artifacts): encode jobs read the model from
    disk instead of embedding two EM rounds in every plan."""
    from change_data_capture_poc_spark.functions.caching import (
        free_local_checkpoint,
    )

    def build(d: str) -> None:
        vocab, cost = uni_em_state(spark, sf_dir)
        vocab.join(cost, "token").coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(d, "vocab.parquet"))
        # The model now lives on disk; the final EM round's checkpoint
        # blocks have no further reader — free them.
        free_local_checkpoint(cost)
        free_local_checkpoint(vocab)

    return persisted("uni_vocab", sf_dir, "documents", build, force)[0]


@register(
    "unigram_train_em",
    oracle="WITH RECURSIVE "
    + wp_base_ctes().strip()
    + ","
    + uni_train_ctes().strip()
    + f"""
    SELECT v.token, CAST(length(v.token) AS INT) AS piece_len,
           v.cnt, c.c AS cost
    FROM uvocab_r{UNI_EM_ROUNDS} v
    JOIN ucost_r{UNI_EM_ROUNDS} c USING (token)
    """,
    doc=f"UNIGRAM-LM EM TRAINER (SentencePiece, Kudo 2018 — "
        f"Viterbi-approximated hard EM): {UNI_EM_ROUNDS} unrolled "
        f"e/m cycles from the all-substrings seed. e-step = the "
        f"linear backward-Viterbi fold under the current integer "
        f"millinat grid; m-step = occurrence-weighted piece counts, "
        f"chars Laplace-floored (segmentability invariant), unused "
        f"multi-char pieces PRUNED and survivors capped at the top "
        f"{UNI_EM_TOPK} under (count DESC, token ASC), costs "
        f"re-normalized over the new total. PERSISTS the trained "
        f"vocab (the tokenizer train/serve split: "
        f"ensure_unigram_vocab, same fingerprint guard as the BPE "
        f"and ANN artifacts) and returns it read back FROM DISK so "
        f"the oracle certifies the persisted bytes — "
        f"unigram_viterbi_encode and the family bake-off serve off "
        f"this artifact, closing the trainer gap (BPE trains at "
        f"bpe_train_iterative_merges, WordPiece sweeps admission "
        f"thresholds; unigram now trains too). Oracle = fixed-round "
        f"unrolled CTEs, each e-step a deliberately brute-force "
        f"all-segmentations recursion (the BPE-trainer pattern). "
        f"Scale shape: word table is Heaps-bounded, vocab "
        f"Zipf-bounded; per round one word-table fold + one "
        f"explode-agg + one TakeOrdered cap — the corpus is scanned "
        f"exactly once, at seed time.",
)
def unigram_train_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_unigram_vocab(spark, sf_dir, force=True)
    v = spark.read.parquet(os.path.join(d, "vocab.parquet"))
    return v.select(
        "token",
        F.length("token").cast("int").alias("piece_len"),
        "cnt",
        F.col("c").alias("cost"),
    )


@register(
    "unigram_viterbi_encode",
    oracle="WITH RECURSIVE "
    + wp_base_ctes().strip()
    + ","
    + unigram_ctes().strip()
    + encode_sql("utoks"),
    doc=f"UNIGRAM-LM VITERBI ENCODE — the third subword family "
        f"(SentencePiece's unigram model, Kudo 1804.10959): segment "
        f"every word into the token sequence of MINIMUM total cost "
        f"under the TRAINED unigram model (unigram_train_em's "
        f"{UNI_EM_ROUNDS}-round hard-EM vocab; cost = millinats, an "
        f"integer grid — the DoReMi trick — so all comparison is "
        f"exact BIGINT arithmetic), tie-broken by the space-joined "
        f"token string to a UNIQUE answer. Engine: backward Viterbi "
        f"as one aggregate() fold per distinct word, linear in word "
        f"length, pruned pieces = invalid lattice edges; oracle: "
        f"replay the EM rounds (unrolled CTEs), then enumerate all "
        f"segmentations under the final costs (recursive CTE, the "
        f"deliberately brute-force spec) and take the same "
        f"total-order minimum — the order composes over suffixes, so "
        f"the DP provably finds it (pure-Python enumerator pytest). "
        f"Serving shape: the trained model is read from the "
        f"persisted artifact (ensure_unigram_vocab — built iff "
        f"absent/stale, the bpe_encode_from_vocab pattern), so the "
        f"encode plan embeds ZERO trainer stages: one fold over the "
        f"Heaps-bounded word table ({MAX_PIECE} broadcast cost "
        f"joins), one corpus scan joined to word->toks — the "
        f"bpe_encode_corpus shape. Oracle replays the full EM chain: "
        f"the parquet round-trip must be semantics-preserving.",
)
def unigram_viterbi_encode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    words, _chars, _freq, _tot = wp_tables(spark, sf_dir)
    d = ensure_unigram_vocab(spark, sf_dir)
    cost = spark.read.parquet(os.path.join(d, "vocab.parquet")).select(
        "token", "c"
    )
    wt = uni_viterbi_toks(words, cost)
    return encode_words(load_table(spark, sf_dir, "documents"), wt)


# ---------------------------------------------------------------------------
# unigram_em_expected_counts — the REAL (soft) EM e-step, forward-backward
# ---------------------------------------------------------------------------
#
# The trainer above is Viterbi-approximated (hard EM: each word's best
# segmentation contributes integer counts). SentencePiece's actual
# e-step (Kudo 1804.10959 §3.2) is SOFT: every segmentation contributes
# its posterior probability, and a piece's expected count is the sum of
# occurrence posteriors  alpha[s-1] * p(piece) * beta[s+l-1] / alpha[L]
# over all lattice occurrences — the forward-backward algorithm on the
# segmentation lattice. Relational form: alpha and beta are per-word
# linear folds in PROBABILITY space (products of p >= 1/Z over <= L
# factors cannot underflow a double at any realistic word length), the
# occurrence table is the same substring explode the seed uses, and the
# posterior is one map-side expression. Both engines evaluate the
# identical fold order (l = 1..4 terms added left to right), so the
# doubles agree bit-for-bit before the final occurrence SUM.


def _uni_soft_ctes() -> str:
    """Oracle CTEs for one soft e-step over the TRAINED model: uprob
    (probabilities from the final EM vocab), ualpha/ubeta (window-4
    forward/backward recursions, one row per (word, boundary)), uocc
    (all piece occurrences), uexp (expected counts)."""
    r = UNI_EM_ROUNDS
    return f"""
    uprob AS MATERIALIZED (
        SELECT token, cnt * 1.0 / (SELECT SUM(cnt) FROM uvocab_r{r}) AS p
        FROM uvocab_r{r}
    ),
    ualpha AS MATERIALIZED (
        SELECT word, 0 AS j, CAST(1.0 AS DOUBLE) AS a0,
               CAST(NULL AS DOUBLE) AS a1, CAST(NULL AS DOUBLE) AS a2,
               CAST(NULL AS DOUBLE) AS a3
        FROM wc
        UNION ALL
        SELECT r.word, r.j + 1,
               COALESCE(p1.p * r.a0, 0)
               + COALESCE(p2.p * r.a1, 0)
               + COALESCE(p3.p * r.a2, 0)
               + COALESCE(p4.p * r.a3, 0) AS a0,
               r.a0, r.a1, r.a2
        FROM ualpha r
        LEFT JOIN uprob p1 ON p1.token = substring(r.word, r.j + 1, 1)
        LEFT JOIN uprob p2 ON r.j >= 1
                          AND p2.token = substring(r.word, r.j, 2)
        LEFT JOIN uprob p3 ON r.j >= 2
                          AND p3.token = substring(r.word, r.j - 1, 3)
        LEFT JOIN uprob p4 ON r.j >= 3
                          AND p4.token = substring(r.word, r.j - 2, 4)
        WHERE r.j < length(r.word)
    ),
    ubeta AS MATERIALIZED (
        SELECT word, length(word) AS j, CAST(1.0 AS DOUBLE) AS b0,
               CAST(NULL AS DOUBLE) AS b1, CAST(NULL AS DOUBLE) AS b2,
               CAST(NULL AS DOUBLE) AS b3
        FROM wc
        UNION ALL
        SELECT r.word, r.j - 1,
               COALESCE(p1.p * r.b0, 0)
               + COALESCE(p2.p * r.b1, 0)
               + COALESCE(p3.p * r.b2, 0)
               + COALESCE(p4.p * r.b3, 0) AS b0,
               r.b0, r.b1, r.b2
        FROM ubeta r
        LEFT JOIN uprob p1 ON p1.token = substring(r.word, r.j, 1)
        LEFT JOIN uprob p2 ON r.j + 1 <= length(r.word)
                          AND p2.token = substring(r.word, r.j, 2)
        LEFT JOIN uprob p3 ON r.j + 2 <= length(r.word)
                          AND p3.token = substring(r.word, r.j, 3)
        LEFT JOIN uprob p4 ON r.j + 3 <= length(r.word)
                          AND p4.token = substring(r.word, r.j, 4)
        WHERE r.j > 0
    ),
    uocc AS MATERIALIZED (
        SELECT w.word, w.n, CAST(s.s AS INT) AS s, l.l,
               substring(w.word, CAST(s.s AS INT), l.l) AS token
        FROM wc w,
             (VALUES (1), (2), (3), (4)) l(l),
             LATERAL (
                 SELECT unnest(range(1, length(w.word) - l.l + 2)) AS s
             ) s
    ),
    uexp AS MATERIALIZED (
        SELECT o.token,
               SUM(o.n * a.a0 * p.p * b.b0 / af.a0) AS e
        FROM uocc o
        JOIN uprob p USING (token)
        JOIN ualpha a ON a.word = o.word AND a.j = o.s - 1
        JOIN ubeta b ON b.word = o.word AND b.j = o.s + o.l - 1
        JOIN ualpha af ON af.word = o.word AND af.j = length(o.word)
        GROUP BY o.token
    )"""


@register(
    "unigram_em_expected_counts",
    oracle="WITH RECURSIVE "
    + wp_base_ctes().strip()
    + ","
    + uni_train_ctes().strip()
    + ","
    + _uni_soft_ctes().strip()
    + """
    SELECT token, CAST(length(token) AS INT) AS piece_len,
           ROUND(e + 1e-9, 6) AS expected_cnt
    FROM uexp
    """,
    doc="SOFT EM E-STEP — SentencePiece's actual expectation step "
        "(Kudo 1804.10959 §3.2), run once over the TRAINED unigram "
        "model: a piece's expected count is the sum over all lattice "
        "occurrences of the occurrence posterior alpha[s-1] * p * "
        "beta[s+l-1] / alpha[L] (forward-backward), so EVERY "
        "segmentation contributes probability mass — the exact "
        "quantity the hard-EM trainer approximates with Viterbi "
        "counts (their agreement on dominant pieces is pinned in "
        "pytest against a pure-Python forward-backward). Engine: "
        "alpha and beta are per-word aggregate() folds in probability "
        "space (window-4, linear in word length; products of >= 1/Z "
        "factors cannot underflow a double), occurrences are the "
        "seed's substring explode, posteriors are map-side. Both "
        "engines add the l=1..4 terms in the same order, so the "
        "doubles match bit-for-bit before the final rounded SUM. "
        "Scale shape: everything is on the Heaps-bounded word table; "
        "the corpus was scanned once when the model trained.",
)
def unigram_em_expected_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from change_data_capture_poc_spark.functions.caching import (
        persist_once,
    )

    words, _chars, _freq, _tot = wp_tables(spark, sf_dir)
    d = ensure_unigram_vocab(spark, sf_dir)
    vocab = spark.read.parquet(os.path.join(d, "vocab.parquet"))
    z = vocab.agg(F.sum("cnt").cast("double").alias("z"))
    # persist_once (r14): prob feeds the 4 per-length lattice broadcasts
    # AND the occurrence join — without the pin each of those 5
    # consumers re-reads the vocab parquet and re-runs the Z aggregation
    # to rebuild this tiny (alphabet + top-K pieces) table (guide §5;
    # before-plan showed 10 BroadcastExchanges for 5 logical builds).
    prob = (
        # bounded: 1-row Z scalar
        vocab.crossJoin(F.broadcast(z))
        .select(
            "token", (F.col("cnt") * F.lit(1.0) / F.col("z")).alias("p")
        )
        .transform(persist_once)
    )

    # Per-(word, start-pos) piece probabilities p1..p4, collected into
    # a position-ordered array — the probability twin of the Viterbi
    # cost lattice.
    j = piece_lattice(
        words,
        prob,
        range(1, MAX_PIECE + 1),
        lambda l: [F.col("p").alias(f"p{l}")],
    )
    lat = j.groupBy("word").agg(
        F.expr(
            "transform(array_sort(collect_list("
            "  struct(pos, p1, p2, p3, p4))),"
            " x -> struct(x.p1 as p1, x.p2 as p2, x.p3 as p3,"
            "             x.p4 as p4))"
        ).alias("lat")
    )

    # alpha[j] = sum over l of p(piece ending at j, length l) *
    # alpha[j-l]; append-built so element_at(acc, k+1) = alpha[k].
    alpha_fold = """
        aggregate(
            sequence(1, length(word)),
            array(CAST(1.0 AS DOUBLE)),
            (acc, j) -> array_append(acc,
                coalesce(element_at(lat, j).p1 * element_at(acc, j), 0D)
                + IF(j >= 2, coalesce(element_at(lat, j - 1).p2
                                      * element_at(acc, j - 1), 0D), 0D)
                + IF(j >= 3, coalesce(element_at(lat, j - 2).p3
                                      * element_at(acc, j - 2), 0D), 0D)
                + IF(j >= 4, coalesce(element_at(lat, j - 3).p4
                                      * element_at(acc, j - 3), 0D), 0D)))
    """
    # beta[j] = sum over l of p(piece starting at j+1, length l) *
    # beta[j+l]; prepend-built (step i computes j = L - i) so the final
    # array is [beta[0], ..., beta[L]].
    beta_fold = """
        aggregate(
            sequence(1, length(word)),
            array(CAST(1.0 AS DOUBLE)),
            (acc, i) -> concat(array(
                coalesce(element_at(lat, length(word) - i + 1).p1
                         * element_at(acc, 1), 0D)
                + IF(i >= 2, coalesce(element_at(lat,
                        length(word) - i + 1).p2
                        * element_at(acc, 2), 0D), 0D)
                + IF(i >= 3, coalesce(element_at(lat,
                        length(word) - i + 1).p3
                        * element_at(acc, 3), 0D), 0D)
                + IF(i >= 4, coalesce(element_at(lat,
                        length(word) - i + 1).p4
                        * element_at(acc, 4), 0D), 0D)), acc))
    """
    folds = lat.select(
        "word",
        F.expr(alpha_fold).alias("alpha"),
        F.expr(beta_fold).alias("beta"),
    )

    occ = None
    for l in range(1, MAX_PIECE + 1):
        s = (
            words.where(F.length("word") >= l)
            .select(
                "word",
                "n",
                F.explode(
                    F.expr(f"sequence(1, length(word) - {l} + 1)")
                ).alias("s"),
            )
            .select(
                "word",
                "n",
                "s",
                F.lit(l).alias("l"),
                F.expr(f"substring(word, s, {l})").alias("token"),
            )
        )
        occ = s if occ is None else occ.unionByName(s)

    contrib = (
        occ.join(prob, "token")
        .join(folds, "word")
        .select(
            "token",
            (
                F.col("n")
                * F.expr("element_at(alpha, s)")
                * F.col("p")
                * F.expr("element_at(beta, s + l)")
                / F.expr("element_at(alpha, size(alpha))")
            ).alias("x"),
        )
    )
    return contrib.groupBy("token").agg(
        F.round(F.sum("x") + F.lit(1e-9), 6).alias("expected_cnt")
    ).select(
        "token",
        F.length("token").cast("int").alias("piece_len"),
        "expected_cnt",
    )
