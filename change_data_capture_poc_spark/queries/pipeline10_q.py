"""Round-9 continuation: retrieval quality, content-defined chunking,
training-order planning, and cross-modal retrieval.

Fills the remaining LLM-pipeline gaps after the round-8 verdict items
closed (reference semantics base: shalini-p16/change-data-capture-poc
README.md:1-381 — the analytics surface; everything here is the
pipeline breadth the brief asks for beyond it):

- ``chunk_content_defined`` / ``chunk_cdc_dedup_report`` — word-level
  content-defined chunking (the rolling-hash "CDC" of storage dedup,
  applied at token granularity as in large-corpus near-dup systems):
  chunk boundaries are decided by the CONTENT (a word whose hash hits
  the cut mask ends a chunk), so duplicated spans produce identical
  chunks at any offset — unlike fixed-width chunking, an insertion
  shifts nothing downstream. The report aggregates chunk-instance
  duplication per source (the bytes-saved accountability readout).
- ``eval_retrieval_ndcg_mrr`` — the ranking-quality gate for the
  retrieval stack (BM25 ranker vs AND-term relevance judgments):
  nDCG@10 + MRR@100 per query, the metrics every RAG/retrieval
  pipeline reports. Candidate ranking is cut to the metric horizon
  with grouped_topk (k-bounded), never a corpus-sized window.
- ``text_rrf_fusion`` — reciprocal-rank fusion (Cormack et al.'s RRF,
  k=60) of the lexical BM25 top-20 and a semantic cosine top-20: the
  standard hybrid-retrieval merge. Both lists are k-bounded before any
  ranking window (TakeOrdered + global_window over <= 20 rows).
- ``corpus_epoch_shuffle_plan`` — the deterministic dataloader
  shuffle: per-epoch (shard, position) assignment from seeded hashes,
  no global sort; every window is per-(epoch, shard). This is how a
  100 TB training run gets a reproducible random order without ever
  materializing a permutation on one node.
- ``multimodal_crossmodal_retrieval`` — CLIP-shaped cross-modal
  retrieval plumbing: fake image features (byte-histogram encoder from
  operators/multimodal.py) matched against JL-projected text
  embeddings by cosine; top-1 text per image via grouped_topk with the
  image side broadcast. Swap in a real vision encoder and only the
  mapInPandas body changes.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from change_data_capture_poc_spark.functions.artifacts import persisted
from change_data_capture_poc_spark.functions.hashing import (
    md5_mod,
    md5_prefix,
    md5_prefix_sql,
)
from change_data_capture_poc_spark.functions.text import BM25_SCORED_SQL
from change_data_capture_poc_spark.functions.vectors import JL
from change_data_capture_poc_spark.functions.windows import global_window
from change_data_capture_poc_spark.operators.chunking import (
    CDC_CHUNK_CTES,
    CDC_CHUNK_ORACLE,
    cdc_chunks,
)
from change_data_capture_poc_spark.operators.topk import grouped_topk
from change_data_capture_poc_spark.registry import register
from change_data_capture_poc_spark.sources.tables import load_table
from change_data_capture_poc_spark.queries.datapipe import text_bm25_retrieval


@register(
    "chunk_content_defined",
    oracle=CDC_CHUNK_ORACLE,
    doc="Content-defined chunking at word granularity (the storage-"
        "dedup 'CDC' idea applied to text, as in suffix/span dedup "
        "systems): a word whose portable md5 hits the cut mask "
        "(h % 8 == 0) ENDS a chunk, so boundaries are functions of "
        "content alone — a duplicated span yields byte-identical "
        "chunks at any document offset, which fixed-width chunking "
        "misses after a single insertion. Plan: MAP-ONLY and linear "
        "in document size — cut positions from one filter pass over "
        "the document's own word array, each chunk one slice of it "
        "(no explode, no window, no shuffle; the oracle states the "
        "equivalent running-cut-count window). Expected chunk length "
        "= mask = 8 words; at 100 TB the chunk table is ~n_words/8 "
        "rows of (ids, fp) — fingerprints only, text never leaves its "
        "partition.",
)
def chunk_content_defined(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cdc_chunks(spark, sf_dir).select(
        "doc_id", "chunk_idx", "n_words", "chunk_fp"
    )


@register(
    "chunk_cdc_dedup_report",
    oracle="WITH "
    + CDC_CHUNK_CTES
    + """,
    firsts AS (
        SELECT chunk_fp,
               MIN({'d': doc_id, 'i': chunk_idx}) AS fk
        FROM chunks GROUP BY chunk_fp
    )
    SELECT c.source,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN c.doc_id <> f.fk.d OR c.chunk_idx <> f.fk.i
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
           CAST(SUM(c.n_words) AS BIGINT) AS n_words_total,
           CAST(SUM(CASE WHEN c.doc_id <> f.fk.d OR c.chunk_idx <> f.fk.i
                         THEN c.n_words ELSE 0 END) AS BIGINT)
               AS dup_words,
           ROUND(SUM(CASE WHEN c.doc_id <> f.fk.d OR c.chunk_idx <> f.fk.i
                          THEN c.n_words ELSE 0 END) * 1.0
                 / SUM(c.n_words) + 1e-9, 6) AS dup_word_ratio
    FROM chunks c JOIN firsts f USING (chunk_fp)
    GROUP BY c.source
    """,
    doc="Chunk-level dedup accountability per source: an instance is a "
        "duplicate when its (doc_id, chunk_idx) is not the global "
        "first for its fingerprint (first = lexicographic struct-MIN "
        "over (doc_id, chunk_idx) — no packed-int key, so no aliasing "
        "at any chunk_idx range; exact arithmetic, no window). This is "
        "the bytes-saved readout of chunk-store dedup: word-weighted "
        "duplication ratio per source. Plan beyond the chunk build: "
        "one fingerprint-keyed aggregation + one fingerprint-keyed "
        "join + one |sources|-row rollup — the fingerprint table is "
        "the only thing shuffled, never text.",
)
def chunk_cdc_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from change_data_capture_poc_spark.functions.caching import (
        persist_once,
    )

    # The map-only chunk build feeds BOTH branches (instances and the
    # firsts index) — pin it once per the round-9 cache contract
    # instead of computing it twice.
    ch = cdc_chunks(spark, sf_dir).transform(persist_once)
    firsts = (
        ch.groupBy("chunk_fp")
        .agg(F.min(F.struct("doc_id", "chunk_idx")).alias("fk"))
        .select(
            "chunk_fp",
            F.col("fk.doc_id").alias("f_doc"),
            F.col("fk.chunk_idx").alias("f_idx"),
        )
    )
    dup = (
        (F.col("doc_id") != F.col("f_doc"))
        | (F.col("chunk_idx") != F.col("f_idx"))
    ).cast("int")
    return (
        ch.join(firsts, "chunk_fp")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(dup).cast("long").alias("n_dup_chunks"),
            F.sum("n_words").cast("long").alias("n_words_total"),
            F.sum(dup * F.col("n_words")).cast("long").alias("dup_words"),
            F.round(
                F.sum(dup * F.col("n_words")) * 1.0 / F.sum("n_words")
                + F.lit(1e-9),
                6,
            ).alias("dup_word_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# retrieval quality: nDCG@10 + MRR@100
# ---------------------------------------------------------------------------

# (qid, ranking term, relevance term): the ranker scores docs on the
# ranking term only; a doc is relevant iff it ALSO contains the
# relevance term (graded by capped tf) — proxy AND-judgments, so the
# metrics are non-degenerate (the ranker does not see the label).
_RETR_QUERIES = (
    ("spark->merge", "spark", "merge"),
    ("merge->window", "merge", "window"),
    ("window->scan", "window", "scan"),
    ("scan->spark", "scan", "spark"),
)
_RETR_TERMS = tuple(sorted({t for _, a, b in _RETR_QUERIES for t in (a, b)}))
_NDCG_K = 10
_MRR_K = 100


def _retr_oracle() -> str:
    terms_sql = ", ".join(f"'{t}'" for t in _RETR_TERMS)
    qs_sql = ", ".join(f"('{q}', '{a}', '{b}')" for q, a, b in _RETR_QUERIES)
    return f"""
    WITH base AS (
        SELECT doc_id, len(string_split(text, ' ')) AS dl,
               string_split(text, ' ') AS w
        FROM documents
    ),
    tok AS (SELECT doc_id, dl, unnest(w) AS tok FROM base),
    tf AS (
        SELECT doc_id, tok, MAX(dl) AS dl, COUNT(*) AS tf
        FROM tok WHERE tok IN ({terms_sql})
        GROUP BY doc_id, tok
    ),
    dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
    n AS (SELECT COUNT(*) AS n FROM documents),
    ad AS (SELECT AVG(dl) AS avgdl FROM base),
    qs(qid, rank_term, rel_term) AS (VALUES {qs_sql}),
    bm AS (
        SELECT q.qid, q.rel_term, t.doc_id,
               ROUND(ln((n.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
                     * (t.tf * 2.2)
                     / (t.tf + 1.2 * (0.25 + 0.75 * t.dl / ad.avgdl))
                     + 1e-9, 6) AS score
        FROM qs q
        JOIN tf t ON t.tok = q.rank_term
        JOIN dfreq d ON d.tok = q.rank_term, n, ad
    ),
    cand AS (
        SELECT b.qid, b.doc_id, b.score,
               CAST(LEAST(COALESCE(r.tf, 0), 3) AS INT) AS rel
        FROM bm b
        LEFT JOIN tf r ON r.doc_id = b.doc_id AND r.tok = b.rel_term
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                     ORDER BY score DESC, doc_id) AS rnk
        FROM cand
    ),
    ideal AS (
        SELECT qid, rel,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY rel DESC, doc_id) AS irnk
        FROM cand WHERE rel > 0
    ),
    ds AS (
        SELECT qid, COUNT(*) AS n_cand,
               SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS n_rel,
               SUM(CASE WHEN rnk <= {_NDCG_K}
                        THEN (POWER(2, rel) - 1) / log2(rnk + 1)
                        ELSE 0 END) AS dcg,
               MIN(CASE WHEN rel > 0 AND rnk <= {_MRR_K}
                        THEN rnk END) AS fr
        FROM ranked GROUP BY qid
    ),
    i AS (
        SELECT qid,
               SUM(CASE WHEN irnk <= {_NDCG_K}
                        THEN (POWER(2, rel) - 1) / log2(irnk + 1)
                        ELSE 0 END) AS idcg
        FROM ideal GROUP BY qid
    )
    SELECT ds.qid,
           CAST(n_cand AS BIGINT) AS n_cand,
           CAST(n_rel AS BIGINT) AS n_rel,
           ROUND(CASE WHEN COALESCE(idcg, 0) > 0 THEN dcg / idcg
                      ELSE 0 END + 1e-9, 6) AS ndcg10,
           ROUND(COALESCE(1.0 / fr, 0) + 1e-9, 6) AS mrr100
    FROM ds LEFT JOIN i USING (qid)
    """


@register(
    "eval_retrieval_ndcg_mrr",
    oracle=_retr_oracle(),
    doc="Retrieval-quality gate: nDCG@10 and MRR@100 for the BM25 "
        "single-term ranker against AND-term proxy judgments (rel = "
        "capped tf of a second term the ranker never sees). The "
        "oracle states the textbook full-window spec; the engine "
        "computes the SAME numbers scale-safely: ranked candidates "
        "cut to the MRR horizon (k=100) and ideal gains cut to the "
        "nDCG horizon (k=10) with grouped_topk (map-side partial "
        "top-k, k-bounded merge), so ranking windows only ever see "
        "<= k rows per query; corpus-sized work is one term-filtered "
        "explode + per-(doc, term) aggregation — the BM25 plan. "
        "Truncation is exact, not approximate: DCG@10 reads ranks "
        "<= 10, and MRR@100 is 0 beyond rank 100 by definition.",
)
def eval_retrieval_ndcg_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("dl"),
        F.split("text", " ").alias("w"),
    )
    tok = base.select("doc_id", "dl", F.explode("w").alias("tok"))
    tf = (
        tok.where(F.col("tok").isin(*_RETR_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.max("dl").alias("dl"), F.count(F.lit(1)).alias("tf"))
    )
    # dfreq's tok is re-aliased to a fresh attribute: tf appears three
    # times in this plan (ranking tf, relevance tf, and dfreq's
    # lineage), so every copy needs its own resolvable identity.
    dfreq = (
        tf.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .select(F.col("tok").alias("df_tok"), "df")
    )
    # One pass for BOTH corpus scalars (doc count and avg doclen) —
    # the old separate n/ad branches each re-scanned documents for a
    # 1-row broadcast, and cand's three consumers re-ran both scans.
    stats = base.agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    )
    qs = spark.createDataFrame(
        list(_RETR_QUERIES), "qid string, rank_term string, rel_term string"
    )
    t, r = tf.alias("t"), tf.alias("r")
    cand = (
        # bounded: literal query table (_RETR_QUERIES)
        F.broadcast(qs)
        .join(t, F.col("t.tok") == F.col("rank_term"))
        # bounded: dfreq capped at |_RETR_TERMS| rows
        .join(F.broadcast(dfreq), F.col("df_tok") == F.col("rank_term"))
        # bounded: 1-row (corpus count, avgdl) scalar pair
        .crossJoin(F.broadcast(stats))
        .join(
            r,
            (F.col("r.doc_id") == F.col("t.doc_id"))
            & (F.col("r.tok") == F.col("rel_term")),
            "left",
        )
        .select(
            "qid",
            F.col("t.doc_id").alias("doc_id"),
            F.round(
                F.log(
                    (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                    + 1.0
                )
                * (F.col("t.tf") * 2.2)
                / (
                    F.col("t.tf")
                    + 1.2 * (0.25 + 0.75 * F.col("t.dl") / F.col("avgdl"))
                )
                + F.lit(1e-9),
                6,
            ).alias("score"),
            F.least(F.coalesce(F.col("r.tf"), F.lit(0)), F.lit(3))
            .cast("int")
            .alias("rel"),
        )
    )
    from change_data_capture_poc_spark.functions.caching import (
        persist_once,
    )

    # Candidate set is bounded (|queries| x per-term posting lists) and
    # feeds THREE consumers (full, ranked, ideal) — without the pin each
    # replays the whole scoring join tree including the corpus scans.
    cand = cand.transform(persist_once)
    full = cand.groupBy("qid").agg(
        F.count(F.lit(1)).cast("long").alias("n_cand"),
        F.sum((F.col("rel") > 0).cast("int")).cast("long").alias("n_rel"),
    )
    wq = Window.partitionBy("qid")
    gain = F.pow(F.lit(2.0), F.col("rel")) - 1.0
    ranked = grouped_topk(
        cand, ["qid"], [("score", False), ("doc_id", True)], _MRR_K
    ).withColumn(
        "rnk",
        F.row_number().over(
            wq.orderBy(F.col("score").desc(), F.col("doc_id"))
        ),
    )
    ds = ranked.groupBy("qid").agg(
        F.sum(
            F.when(F.col("rnk") <= _NDCG_K, gain / F.log2(F.col("rnk") + 1))
            .otherwise(0.0)
        ).alias("dcg"),
        F.min(F.when(F.col("rel") > 0, F.col("rnk"))).alias("fr"),
    )
    ideal = grouped_topk(
        cand.where(F.col("rel") > 0).select("qid", "doc_id", "rel"),
        ["qid"],
        [("rel", False), ("doc_id", True)],
        _NDCG_K,
    ).withColumn(
        "irnk",
        F.row_number().over(
            wq.orderBy(F.col("rel").desc(), F.col("doc_id"))
        ),
    )
    ist = ideal.groupBy("qid").agg(
        F.sum(gain / F.log2(F.col("irnk") + 1)).alias("idcg")
    )
    return (
        full.join(ds, "qid")
        .join(ist, "qid", "left")
        .select(
            "qid",
            "n_cand",
            "n_rel",
            F.round(
                F.when(
                    F.coalesce("idcg", F.lit(0.0)) > 0,
                    F.col("dcg") / F.col("idcg"),
                ).otherwise(0.0)
                + F.lit(1e-9),
                6,
            ).alias("ndcg10"),
            F.round(
                F.coalesce(1.0 / F.col("fr"), F.lit(0.0)) + F.lit(1e-9), 6
            ).alias("mrr100"),
        )
    )


# ---------------------------------------------------------------------------
# reciprocal-rank fusion (hybrid retrieval)
# ---------------------------------------------------------------------------

_RRF_K = 60
_RRF_TOP = 20
# Fixed deterministic semantic query vector (shared-literal rule: the
# same 64 literals appear in both engines' expressions).
_RRF_QV = [((i * 37 + 11) % 21 - 10) / 10.0 for i in range(64)]
_RRF_QNORM = repr(math.sqrt(sum(c * c for c in _RRF_QV)))


def _rrf_oracle() -> str:
    qv_sql = ", ".join(repr(c) for c in _RRF_QV)
    return f"""
    WITH {BM25_SCORED_SQL},
    lex AS (
        SELECT doc_id, ROUND(SUM(s) + 1e-9, 6) AS bm25
        FROM scored GROUP BY doc_id
        ORDER BY bm25 DESC, doc_id LIMIT {_RRF_TOP}
    ),
    lexr AS (
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id)
                    AS INT) AS lex_rank
        FROM lex
    ),
    sem AS (
        SELECT vec_id,
               ROUND(list_reduce(list_transform(
                         list_zip(embedding::DOUBLE[], [{qv_sql}]),
                         p -> p[1] * p[2]), (a, b) -> a + b)
                     / (sqrt(list_reduce(list_transform(
                             embedding::DOUBLE[], x -> x * x),
                             (a, b) -> a + b)) * {_RRF_QNORM})
                     + 1e-9, 6) AS cosv
        FROM embeddings
        ORDER BY cosv DESC, vec_id LIMIT {_RRF_TOP}
    ),
    semr AS (
        SELECT vec_id AS doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY cosv DESC, vec_id)
                    AS INT) AS sem_rank
        FROM sem
    )
    SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
           l.lex_rank, s.sem_rank,
           ROUND(COALESCE(1.0 / ({_RRF_K} + l.lex_rank), 0)
                 + COALESCE(1.0 / ({_RRF_K} + s.sem_rank), 0)
                 + 1e-9, 6) AS rrf_score
    FROM lexr l FULL JOIN semr s ON l.doc_id = s.doc_id
    ORDER BY rrf_score DESC, doc_id LIMIT 10
    """


@register(
    "text_rrf_fusion",
    oracle=_rrf_oracle(),
    doc="Hybrid retrieval via reciprocal-rank fusion (RRF, k=60): fuse "
        "the lexical BM25 top-20 (text_bm25_retrieval's plan reused "
        "verbatim) with a semantic top-20 (cosine of every embedding "
        "against a fixed literal query vector — one map-side fold, "
        "norm constant inlined in both engines) by summing 1/(60 + "
        "rank) per system; emit the fused top-10. Scale shape: each "
        "system's list is k-bounded BEFORE any ranking window — "
        "TakeOrdered for both top-20s, then row_number over <= 20 "
        "rows via global_window (the deliberate bounded-frame single "
        "partition); the fusion join touches <= 40 rows. The corpus "
        "is scanned once per system, exactly the cost of running the "
        "two retrievers.",
)
def text_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    lex = text_bm25_retrieval(spark, sf_dir)
    lexr = lex.select(
        "doc_id",
        F.row_number()
        .over(global_window(F.col("bm25").desc(), F.col("doc_id")))
        .cast("int")
        .alias("lex_rank"),
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("e"),
    )
    qv_lits = ", ".join(f"{c}D" for c in _RRF_QV)
    cosv = F.round(
        F.expr(
            f"aggregate(zip_with(e, array({qv_lits}), (x, c) -> x * c), "
            "0D, (a, b) -> a + b)"
        )
        / (
            F.sqrt(
                F.expr(
                    "aggregate(transform(e, x -> x * x), 0D, "
                    "(a, b) -> a + b)"
                )
            )
            * float(_RRF_QNORM)
        )
        + F.lit(1e-9),
        6,
    )
    sem = (
        emb.select("vec_id", cosv.alias("cosv"))
        .orderBy(F.col("cosv").desc(), "vec_id")
        .limit(_RRF_TOP)
    )
    semr = sem.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(global_window(F.col("cosv").desc(), F.col("vec_id")))
        .cast("int")
        .alias("sem_rank"),
    )
    fused = lexr.join(semr, "doc_id", "full")
    rrf = F.round(
        F.coalesce(1.0 / (_RRF_K + F.col("lex_rank")), F.lit(0.0))
        + F.coalesce(1.0 / (_RRF_K + F.col("sem_rank")), F.lit(0.0))
        + F.lit(1e-9),
        6,
    )
    return (
        fused.select("doc_id", "lex_rank", "sem_rank", rrf.alias("rrf_score"))
        .orderBy(F.col("rrf_score").desc(), "doc_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# deterministic epoch shuffle plan
# ---------------------------------------------------------------------------

_SHUF_EPOCHS = 2
_SHUF_SHARDS = 8


@register(
    "corpus_epoch_shuffle_plan",
    oracle=f"""
    WITH ep AS (SELECT CAST(unnest(range({_SHUF_EPOCHS})) AS INT)
                    AS epoch),
    k AS (
        SELECT d.doc_id, ep.epoch,
               CAST({md5_prefix_sql(
                   "CAST(ep.epoch AS VARCHAR) || ':' "
                   "|| CAST(d.doc_id AS VARCHAR)", "duck")}
                    % {_SHUF_SHARDS} AS INT) AS shard,
               {md5_prefix_sql(
                   "CAST(ep.epoch AS VARCHAR) || '#' "
                   "|| CAST(d.doc_id AS VARCHAR)", "duck")} AS pkey
        FROM documents d, ep
    )
    SELECT epoch, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY epoch, shard
                                   ORDER BY pkey, doc_id) AS INT) AS pos,
           doc_id
    FROM k
    """,
    doc="Deterministic dataloader shuffle plan: for each epoch, every "
        "document gets a (shard, position) from seeded portable "
        "hashes — shard = h(epoch:doc) mod S, position = rank of "
        "h(epoch#doc) within the shard. Reproducible pseudo-random "
        "order per epoch (epochs decorrelated by the seed in the "
        "hash), no global permutation ever materialized: the only "
        "windows are per-(epoch, shard), so a 100 TB corpus shuffles "
        "once on the shard key and each shard sorts independently — "
        "the exact shape training loaders (e.g. deterministic "
        "data-order replay) need for resumable runs.",
)
def corpus_epoch_shuffle_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    ep = spark.range(_SHUF_EPOCHS).select(
        F.col("id").cast("int").alias("epoch")
    )
    # bounded: literal _SHUF_EPOCHS range
    x = d.crossJoin(F.broadcast(ep))
    sh = (
        md5_mod(
            F.concat(
                F.col("epoch").cast("string"),
                F.lit(":"),
                F.col("doc_id").cast("string"),
            ),
            _SHUF_SHARDS,
        )
    ).cast("int")
    pk = md5_prefix(
        F.concat(
            F.col("epoch").cast("string"),
            F.lit("#"),
            F.col("doc_id").cast("string"),
        )
    )
    k = x.select("doc_id", "epoch", sh.alias("shard"), pk.alias("pkey"))
    w = Window.partitionBy("epoch", "shard").orderBy("pkey", "doc_id")
    return k.select(
        "epoch",
        "shard",
        F.row_number().over(w).cast("int").alias("pos"),
        "doc_id",
    )


# ---------------------------------------------------------------------------
# cross-modal retrieval (fake image encoder vs JL-projected embeddings)
# ---------------------------------------------------------------------------

_XM_N_IMAGES = 32
_XM_DIM = 8  # image feature dim == JL projection dim


def _xm_oracle() -> str:
    proj_sql = ", ".join(
        "list_reduce(list_transform(list_zip(embedding::DOUBLE[], "
        f"[{', '.join(str(c) for c in row)}]), "
        "p -> p[1] * p[2]), (a, b) -> a + b)"
        for row in JL
    )
    return f"""
    WITH img AS (
        -- Byte-based histogram (not code-point ord()): the engine's
        -- fake encoder bins np.frombuffer(payload, uint8), so the
        -- oracle reads the BYTE at each offset out of
        -- to_hex(encode(text)) — identical for multi-byte text, the
        -- divergence class the round-8 advice flagged.
        SELECT doc_id,
               list_transform(range({_XM_DIM}), b -> CAST(
                   len(list_filter(range(octet_length(encode(text))),
                       i -> ('0x' || substring(to_hex(encode(text)),
                                               2 * i + 1, 2))::BIGINT
                            % {_XM_DIM} = b))
                   AS DOUBLE)) AS counts
        FROM documents WHERE doc_id < {_XM_N_IMAGES}
    ),
    pr AS (SELECT vec_id, [{proj_sql}] AS proj FROM embeddings),
    scored AS (
        SELECT img.doc_id, pr.vec_id,
               -- GREATEST floor on the norm product: a zero-length
               -- payload (all-zero counts) must score 0.0, not NaN
               -- (Spark NaN sorts above all reals; DuckDB 0/0 differs)
               ROUND(list_reduce(list_transform(
                         list_zip(img.counts, pr.proj),
                         p -> p[1] * p[2]), (a, b) -> a + b)
                     / GREATEST(
                         sqrt(list_reduce(list_transform(img.counts,
                             x -> x * x), (a, b) -> a + b))
                         * sqrt(list_reduce(list_transform(pr.proj,
                               x -> x * x), (a, b) -> a + b)),
                         1e-12)
                     + 1e-9, 6) AS score
        FROM img, pr
    )
    SELECT doc_id, vec_id AS best_vec_id, score,
           (vec_id = doc_id) AS self_match
    FROM scored
    QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, vec_id) = 1
    """


@register(
    "multimodal_crossmodal_retrieval",
    oracle=_xm_oracle(),
    doc="CLIP-shaped cross-modal retrieval: for each of 32 'images' "
        "(fake byte-histogram encoder through the REAL mapInPandas "
        "plumbing of operators/multimodal.extract_features_batch — "
        "swap in a vision model and only the Python body changes), "
        "find the best text embedding by cosine in a shared 8-dim "
        "space (text side = the JL sign projection reused from "
        "embedding_random_projection). Image counts are reconstructed "
        "EXACTLY from the float32 shares (round(share x n_bytes) — "
        "error << 0.5), so both engines score identical integers "
        "against identical fold-order projections. Scale shape: the "
        "query (image) side is broadcast; the corpus embedding table "
        "is scanned once, map-side scored, and cut to top-1 per image "
        "with grouped_topk — candidates never shuffle, only <= k x "
        "partitions survivors per image do.",
)
def multimodal_crossmodal_retrieval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from change_data_capture_poc_spark.operators.multimodal import (
        extract_features_batch,
    )

    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < _XM_N_IMAGES)
        .select("doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
    )
    feats = extract_features_batch(d, "payload", dim=_XM_DIM)
    img = feats.select(
        "doc_id",
        F.expr(
            "transform(features, x -> "
            "CAST(round(x * octet_length(payload)) AS DOUBLE))"
        ).alias("counts"),
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("e"),
    )
    proj = F.array(
        *[
            F.expr(
                "aggregate(zip_with(e, array({lits}), (x, c) -> x * c), "
                "0D, (a, b) -> a + b)".format(
                    lits=", ".join(f"{c}D" for c in row)
                )
            )
            for row in JL
        ]
    )
    pr = emb.select("vec_id", proj.alias("proj"))
    sumsq = (
        "aggregate(transform({v}, x -> x * x), 0D, (a, b) -> a + b)"
    )
    # greatest() floor mirrors the oracle: an empty payload yields an
    # all-zero counts vector; 0/0 is NaN in Spark (sorts ABOVE every
    # real score in the descending top-1) vs a different DuckDB result
    # — floor the norm product so both engines score exactly 0.0.
    score = F.round(
        F.expr(
            "aggregate(zip_with(counts, proj, (x, c) -> x * c), 0D, "
            "(a, b) -> a + b)"
        )
        / F.greatest(
            F.sqrt(F.expr(sumsq.format(v="counts")))
            * F.sqrt(F.expr(sumsq.format(v="proj"))),
            F.lit(1e-12),
        )
        + F.lit(1e-9),
        6,
    )
    # bounded: image set capped at _XM_N_IMAGES rows
    pairs = pr.crossJoin(F.broadcast(img)).select(
        "doc_id", "vec_id", score.alias("score")
    )
    top = grouped_topk(
        pairs, ["doc_id"], [("score", False), ("vec_id", True)], 1
    )
    return top.select(
        "doc_id",
        F.col("vec_id").alias("best_vec_id"),
        "score",
        (F.col("vec_id") == F.col("doc_id")).alias("self_match"),
    )


# ---------------------------------------------------------------------------
# entity resolution: multi-pass blocking -> scoring -> golden records
# ---------------------------------------------------------------------------

_ER_MAX_DIST = 2


def _er_contacts_ctes() -> str:
    """Dirty-contacts fixture + normalization + blocked/scored pairs,
    shared by both ER oracles. The dirty table is synthesized inline
    from ``customer`` with DETERMINISTIC perturbations (the
    dedup_exact_normalized pattern): every 5th entity gains a
    prefix-typo variant (4th char dropped), every 7th a suffix-typo
    variant (last char replaced) — so every 35th forms a 3-record
    cluster whose variants only connect transitively."""
    return f"""
    contacts AS (
        SELECT c_custkey * 10 AS rec_id, c_custkey, c_name AS name,
               c_nationkey, c_acctbal, c_mktsegment
        FROM customer
        UNION ALL
        SELECT c_custkey * 10 + 1, c_custkey,
               substring(c_name, 1, 3) || substring(c_name, 5),
               c_nationkey, c_acctbal, c_mktsegment
        FROM customer WHERE c_custkey % 5 = 0
        UNION ALL
        SELECT c_custkey * 10 + 2, c_custkey,
               substring(c_name, 1, length(c_name) - 1) || 'x',
               c_nationkey, c_acctbal, c_mktsegment
        FROM customer WHERE c_custkey % 7 = 0
    ),
    nrm AS (
        SELECT *, regexp_replace(lower(name), '[^a-z0-9]', '', 'g')
                   AS nname
        FROM contacts
    ),
    cand AS (
        SELECT a.rec_id AS rec_a, b.rec_id AS rec_b, 'suffix' AS pass
        FROM nrm a JOIN nrm b
          ON right(a.nname, 5) = right(b.nname, 5)
         AND a.rec_id < b.rec_id
        UNION ALL
        SELECT a.rec_id, b.rec_id, 'attrs' AS pass
        FROM nrm a JOIN nrm b
          ON a.c_nationkey = b.c_nationkey
         AND a.c_mktsegment = b.c_mktsegment
         AND CAST(floor(a.c_acctbal) AS BIGINT)
             = CAST(floor(b.c_acctbal) AS BIGINT)
         AND a.rec_id < b.rec_id
    ),
    prs AS (
        SELECT rec_a, rec_b,
               CAST(COUNT(DISTINCT pass) AS INT) AS n_passes
        FROM cand GROUP BY rec_a, rec_b
    ),
    scored AS (
        SELECT p.rec_a, p.rec_b, p.n_passes,
               CAST(levenshtein(na.nname, nb.nname) AS INT) AS name_dist
        FROM prs p
        JOIN nrm na ON na.rec_id = p.rec_a
        JOIN nrm nb ON nb.rec_id = p.rec_b
        WHERE na.c_nationkey = nb.c_nationkey
          AND levenshtein(na.nname, nb.nname) <= {_ER_MAX_DIST}
    )
    """


def _er_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized dirty-contacts frame (rec_id, c_custkey, name,
    c_nationkey, c_acctbal, c_mktsegment, nname)."""
    from change_data_capture_poc_spark.functions.caching import (
        persist_once,
    )

    c = load_table(spark, sf_dir, "customer")
    orig = c.select(
        (F.col("c_custkey") * 10).alias("rec_id"),
        "c_custkey",
        F.col("c_name").alias("name"),
        "c_nationkey",
        "c_acctbal",
        "c_mktsegment",
    )
    v1 = c.where(F.col("c_custkey") % 5 == 0).select(
        (F.col("c_custkey") * 10 + 1).alias("rec_id"),
        "c_custkey",
        F.concat(
            F.substring("c_name", 1, 3),
            F.expr("substring(c_name, 5)"),
        ).alias("name"),
        "c_nationkey",
        "c_acctbal",
        "c_mktsegment",
    )
    v2 = c.where(F.col("c_custkey") % 7 == 0).select(
        (F.col("c_custkey") * 10 + 2).alias("rec_id"),
        "c_custkey",
        F.concat(
            F.expr("substring(c_name, 1, length(c_name) - 1)"),
            F.lit("x"),
        ).alias("name"),
        "c_nationkey",
        "c_acctbal",
        "c_mktsegment",
    )
    return (
        orig.unionByName(v1)
        .unionByName(v2)
        .withColumn(
            "nname",
            F.regexp_replace(F.lower("name"), "[^a-z0-9]", ""),
        )
        # |customers|*1.3 rows, consumed by both blocking sides and the
        # golden-record survivorship join — pin once (persist_once
        # dedupes across the separate _er_norm calls by canonicalized
        # plan, so every consumer reads the same cached frame).
        .transform(persist_once)
    )


def _er_scored_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(rec_a, rec_b, n_passes, name_dist): accepted match pairs."""
    nrm = _er_norm(spark, sf_dir)
    a = nrm.select(
        F.col("rec_id").alias("rec_a"),
        F.col("nname").alias("nname_a"),
        F.col("c_nationkey").alias("nat_a"),
        F.col("c_mktsegment").alias("seg_a"),
        F.floor("c_acctbal").cast("long").alias("bal_a"),
        F.expr("right(nname, 5)").alias("sfx_a"),
    )
    b = nrm.select(
        F.col("rec_id").alias("rec_b"),
        F.col("nname").alias("nname_b"),
        F.col("c_nationkey").alias("nat_b"),
        F.col("c_mktsegment").alias("seg_b"),
        F.floor("c_acctbal").cast("long").alias("bal_b"),
        F.expr("right(nname, 5)").alias("sfx_b"),
    )
    lt = F.col("rec_a") < F.col("rec_b")
    dist = F.levenshtein("nname_a", "nname_b")
    # Nation equality and the edit-distance acceptance are PAIR-level
    # predicates (functions of the two rec ids only), so they commute
    # with the pass dedup: applying them inside each blocking join
    # keeps exactly the pairs the old post-group filter kept, while the
    # accepted name_dist rides along — no re-attach joins back to nrm
    # and fewer pre-aggregation rows in the pair shuffle (r13: plan
    # drops 2 joins + 2 customer scans).
    accept = (F.col("nat_a") == F.col("nat_b")) & (dist <= _ER_MAX_DIST)
    pass_a = (
        a.join(b, (F.col("sfx_a") == F.col("sfx_b")) & lt & accept)
        .select(
            "rec_a",
            "rec_b",
            dist.cast("int").alias("name_dist"),
            F.lit("suffix").alias("pass"),
        )
    )
    pass_b = (
        a.join(
            b,
            (F.col("nat_a") == F.col("nat_b"))
            & (F.col("seg_a") == F.col("seg_b"))
            & (F.col("bal_a") == F.col("bal_b"))
            & lt
            & (dist <= _ER_MAX_DIST),
        )
        .select(
            "rec_a",
            "rec_b",
            dist.cast("int").alias("name_dist"),
            F.lit("attrs").alias("pass"),
        )
    )
    return (
        pass_a.unionByName(pass_b)
        .groupBy("rec_a", "rec_b")
        .agg(
            F.countDistinct("pass").cast("int").alias("n_passes"),
            # functionally dependent on the pair; min == the value
            F.min("name_dist").alias("name_dist"),
        )
    )


@register(
    "er_candidate_pairs_blocked",
    oracle="WITH "
    + _er_contacts_ctes().strip()
    + """
    SELECT rec_a, rec_b, n_passes, name_dist FROM scored
    """,
    doc="Entity resolution, match stage: multi-pass BLOCKING (pass 1: "
        "normalized-name 5-char suffix; pass 2: exact attribute key "
        "nation+segment+floor(balance)) generates candidate pairs, "
        "then edit-distance scoring (levenshtein <= 2 on the "
        "normalized name, same nation) accepts matches. Multi-pass "
        "blocking is the standard recall device: a prefix typo "
        "survives pass 1, a suffix typo survives pass 2 — no "
        "single-key blocking catches both. Scale shape: each pass is "
        "one equi-join on a content-derived block key (never an "
        "all-pairs comparison; the quadratic is bounded by block "
        "size), the expensive levenshtein runs only on surviving "
        "candidates, and the dirty-records fixture is synthesized "
        "inline with deterministic perturbations so both engines see "
        "the identical input.",
)
def er_candidate_pairs_blocked(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _er_scored_pairs(spark, sf_dir)


@register(
    "er_golden_records",
    oracle="WITH RECURSIVE "
    + _er_contacts_ctes().strip()
    + """,
    edges AS (SELECT rec_a AS a, rec_b AS b FROM scored
              UNION SELECT rec_b, rec_a FROM scored),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    comp AS (
        SELECT a AS rec_id, LEAST(a, MIN(b)) AS cluster_id
        FROM reach GROUP BY a
    )
    SELECT c.cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_records,
           arg_min(n.name, n.rec_id) AS canonical_name,
           CAST(COUNT(DISTINCT n.c_custkey) AS BIGINT) AS n_entities,
           MAX(n.c_acctbal) AS max_acctbal,
           (COUNT(DISTINCT n.c_custkey) = 1) AS pure
    FROM comp c JOIN nrm n ON n.rec_id = c.rec_id
    GROUP BY c.cluster_id
    """,
    doc="Entity resolution, merge stage: accepted pairs become "
        "duplicate CLUSTERS via iterative min-label propagation "
        "(operators/components.py — one shuffle per round, diameter "
        "rounds, lineage truncated), then one golden record per "
        "cluster by survivorship rules: canonical name from the "
        "lowest rec_id (earliest-source-wins), max balance across "
        "variants, and a purity flag (did the cluster merge records "
        "of more than one true entity? — the ER quality gate; all "
        "clusters are pure on the deterministic fixture). The oracle "
        "replays the closure as a recursive CTE — safe at oracle "
        "scale; the engine never materializes the closure.",
)
def er_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    from change_data_capture_poc_spark.operators.components import (
        connected_components,
    )

    scored = _er_scored_pairs(spark, sf_dir)
    comp = connected_components(scored, src="rec_a", dst="rec_b")
    nrm = _er_norm(spark, sf_dir)
    return (
        comp.join(nrm, comp.node == nrm.rec_id)
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_records"),
            F.min(F.struct("rec_id", "name"))["name"].alias(
                "canonical_name"
            ),
            F.countDistinct("c_custkey").cast("long").alias("n_entities"),
            F.max("c_acctbal").alias("max_acctbal"),
            (F.countDistinct("c_custkey") == 1).alias("pure"),
        )
        .select(
            F.col("component").alias("cluster_id"),
            "n_records",
            "canonical_name",
            "n_entities",
            "max_acctbal",
            "pure",
        )
    )


# ---------------------------------------------------------------------------
# deep-graph connected components (large-star/small-star)
# ---------------------------------------------------------------------------


@register(
    "graph_components_chain_bigstar",
    oracle="""
    SELECT doc_id,
           MIN(doc_id) OVER (PARTITION BY source) AS component
    FROM documents
    """,
    doc="Connected components on a DEEP graph via the alternating "
        "large-star/small-star algorithm (Kiveris et al., "
        "operators/components.two_phase_components): the fixture "
        "chains each source's documents in doc_id order, so component "
        "diameter equals the per-source corpus size (5000 at sf0.1) — "
        "min-label propagation would need diameter rounds (its cap is "
        "25; it exists for SHALLOW near-dup clusters), while the star "
        "contraction converges in O(log^2 n) rounds regardless of "
        "diameter. Per round: two groupBy-min + join pairs (bounded "
        "shuffles over the shrinking edge set), lineage truncated per "
        "round, fixpoint detected by an overflow-free XOR checksum. "
        "The oracle states the ground truth directly (a chain's "
        "component is its source's minimum doc_id) — independent of "
        "any graph traversal, so it cannot share a bug with the "
        "engine's iteration.",
)
def graph_components_chain_bigstar(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from change_data_capture_poc_spark.operators.components import (
        two_phase_components,
    )

    d = load_table(spark, sf_dir, "documents").select("source", "doc_id")
    w = Window.partitionBy("source").orderBy("doc_id")
    e = (
        d.select(
            F.col("doc_id").alias("src"),
            F.lag("doc_id").over(w).alias("dst"),
        )
        .where(F.col("dst").isNotNull())
    )
    comp = two_phase_components(e)
    # two_phase_components only emits nodes with >=1 non-self-loop edge;
    # a 1-document source has no chain edge, so its doc must re-enter as
    # its own singleton component (the oracle's MIN OVER source covers
    # every document unconditionally).
    return d.join(comp, d.doc_id == comp.node, "left").select(
        "doc_id", F.coalesce("component", "doc_id").alias("component")
    )


# ---------------------------------------------------------------------------
# differentially-private quantile release (noisy histogram + CDF)
# ---------------------------------------------------------------------------

_DPQ_EPS = 0.5
_DPQ_BINS = 32
_DPQ_WIDTH = 16.0  # public grid [0, 512): data-independent, as DP requires
_DPQ_QS = (0.5, 0.95)
# ln-argument floor shared with privacy_dp_noisy_counts: caps |noise|
# and avoids the Spark-NULL-vs-DuckDB-inf ln(0) divergence.
_DPQ_LN_FLOOR = "2.3283064365386963e-10"


def _dpq_oracle() -> str:
    qs_sql = ", ".join(f"CAST({q} AS DOUBLE)" for q in _DPQ_QS)
    return f"""
    WITH grid AS (SELECT CAST(unnest(range({_DPQ_BINS})) AS INT) AS bin),
    c AS (
        SELECT CAST(LEAST(GREATEST(floor(value / {_DPQ_WIDTH}), 0),
                          {_DPQ_BINS - 1}) AS INT) AS bin,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1
    ),
    h AS (
        SELECT g.bin, COALESCE(c.cnt, 0) AS cnt,
               (('0x' || substring(md5('dpq:' || CAST(g.bin AS VARCHAR)),
                                   1, 8))::BIGINT
                % 4294967296) / 4294967296.0 AS uni
        FROM grid g LEFT JOIN c USING (bin)
    ),
    nz AS (
        SELECT bin,
               GREATEST(cnt
                   - (1.0 / {_DPQ_EPS})
                     * CASE WHEN uni - 0.5 < 0 THEN -1
                            WHEN uni - 0.5 > 0 THEN 1 ELSE 0 END
                     * ln(GREATEST(1 - 2 * ABS(uni - 0.5),
                                   {_DPQ_LN_FLOOR})), 0) AS ncnt
        FROM h
    ),
    cdf AS (
        SELECT bin, ncnt,
               SUM(ncnt) OVER (ORDER BY bin) AS cum,
               SUM(ncnt) OVER () AS total
        FROM nz
    ),
    qs AS (SELECT unnest([{qs_sql}]) AS q)
    SELECT qs.q,
           CAST((MIN(CASE WHEN ROUND(cdf.cum, 6)
                               >= ROUND(qs.q * cdf.total, 6)
                          THEN cdf.bin END) + 1) * {_DPQ_WIDTH}
                AS DOUBLE) AS released_value,
           ROUND(ANY_VALUE(cdf.total) + 1e-9, 6) AS noisy_total,
           CAST({_DPQ_BINS} AS INT) AS n_bins,
           CAST({_DPQ_EPS} AS DOUBLE) AS epsilon
    FROM qs, cdf
    GROUP BY qs.q
    """


@register(
    "privacy_dp_quantile",
    oracle=_dpq_oracle(),
    doc=f"DIFFERENTIALLY-PRIVATE quantile release (noisy-histogram "
        f"mechanism): counts on a PUBLIC fixed grid ({_DPQ_BINS} bins "
        f"of width {_DPQ_WIDTH} — data-independent bounds, as DP "
        f"requires), Laplace noise per bin (disjoint histogram, "
        f"sensitivity 1, epsilon={_DPQ_EPS}; md5-seeded inverse-CDF "
        f"draw shared with privacy_dp_noisy_counts so both engines "
        f"release the identical value), zero-clamped, then the "
        f"quantile read off the noisy CDF — post-processing, so it "
        f"costs no extra budget. Cumulative sums are rounded at 1e-6 "
        f"on BOTH sides of the threshold compare so cross-engine "
        f"float fold order cannot flip the selected bin. Scale shape: "
        f"one grouped-count shuffle over the corpus; everything after "
        f"is {_DPQ_BINS}-row arithmetic (the CDF window is a bounded "
        f"frame via global_window).",
)
def privacy_dp_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy(
        F.least(
            F.greatest(F.floor(F.col("value") / _DPQ_WIDTH), F.lit(0)),
            F.lit(_DPQ_BINS - 1),
        )
        .cast("int")
        .alias("bin")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    grid = spark.range(_DPQ_BINS).select(F.col("id").cast("int").alias("bin"))
    uni = (
        md5_prefix(F.concat(F.lit("dpq:"), F.col("bin").cast("string")))
        % F.lit(4294967296)
    ) / F.lit(4294967296.0)
    centered = uni - 0.5
    noise = (
        F.lit(-1.0 / _DPQ_EPS)
        * F.signum(centered)
        * F.log(
            F.greatest(
                1 - 2 * F.abs(centered), F.lit(float(_DPQ_LN_FLOOR))
            )
        )
    )
    # bounded: per-bin counts (constant grid)
    h = grid.join(F.broadcast(c), "bin", "left").select(
        "bin",
        F.greatest(
            F.coalesce("cnt", F.lit(0)) + noise, F.lit(0.0)
        ).alias("ncnt"),
    )
    wcum = global_window("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = global_window("bin").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cdf = h.select(
        "bin",
        F.sum("ncnt").over(wcum).alias("cum"),
        F.sum("ncnt").over(wall).alias("total"),
    )
    qs = spark.createDataFrame([(q,) for q in _DPQ_QS], "q double")
    hit = F.when(
        F.round(F.col("cum"), 6) >= F.round(F.col("q") * F.col("total"), 6),
        F.col("bin"),
    )
    return (
        # bounded: literal quantile table (_DPQ_QS)
        F.broadcast(qs)
        .crossJoin(cdf)
        .groupBy("q")
        .agg(
            ((F.min(hit) + 1) * _DPQ_WIDTH).alias("released_value"),
            F.round(F.first("total") + F.lit(1e-9), 6).alias("noisy_total"),
            F.lit(_DPQ_BINS).cast("int").alias("n_bins"),
            F.lit(float(_DPQ_EPS)).alias("epsilon"),
        )
    )


@register(
    "er_eval_planted_recall",
    oracle="WITH "
    + _er_contacts_ctes().strip()
    + """,
    planted AS (
        SELECT 'prefix_typo' AS variant,
               c_custkey * 10 AS rec_a, c_custkey * 10 + 1 AS rec_b
        FROM customer WHERE c_custkey % 5 = 0
        UNION ALL
        SELECT 'suffix_typo',
               c_custkey * 10, c_custkey * 10 + 2
        FROM customer WHERE c_custkey % 7 = 0
    )
    SELECT p.variant,
           CAST(COUNT(*) AS BIGINT) AS n_planted,
           CAST(SUM(CASE WHEN s.rec_a IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
           ROUND(SUM(CASE WHEN s.rec_a IS NOT NULL THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*) + 1e-9, 6) AS recall
    FROM planted p
    LEFT JOIN scored s ON s.rec_a = p.rec_a AND s.rec_b = p.rec_b
    GROUP BY p.variant
    """,
    doc="Entity-resolution quality gate: recall of the match stage "
        "against the PLANTED ground truth (the fixture's perturbations "
        "are known by construction, so the judgment set is exact — the "
        "eval every ER deployment runs on labeled pairs). Per "
        "perturbation type: how many planted duplicate pairs the "
        "blocking+scoring pipeline recovered. A blocking-key "
        "regression (e.g. dropping the attribute pass) shows up as "
        "suffix_typo recall collapsing while prefix_typo holds — the "
        "diagnostic shape that tells you WHICH pass broke. Completes "
        "the family trio (match, merge, eval) like every other "
        "operator family here. Scale: one broadcast join of the "
        "|planted|-row judgment set against the accepted pairs.",
)
def er_eval_planted_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    p1 = c.where(F.col("c_custkey") % 5 == 0).select(
        F.lit("prefix_typo").alias("variant"),
        (F.col("c_custkey") * 10).alias("rec_a"),
        (F.col("c_custkey") * 10 + 1).alias("rec_b"),
    )
    p2 = c.where(F.col("c_custkey") % 7 == 0).select(
        F.lit("suffix_typo").alias("variant"),
        (F.col("c_custkey") * 10).alias("rec_a"),
        (F.col("c_custkey") * 10 + 2).alias("rec_b"),
    )
    planted = p1.unionByName(p2)
    scored = _er_scored_pairs(spark, sf_dir).select(
        "rec_a", "rec_b", F.lit(1).alias("hit")
    )
    return (
        planted.join(scored, ["rec_a", "rec_b"], "left")
        .groupBy("variant")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_planted"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_found"),
            F.round(
                F.sum(F.coalesce("hit", F.lit(0))) * 1.0
                / F.count(F.lit(1))
                + F.lit(1e-9),
                6,
            ).alias("recall"),
        )
    )


# The delta cohort (doc_id % 10 == 7) probed against the fingerprints
# of the rest of the corpus: shared by the in-plan and the persisted-
# index variants, since persistence must not change the result.
_CHUNK_DELTA_ORACLE = (
    "WITH "
    + CDC_CHUNK_CTES
    + """,
    idx AS (
        SELECT DISTINCT chunk_fp FROM chunks WHERE doc_id % 10 <> 7
    ),
    delta AS (SELECT * FROM chunks WHERE doc_id % 10 = 7)
    SELECT d.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN i.chunk_fp IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_known_chunks,
           CAST(SUM(CASE WHEN i.chunk_fp IS NOT NULL
                         THEN d.n_words ELSE 0 END) AS BIGINT)
               AS known_words,
           ROUND(SUM(CASE WHEN i.chunk_fp IS NOT NULL
                          THEN d.n_words ELSE 0 END) * 1.0
                 / SUM(d.n_words) + 1e-9, 6) AS known_ratio
    FROM delta d LEFT JOIN idx i USING (chunk_fp)
    GROUP BY d.doc_id
    """
)


def _known_chunks(delta: DataFrame, idx: DataFrame) -> DataFrame:
    """Per delta document: its chunks, how many of their fingerprints
    ``idx`` (one distinct ``chunk_fp`` per row) already holds, and the
    share of its words they cover."""
    known = F.coalesce("known", F.lit(0))
    return (
        delta.join(idx.withColumn("known", F.lit(1)), "chunk_fp", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(known).cast("long").alias("n_known_chunks"),
            F.sum(known * F.col("n_words")).cast("long")
            .alias("known_words"),
            F.round(
                F.sum(known * F.col("n_words")) * 1.0 / F.sum("n_words")
                + F.lit(1e-9),
                6,
            ).alias("known_ratio"),
        )
    )


@register(
    "chunk_incremental_dedup",
    oracle=_CHUNK_DELTA_ORACLE,
    doc="Incremental chunk-store dedup — the arrival-time shape of "
        "chunk_cdc_dedup_report (and the chunk sibling of "
        "dedup_incremental_delta_index): newly-arriving documents "
        "(delta = doc_id % 10 == 7) are chunked and probed against "
        "the fingerprint INDEX of the existing corpus; per new "
        "document, how much of it is already stored chunk-for-chunk. "
        "The JOIN shape is the incremental contract: candidates are "
        "delta x index on the fp key, never delta x corpus, and the "
        "existing corpus contributes only fingerprints, never text. "
        "(The testdata has no arrival axis, so this POC models the "
        "index by chunking the corpus in-plan; production persists "
        "the fp index once and only the delta is chunked per run.) This is how a 100 TB chunk "
        "store ingests a daily drop: the known_ratio readout is the "
        "storage-saved/provenance signal per incoming document.",
)
def chunk_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from change_data_capture_poc_spark.functions.caching import (
        persist_once,
    )

    ch = cdc_chunks(spark, sf_dir).transform(persist_once)
    idx = ch.where(F.col("doc_id") % 10 != 7).select("chunk_fp").distinct()
    return _known_chunks(ch.where(F.col("doc_id") % 10 == 7), idx)


# ---------------------------------------------------------------------------
# persisted chunk-store index: offline build + incremental serve
# ---------------------------------------------------------------------------


def ensure_chunk_index(
    spark: SparkSession, sf_dir: str, force: bool = False
) -> str:
    """Build the persisted chunk-fingerprint index iff absent or stale
    — the chunk store's offline half: the existing corpus (everything
    outside the delta cohort doc_id % 10 == 7) is chunked ONCE and
    only its DISTINCT fingerprints are written
    (``fp_index.parquet``). Staleness is the documents table's stat
    fingerprint (functions/artifacts.persisted)."""
    def build(d: str) -> None:
        idx = (
            cdc_chunks(spark, sf_dir)
            .where(F.col("doc_id") % 10 != 7)
            .select("chunk_fp")
            .distinct()
        )
        idx.write.mode("overwrite").parquet(os.path.join(d, "fp_index.parquet"))

    return persisted("chunk_index", sf_dir, "documents", build, force)[0]


@register(
    "chunk_index_build",
    oracle="WITH "
    + CDC_CHUNK_CTES
    + """
    SELECT CAST(COUNT(DISTINCT chunk_fp) AS BIGINT) AS n_fps,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs_indexed
    FROM chunks WHERE doc_id % 10 <> 7
    """,
    doc="Chunk-store index BUILD — the offline half of the chunk "
        "lifecycle (chunk -> index -> incremental serve, mirroring "
        "the ANN and tokenizer build/serve splits): chunk the "
        "existing corpus once, persist only the distinct fingerprint "
        "set, record the source fingerprint for staleness. Returns "
        "the build census (distinct fps, docs indexed) so the oracle "
        "certifies the persisted artifact's content, not just its "
        "existence. At 100 TB the index is the corpus's chunk-level "
        "dedup state: fingerprints only, ~n_words/8 rows, "
        "re-shardable independently of the text.",
)
def chunk_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_chunk_index(spark, sf_dir, force=True)
    idx = spark.read.parquet(os.path.join(d, "fp_index.parquet"))
    src = cdc_chunks(spark, sf_dir).where(F.col("doc_id") % 10 != 7)
    return idx.agg(
        F.count(F.lit(1)).cast("long").alias("n_fps")
    ).crossJoin(
        src.agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs_indexed")
        )
    )


@register(
    "chunk_incremental_serve",
    oracle=_CHUNK_DELTA_ORACLE,
    doc="Chunk-store incremental SERVE — the online half: newly "
        "arriving documents (the delta cohort) are chunked fresh and "
        "probed against the PERSISTED fingerprint index; the existing "
        "corpus is never re-chunked at serve time (the cost shape "
        "chunk_incremental_dedup models in-plan — "
        "tests/test_pipeline10.py pins that this plan scans documents "
        "exactly once, for the delta, plus the index parquet). Same "
        "oracle as the in-plan variant: persistence must be "
        "transparent to the result.",
)
def chunk_incremental_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_chunk_index(spark, sf_dir)
    idx = spark.read.parquet(os.path.join(d, "fp_index.parquet"))
    delta = cdc_chunks(spark, sf_dir).where(F.col("doc_id") % 10 == 7)
    return _known_chunks(delta, idx)
