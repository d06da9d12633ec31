"""Round-3 pipeline operators: corpus curation (deterministic splits,
source-mix rebalancing, curriculum phasing), language-model statistics
(bigram scoring, tokenizer coverage), and evaluation harnesses (ANN
recall against exact ground truth, containment scoring on LSH
candidates).

These extend the reference's query surface (shalini-p16/
change-data-capture-poc delegates all querying to DuckDB SQL,
duckdb/scd2_example.sql) with the corpus-construction operations a
100 TB training-data pipeline runs after CDC landing — each one a
declarative DataFrame plan with a DuckDB oracle twin.

Shared determinism rule: every sampling/splitting decision hashes row
KEYS (md5, integer arithmetic) — never rand() — so results are
reproducible across runs, engines, and partitionings, and the oracle
can replay the exact decision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from change_data_capture_poc_spark.operators.ann import (
    embeddings_and_queries,
    recall_at_k,
    rounded_cos,
    variant_scores,
    variant_tag,
)
from change_data_capture_poc_spark.registry import register
from change_data_capture_poc_spark.sources.tables import load_table
from change_data_capture_poc_spark.functions.windows import (
    global_agg_window,
    global_window,
)
from change_data_capture_poc_spark.functions.caching import persist_once
from change_data_capture_poc_spark.functions.hashing import md5_mod
from change_data_capture_poc_spark.operators.minhash import (
    DUP_REACH_SQL,
    MINHASH_PAIRS_SQL,
    pair_grams,
    spark_grams,
)


# --------------------------------------------------------------------
# Corpus curation
# --------------------------------------------------------------------

@register(
    "split_train_val_test",
    oracle="""
    SELECT doc_id, lang, source,
           CASE WHEN h < 80 THEN 'train'
                WHEN h < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM (
        SELECT doc_id, lang, source,
               ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % 100 AS h
        FROM documents
    )
    """,
    doc="Deterministic 80/10/10 train/val/test assignment by key hash "
        "— the split must be a pure function of the document id so it "
        "is stable under reshards, re-runs, and incremental corpus "
        "growth (a doc never migrates between splits when new data "
        "lands). Map-only: no shuffle, no RNG, prunes to three "
        "columns at the scan.",
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", "lang", "source", split_assignment(F.col("doc_id"))
    )


def split_assignment(doc_id):
    """The 80/10/10 split label as a pure row-wise Column over a
    doc_id column — exposed so composing queries can stamp the split
    on any frame that already carries the id (leakage audit pairs,
    datacard rows) instead of joining the corpus-sized registered
    plan back on doc_id (r13: each such join replayed a corpus
    scan)."""
    h = md5_mod(doc_id, 100)
    return (
        F.when(h < 80, "train").when(h < 90, "val").otherwise("test")
        .alias("split")
    )


@register(
    "corpus_mix_rebalance",
    oracle="""
    WITH c AS (SELECT source, COUNT(*) AS cnt FROM documents GROUP BY source),
    m AS (SELECT MIN(cnt) AS mn FROM c),
    r AS (SELECT source, cnt, (mn * 1000) // cnt AS keep_permille
          FROM c, m)
    SELECT d.doc_id, d.source, r.keep_permille
    FROM documents d JOIN r USING (source)
    WHERE ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
          % 1000 < r.keep_permille
    """,
    doc="Source-mix rebalancing: downsample every source to (about) the "
        "size of the smallest one, so no single crawl dominates the "
        "training mix. Per-source keep rate = floor(min_count*1000/"
        "count) permille — INTEGER arithmetic end-to-end so engine and "
        "oracle make bit-identical keep decisions. One tiny agg "
        "(per-source counts -> broadcast) + a map-side hash filter; "
        "the corpus itself never shuffles.",
)
def corpus_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    c = d.groupBy("source").agg(F.count(F.lit(1)).alias("cnt"))
    # global min attached via bounded single-partition window (the old
    # broadcast branch re-ran the per-source corpus count a second time)
    rates = c.withColumn(
        "mn", F.min("cnt").over(global_agg_window())
    ).select(
        "source",
        ((F.col("mn") * 1000) / F.col("cnt"))
        .cast("long")
        .alias("keep_permille"),
    )
    return (
        # bounded: |sources| rate rows
        d.join(F.broadcast(rates), "source")
        .where(md5_mod(F.col("doc_id"), 1000) < F.col("keep_permille"))
        .select("doc_id", "source", "keep_permille")
    )


@register(
    "curriculum_quality_phases",
    oracle="""
    WITH t AS (
        SELECT quantile_cont(n_chars, 1.0/3) AS t33,
               quantile_cont(n_chars, 2.0/3) AS t66
        FROM documents
    )
    SELECT d.doc_id, d.lang, d.n_chars,
           CASE WHEN d.n_chars <= t.t33 THEN 0
                WHEN d.n_chars <= t.t66 THEN 1
                ELSE 2 END AS phase
    FROM documents d, t
    """,
    doc="Curriculum phasing: documents bucketed into 3 phases by exact "
        "length terciles (short -> long, the classic easy-to-hard "
        "schedule). Scale shape: the NAIVE formulation is a global "
        "sort + ntile window (single-partition killer); this one "
        "computes the two tercile thresholds in a scalar aggregate and "
        "broadcasts them back — the corpus is touched by two map-side "
        "passes and never globally sorted. Thresholds interpolate on "
        "INTEGER n_chars (exact .0/.5 values), so engine and oracle "
        "bucket identically.",
)
def curriculum_quality_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = d.agg(
        F.expr("percentile(n_chars, 1.0D/3.0D)").alias("t33"),
        F.expr("percentile(n_chars, 2.0D/3.0D)").alias("t66"),
    )
    # bounded: 1-row percentile thresholds
    return d.crossJoin(F.broadcast(t)).select(
        "doc_id",
        "lang",
        "n_chars",
        F.when(F.col("n_chars") <= F.col("t33"), 0)
        .when(F.col("n_chars") <= F.col("t66"), 1)
        .otherwise(2)
        .cast("int")
        .alias("phase"),
    )


_HOLDOUT_K = 50


@register(
    "eval_holdout_stratified_exact",
    oracle=f"""
    WITH c AS (SELECT source, COUNT(*) AS n_s FROM documents
               GROUP BY source),
    t AS (SELECT SUM(n_s) AS n FROM c),
    quota AS (
        SELECT source, n_s,
               ({_HOLDOUT_K} * n_s) // n AS base,
               ({_HOLDOUT_K} * n_s) % n AS rem
        FROM c, t
    ),
    short AS (SELECT {_HOLDOUT_K} - SUM(base) AS extra FROM quota),
    k AS (
        SELECT source,
               base + CASE WHEN ROW_NUMBER() OVER (
                               ORDER BY rem DESC, source) <= extra
                           THEN 1 ELSE 0 END AS k_s
        FROM quota, short
    ),
    ranked AS (
        SELECT d.doc_id, d.source,
               ROW_NUMBER() OVER (PARTITION BY d.source
                   ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id)
                   AS rk
        FROM documents d
    )
    SELECT r.doc_id, r.source, CAST(k.k_s AS BIGINT) AS source_quota
    FROM ranked r JOIN k USING (source)
    WHERE r.rk <= k.k_s
    """,
    doc=f"Exact-count stratified eval holdout: {_HOLDOUT_K} docs "
        f"allocated across sources by the largest-remainder method "
        f"(floor quotas, leftovers to the largest fractional parts, "
        f"source-name tie-break) — eval sets must mirror the corpus "
        f"mix EXACTLY, and rate-based sampling "
        f"(sample_stratified_hash) can miss a small source entirely. "
        f"Within each source the held-out docs are the md5-smallest "
        f"doc_ids: deterministic, stable under reshards, and unbiased "
        f"w.r.t. any content attribute. Allocation arithmetic runs on "
        f"the |sources|-row count table (integer-exact, no float "
        f"quotas); the corpus crosses one window shuffle on source.",
)
def eval_holdout_stratified_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    c = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    # corpus total and base-quota shortfall are globals over the
    # |sources|-row count table: attach both via the bounded
    # single-partition window (shared with w_rem's lit(0) partitioning,
    # so all three ride ONE tiny exchange) instead of two broadcast
    # branches each replaying the per-source corpus count.
    gw = global_agg_window()
    quota = c.withColumn("n", F.sum("n_s").over(gw)).select(
        "source",
        F.expr(f"({_HOLDOUT_K} * n_s) DIV n").alias("base"),
        (F.lit(_HOLDOUT_K) * F.col("n_s") % F.col("n")).alias("rem"),
    )
    w_rem = global_window(F.col("rem").desc(), "source")
    k = quota.select(
        "source",
        (
            F.col("base")
            + F.when(
                F.row_number().over(w_rem)
                <= F.lit(_HOLDOUT_K) - F.sum("base").over(gw),
                1,
            ).otherwise(0)
        ).cast("long").alias("k_s"),
    )
    # Keep the md5-smallest k_s docs per source WITHOUT ranking the
    # whole corpus in one window task per source: two-phase grouped
    # top-k (operators/topk.py) cuts each source to the overall cap
    # K >= k_s map-side, then the exact rank runs over the <= K x
    # |sources| survivors — constant-sized, not corpus-sized.
    from change_data_capture_poc_spark.operators.topk import grouped_topk

    keyed = d.select(
        "doc_id", "source",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    survivors = grouped_topk(
        keyed, ["source"], [("h", True), ("doc_id", True)], _HOLDOUT_K
    )
    w_src = Window.partitionBy("source").orderBy("h", "doc_id")
    ranked = survivors.select(
        "doc_id", "source", F.row_number().over(w_src).alias("rk")
    )
    return (
        # bounded: |sources| quota rows
        ranked.join(F.broadcast(k), "source")
        .where(F.col("rk") <= F.col("k_s"))
        .select("doc_id", "source", F.col("k_s").alias("source_quota"))
    )


# --------------------------------------------------------------------
# Language-model statistics
# --------------------------------------------------------------------

@register(
    "text_bigram_logprob",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    tok AS (SELECT doc_id, unnest(w) AS tok,
                   generate_subscripts(w, 1) AS pos FROM t),
    bg AS (SELECT a.doc_id, a.tok AS w1, b.tok AS w2
           FROM tok a JOIN tok b
             ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
    c2 AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY w1, w2),
    c1 AS (SELECT tok AS w1, COUNT(*) AS c FROM tok GROUP BY tok),
    v AS (SELECT COUNT(DISTINCT tok) AS vsz FROM tok),
    scored AS (
        SELECT bg.doc_id,
               ln((c2.c + 1.0) / (c1.c + v.vsz)) AS lp
        FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1), v
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(lp) + 1e-9, 6) AS avg_logprob
    FROM scored GROUP BY doc_id
    """,
    doc="Bigram language-model scoring with add-one smoothing: mean "
        "ln((c(w1,w2)+1)/(c(w1)+V)) per document — the next step up "
        "from text_unigram_logprob for fluency-based quality filtering "
        "(captures word-order junk a unigram model cannot). Bigrams "
        "come from one pass over the token array (transform on "
        "adjacent positions — no positional self-join on the engine "
        "side); the bigram/unigram count tables join back onto the "
        "bigram stream with AQE-chosen strategy (bigram cardinality "
        "grows with the corpus, so no forced broadcast).",
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("w")).where(
        F.size("w") >= 2
    )
    # Adjacent-pair structs in ONE array pass; the positional self-join
    # the oracle uses would shuffle the token stream twice.
    bg = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(slice(w, 1, size(w) - 1), "
                "(x, i) -> struct(x AS w1, element_at(w, i + 2) AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    tok = d.select(F.explode(F.split("text", " ")).alias("w1"))
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = tok.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    # Vocab size = row count of c1, NOT a second countDistinct over the
    # token stream: this branch's exchange canonicalizes equal to the
    # scored branch's c1 exchange, so runtime ReuseExchange dedups the
    # corpus-sized shuffle instead of running it twice.
    v = c1.agg(F.count(F.lit(1)).alias("vsz"))
    # No broadcast hints on c1/c2: a bigram table grows near-linearly
    # with corpus size (NOT Zipf-bounded like a unigram vocab), so a
    # forced broadcast would OOM at the 100 TB design point. AQE picks
    # broadcast when the runtime size allows and a shuffle hash join on
    # (w1, w2) / (w1) otherwise — the scale-safe shape. Only the 1-row
    # vocabulary-size aggregate keeps an explicit broadcast.
    scored = (
        bg.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        # bounded: 1-row vocab-size scalar
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            F.log((F.col("c2") + 1.0) / (F.col("c1") + F.col("vsz")))
            .alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(F.avg("lp") + 1e-9, 6).alias("avg_logprob"),
    )


_VOCAB_TOP = 500


@register(
    "tokenizer_oov_rate",
    oracle=f"""
    WITH tok AS (
        SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    vocab AS (
        SELECT tok FROM (
            SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok
            ORDER BY c DESC, tok LIMIT {_VOCAB_TOP}
        )
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS total_tokens,
           CAST(COUNT(*) FILTER (WHERE tok IN (SELECT tok FROM vocab))
                AS BIGINT) AS covered_tokens,
           ROUND(1.0 - COUNT(*) FILTER (WHERE tok IN (SELECT tok FROM vocab))
                 * 1.0 / COUNT(*) + 1e-9, 6) AS oov_rate
    FROM tok GROUP BY lang
    """,
    doc=f"Tokenizer coverage audit: out-of-vocabulary occurrence rate "
        f"per language against a frequency-built top-{_VOCAB_TOP} "
        f"vocabulary (ties broken by token for determinism) — the "
        f"check that a tokenizer trained on the majority language "
        f"doesn't shred minority-language text. The vocab is a "
        f"TakeOrdered top-k (partial per partition, no full sort) "
        f"broadcast back over the token stream as a left semi flag.",
)
def tokenizer_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "lang", F.explode(F.split("text", " ")).alias("tok")
    ).transform(persist_once)
    vocab = (
        tok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "tok")
        .limit(_VOCAB_TOP)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    # bounded: vocab capped at _VOCAB_TOP rows
    flagged = tok.join(F.broadcast(vocab), "tok", "left")
    return flagged.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("total_tokens"),
        F.sum(F.coalesce("in_vocab", F.lit(0))).cast("long")
        .alias("covered_tokens"),
        F.round(
            1.0
            - F.sum(F.coalesce("in_vocab", F.lit(0))) * 1.0
            / F.count(F.lit(1))
            + 1e-9,
            6,
        ).alias("oov_rate"),
    )


# --------------------------------------------------------------------
# Evaluation harnesses
# --------------------------------------------------------------------

_ANN_K = 5
_ANN_NQ = 8


@register(
    "eval_ann_recall",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv
          FROM e WHERE vec_id < {_ANN_NQ}),
    gt AS (
        SELECT q_id, neighbor_id FROM (
            SELECT q.q_id, e.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.q_id
                       ORDER BY ROUND(list_dot_product(e.v, q.qv) /
                           (sqrt(list_dot_product(e.v, e.v)) *
                            sqrt(list_dot_product(q.qv, q.qv))) + 1e-9, 6)
                           DESC, e.vec_id) AS rk
            FROM e, q WHERE e.vec_id != q.q_id
        ) WHERE rk <= {_ANN_K}
    ),
    ivf AS (
        SELECT q_id, neighbor_id FROM (
            SELECT q.q_id, e.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.q_id
                       ORDER BY ROUND(list_dot_product(e.v, q.qv) /
                           (sqrt(list_dot_product(e.v, e.v)) *
                            sqrt(list_dot_product(q.qv, q.qv))) + 1e-9, 6)
                           DESC, e.vec_id) AS rk
            FROM e JOIN q ON e.label = q.q_label AND e.vec_id != q.q_id
        ) WHERE rk <= {_ANN_K}
    )
    SELECT gt.q_id,
           CAST(COUNT(ivf.neighbor_id) AS BIGINT) AS hits,
           ROUND(COUNT(ivf.neighbor_id) * 1.0 / {_ANN_K} + 1e-9, 6)
               AS recall_at_{_ANN_K}
    FROM gt LEFT JOIN ivf USING (q_id, neighbor_id)
    GROUP BY gt.q_id
    """,
    doc=f"ANN quality gate: recall@{_ANN_K} of the IVF "
        f"(probe-own-partition) index against exact brute-force ground "
        f"truth, per query — the measurement that decides whether an "
        f"approximate index is allowed to replace the exact path in "
        f"the dedup/retrieval pipeline. Ranks use 1e-6-rounded cosine "
        f"with id tie-breaks so both engines rank identically (the "
        f"float-portability rule: normalize-then-dot vs dot/norms "
        f"differ in the last ulps and can flip an unrounded rank). "
        f"Reuses the registered brute-force and IVF query plans; the "
        f"comparison join is {_ANN_NQ}x{_ANN_K} rows — driver-scale "
        f"zero.",
)
def eval_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, en, q = embeddings_and_queries(spark, sf_dir, _ANN_NQ, True)
    # Fused dual ranking (r14): ground truth and IVF prediction rank
    # the SAME rounded cosine over subsets of the same candidate join —
    # the IVF candidates (label == q_label) are a subset of the exact
    # candidates — so one variant-tagged scan feeds both top-ks instead
    # of two joins each re-evaluating the dot fold (guide §1.2/§4).
    scored = (
        # bounded: query set capped at _N_QUERIES rows
        en.join(F.broadcast(q), F.col("vec_id") != F.col("q_id")).select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            rounded_cos("nv", "qnv").alias("cos"),
            variant_tag(F.col("label") == F.col("q_label")),
        )
    )
    return recall_at_k(scored, _ANN_K, f"recall_at_{_ANN_K}")


# --------------------------------------------------------------------
# Containment scoring on LSH candidates (asymmetric near-dup)
# --------------------------------------------------------------------

@register(
    "dedup_minhash_containment",
    oracle=f"""
    WITH {MINHASH_PAIRS_SQL}
    SELECT p.pa AS doc_id_a, p.pb AS doc_id_b,
           ROUND(len(list_intersect(ga.grams, gb.grams)) * 1.0
                 / len(ga.grams) + 1e-9, 6) AS containment_a,
           ROUND(len(list_intersect(ga.grams, gb.grams)) * 1.0
                 / len(gb.grams) + 1e-9, 6) AS containment_b
    FROM pairs p
    JOIN g ga ON ga.doc_id = p.pa
    JOIN g gb ON gb.doc_id = p.pb
    """,
    doc="Containment verification of minhash-LSH candidates: "
        "|A∩B|/|A| and |A∩B|/|B| over the exact 4-gram sets, per "
        "candidate pair. Jaccard misses SUBSET duplication (a doc "
        "wholly embedded in a longer one scores low Jaccard but "
        "containment ~1) — this is the signal sub-document dedup "
        "keys on. Scale shape: exact set intersection runs ONLY on "
        "LSH survivors (band equi-join output), never all pairs; the "
        "gram arrays join in by doc_id against the broadcast-sized "
        "candidate set, so the heavy column never enters an exchange "
        "(pair_grams documents why no participant pre-prune).",
)
def dedup_minhash_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from change_data_capture_poc_spark.queries.datapipe import (
        dedup_minhash_lsh,
    )

    d = load_table(spark, sf_dir, "documents")
    g = spark_grams(d)
    pairs = dedup_minhash_lsh(spark, sf_dir)
    ga, gb = pair_grams(g)
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    return (
        pairs.join(ga, "doc_id_a")
        .join(gb, "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            F.round(inter * 1.0 / F.size("grams_a") + 1e-9, 6).alias(
                "containment_a"
            ),
            F.round(inter * 1.0 / F.size("grams_b") + 1e-9, 6).alias(
                "containment_b"
            ),
        )
    )


# --------------------------------------------------------------------
# Budgeted corpus selection & span-level dedup
# --------------------------------------------------------------------

@register(
    "corpus_quality_token_budget",
    oracle="""
    WITH d AS (
        SELECT doc_id, n_chars, len(string_split(text, ' ')) AS n_tokens
        FROM documents
    ),
    b AS (SELECT (SUM(n_tokens) * 2) // 5 AS budget FROM d),
    run AS (
        SELECT doc_id, n_chars, n_tokens,
               SUM(n_tokens) OVER (ORDER BY n_chars DESC, doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum_tokens
        FROM d
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM run, b WHERE cum_tokens <= b.budget
    """,
    doc="Budgeted corpus selection: take documents in quality order "
        "(n_chars desc, doc_id tiebreak) until a token budget (40% of "
        "corpus tokens) is spent — the 'best data that fits the "
        "compute budget' cut every pretraining run makes. The naive "
        "plan is a running SUM over one global sort (single-partition "
        "window). This plan never globally sorts: score-decile "
        "thresholds (one scalar agg, broadcast) band the corpus, "
        "per-band token sums prefix over a bounded 10-row window, and "
        "each band's running sum is band-offset + band-local window — "
        "banded prefix-sum, same skeleton as global_ordinal_ids. "
        "Bands nest cleanly because banding and running order use the "
        "SAME key (n_chars desc, doc_id).",
)
def corpus_quality_token_budget(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    n_bands = 10
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", F.size(F.split("text", " ")).alias("n_tokens")
    )
    # Decile thresholds on the score; band 0 holds the HIGHEST scores
    # so band order equals running order. Budget and thresholds are
    # both corpus aggregates — ONE agg pass computes the pair (was two
    # separate corpus scans, one per broadcast branch); the budget
    # column rides through banding to the final cut.
    qs = ", ".join(str(1.0 - i / n_bands) for i in range(1, n_bands))
    th = d.agg(
        F.expr(f"percentile(n_chars, array({qs}))").alias("t"),
        ((F.sum("n_tokens") * 2) / 5).cast("long").alias("budget"),
    )
    # bounded: 1-row (percentile-array, budget) scalar
    banded = d.crossJoin(F.broadcast(th)).withColumn(
        "band",
        F.aggregate(
            "t",
            F.lit(0),
            lambda acc, t: acc
            + (F.col("n_chars") < t).cast("int"),
        ),
    ).drop("t")
    # `banded` now carries the budget column map-side; the final cut
    # reads it directly instead of a second broadcast branch.
    band_sums = banded.groupBy("band").agg(
        F.sum("n_tokens").alias("btok")
    )
    w_off = global_window("band").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = band_sums.select(
        "band",
        F.coalesce(F.sum("btok").over(w_off), F.lit(0)).alias("off"),
    )
    w_run = (
        Window.partitionBy("band")
        .orderBy(F.col("n_chars").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # bounded: n_bands offset rows
    run = banded.join(F.broadcast(offsets), "band").withColumn(
        "cum_tokens",
        (F.col("off") + F.sum("n_tokens").over(w_run)).cast("long"),
    )
    return run.where(F.col("cum_tokens") <= F.col("budget")).select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens"),
        "cum_tokens",
    )


_SPAN_N = 8


@register(
    "text_span_dedup_c4",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    spans AS (
        SELECT doc_id, s.pos,
               array_to_string(w[s.pos * {_SPAN_N} + 1 :
                                 s.pos * {_SPAN_N} + {_SPAN_N}], ' ')
                   AS span
        FROM t, LATERAL (
            SELECT unnest(range((len(w) + {_SPAN_N} - 1) // {_SPAN_N}))
                   AS pos
        ) s
    ),
    keeper AS (
        SELECT span, MIN(doc_id * 1000000 + pos) AS keep_key,
               COUNT(*) AS occ
        FROM spans GROUP BY span
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(COUNT(*) FILTER (
               WHERE k.occ > 1
                 AND s.doc_id * 1000000 + s.pos != k.keep_key
           ) AS BIGINT) AS n_removed,
           COALESCE(array_to_string(
               list(s.span ORDER BY s.pos) FILTER (
                   WHERE k.occ = 1
                      OR s.doc_id * 1000000 + s.pos = k.keep_key
               ), ' '), '') AS text_kept
    FROM spans s JOIN keeper k USING (span)
    GROUP BY s.doc_id
    """,
    doc=f"C4-style span-level dedup: documents are cut into "
        f"non-overlapping {_SPAN_N}-token spans; a span occurring "
        f"more than once in the corpus is kept ONLY at its first "
        f"global occurrence (min (doc_id, pos)) and removed "
        f"everywhere else — the boilerplate-removal pass that "
        f"deduplicates repeated paragraphs across pages without "
        f"dropping whole documents. Two hash shuffles (span "
        f"keeper-agg on the span hash, per-doc reassembly); the span "
        f"text itself never travels — the keeper table joins back on "
        f"the span key. Deterministic reassembly: spans re-concatenate "
        f"in position order.",
)
def text_span_dedup_c4(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("w"))
    spans = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform("
                f"  sequence(0, (size(w) + {_SPAN_N} - 1) DIV {_SPAN_N} - 1),"
                f"  p -> array_join(slice(w, p * {_SPAN_N} + 1, {_SPAN_N}),"
                f"                  ' '))"
            )
        ).alias("pos", "span"),
    )
    keeper = spans.groupBy("span").agg(
        F.min(F.col("doc_id") * 1000000 + F.col("pos")).alias("keep_key"),
        F.count(F.lit(1)).alias("occ"),
    )
    joined = spans.join(keeper, "span").withColumn(
        "kept",
        (F.col("occ") == 1)
        | (F.col("doc_id") * 1000000 + F.col("pos") == F.col("keep_key")),
    )
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum((~F.col("kept")).cast("long")).cast("long").alias("n_removed"),
        F.array_join(
            F.expr(
                "transform("
                "  array_sort(collect_list(CASE WHEN kept THEN "
                "    struct(pos, span) END)),"
                "  s -> s.span)"
            ),
            " ",
        ).alias("text_kept"),
    )


# --------------------------------------------------------------------
# Distributed PCA (top component) — matvec power iteration
# --------------------------------------------------------------------

_PCA_DIM = 64
_PCA_ITERS = 3


def _pca_oracle() -> str:
    it = """
    s{k} AS (SELECT vec_id, SUM(ci * wi) AS s
             FROM c JOIN w{p} USING (i) GROUP BY vec_id),
    u{k} AS (SELECT i, SUM(ci * s) AS u
             FROM c JOIN s{k} USING (vec_id) GROUP BY i),
    n{k} AS (SELECT sqrt(SUM(u * u)) AS n FROM u{k}),
    w{k} AS (SELECT i, u / n AS wi FROM u{k}, n{k})"""
    steps = ",".join(
        it.format(k=k, p=k - 1) for k in range(1, _PCA_ITERS + 1)
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    x AS (SELECT vec_id, generate_subscripts(v, 1) AS i, unnest(v) AS xi
          FROM e),
    mu AS (SELECT i, AVG(xi) AS m FROM x GROUP BY i),
    c AS (SELECT vec_id, i, xi - m AS ci FROM x JOIN mu USING (i)),
    w0 AS (SELECT i, 1.0 / {_PCA_DIM} AS wi
           FROM (SELECT unnest(range(1, {_PCA_DIM} + 1)) AS i)),
    {steps}
    SELECT c.vec_id, ROUND(SUM(ci * wi) + 1e-9, 6) AS pc1
    FROM c JOIN w{_PCA_ITERS} USING (i)
    GROUP BY c.vec_id
    """


@register(
    "embedding_pca_power_iteration",
    oracle=_pca_oracle(),
    doc=f"Top principal component by {_PCA_ITERS} power iterations, "
        f"projected per vector — the embedding-drift / dimensionality "
        f"diagnostic before quantization or clustering. The 100 TB "
        f"design point: the {_PCA_DIM}x{_PCA_DIM} covariance matrix is "
        f"NEVER materialized — each iteration computes G·w as "
        f"C^T(C·w): one map-side dot per row, then {_PCA_DIM} partial "
        f"sums in a scalar aggregate. The corpus is read "
        f"{_PCA_ITERS + 2} times and never shuffled; per-pass network "
        f"traffic is {_PCA_DIM} doubles per partition. Start vector "
        f"is the fixed uniform direction, so the iteration (and the "
        f"resulting sign) is fully deterministic and the oracle "
        f"unrolls the identical arithmetic as CTEs.",
)
def embedding_pca_power_iteration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    mu = e.agg(
        F.array(
            *[F.avg(F.col("v")[i]) for i in range(_PCA_DIM)]
        ).alias("mu")
    )
    c = (
        # bounded: 1-row mean vector
        e.crossJoin(F.broadcast(mu))
        .select(
            "vec_id",
            F.zip_with("v", "mu", lambda x, m: x - m).alias("c"),
        )
        .transform(persist_once)
    )
    # w carried as a 1-row broadcast frame; each iteration is
    # dot(c, w) map-side + 64 partial sums + in-row normalization.
    w = spark.range(1).select(
        F.array_repeat(F.lit(1.0 / _PCA_DIM), _PCA_DIM).alias("w")
    )
    dot = F.aggregate(
        F.zip_with("c", "w", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    for _ in range(_PCA_ITERS):
        # bounded: 1-row weight vector
        cw = c.crossJoin(F.broadcast(w)).select("vec_id", "c", dot.alias("s"))
        u = cw.agg(
            F.array(
                *[F.sum(F.col("c")[i] * F.col("s")) for i in range(_PCA_DIM)]
            ).alias("u")
        )
        w = u.select(
            F.transform(
                "u",
                lambda x: x
                / F.sqrt(
                    F.aggregate(
                        F.transform("u", lambda y: y * y),
                        F.lit(0.0),
                        lambda acc, y: acc + y,
                    )
                ),
            ).alias("w")
        )
    return (
        # bounded: 1-row weight vector
        c.crossJoin(F.broadcast(w))
        .select("vec_id", F.round(dot + 1e-9, 6).alias("pc1"))
    )


# --------------------------------------------------------------------
# Train/test leakage via near-duplicates
# --------------------------------------------------------------------

@register(
    "dedup_cross_split_leakage",
    oracle=f"""
    WITH {MINHASH_PAIRS_SQL},
    sp AS (
        SELECT doc_id,
               CASE WHEN h < 80 THEN 'train'
                    WHEN h < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM (
            SELECT doc_id,
                   ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                       ::BIGINT % 100 AS h
            FROM documents
        )
    )
    SELECT p.pa AS doc_id_a, p.pb AS doc_id_b,
           sa.split AS split_a, sb.split AS split_b
    FROM pairs p
    JOIN sp sa ON sa.doc_id = p.pa
    JOIN sp sb ON sb.doc_id = p.pb
    WHERE sa.split != sb.split
    """,
    doc="Train/test leakage audit: near-duplicate pairs (minhash-LSH "
        "candidates) whose two members landed in DIFFERENT splits — "
        "the eval-integrity failure mode where test documents have "
        "near-copies in training data and benchmark numbers go soft. "
        "Composes the LSH candidate generator with the hash split; "
        "the split assignment is a map-side hash (no extra shuffle), "
        "so the audit costs two broadcast joins over the candidate "
        "pairs only — never touches the corpus beyond what LSH "
        "already did. The fix loop: move flagged pairs' members into "
        "the same split, or drop the training-side member.",
)
def dedup_cross_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from change_data_capture_poc_spark.queries.datapipe import (
        dedup_minhash_lsh,
    )

    pairs = dedup_minhash_lsh(spark, sf_dir)
    # The split is a pure hash of the id, so stamp it straight onto
    # the pair columns — the old two joins against the corpus-sized
    # split frame replayed a documents scan per side (r13: 2 corpus
    # scans + 2 joins -> 0; every candidate id exists in documents by
    # construction, so the inner joins never dropped a pair).
    sa = split_assignment(F.col("doc_id_a")).alias("split_a")
    sb = split_assignment(F.col("doc_id_b")).alias("split_b")
    return (
        pairs.select("doc_id_a", "doc_id_b", sa, sb)
        .where(F.col("split_a") != F.col("split_b"))
        .select("doc_id_a", "doc_id_b", "split_a", "split_b")
    )


# --------------------------------------------------------------------
# Containment survivors & cross-source duplication report
# --------------------------------------------------------------------

_CONTAIN_T = 0.9


@register(
    "dedup_containment_survivors",
    oracle=f"""
    WITH {MINHASH_PAIRS_SQL},
    scored AS (
        SELECT p.pa, p.pb,
               len(list_intersect(ga.grams, gb.grams)) AS inter,
               len(ga.grams) AS na, len(gb.grams) AS nb
        FROM pairs p
        JOIN g ga ON ga.doc_id = p.pa
        JOIN g gb ON gb.doc_id = p.pb
    ),
    losers AS (
        SELECT DISTINCT CASE
            WHEN inter * 10 >= na * 9 AND inter * 10 >= nb * 9
                THEN GREATEST(pa, pb)
            WHEN inter * 10 >= na * 9 THEN pa
            ELSE pb
        END AS doc_id
        FROM scored
        WHERE inter * 10 >= na * 9 OR inter * 10 >= nb * 9
    )
    SELECT d.doc_id, d.source, d.n_chars
    FROM documents d
    WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = d.doc_id)
    """,
    doc=f"Sub-document dedup deliverable: for each LSH candidate pair, "
        f"if one doc's 4-gram set is >= {_CONTAIN_T:.0%} contained in "
        f"the other, the CONTAINED doc (the subset — it adds almost "
        f"nothing) is dropped; mutual containment drops the higher "
        f"doc_id. Containment test in exact INTEGER arithmetic "
        f"(inter*10 >= n*9), so engine and oracle agree bit-for-bit. "
        f"One anti-join of the corpus against the loser list — the "
        f"drop decision only ever touches LSH candidate pairs.",
)
def dedup_containment_survivors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from change_data_capture_poc_spark.queries.datapipe import (
        dedup_minhash_lsh,
    )

    d = load_table(spark, sf_dir, "documents")
    g = spark_grams(d)
    pairs = dedup_minhash_lsh(spark, sf_dir)
    ga, gb = pair_grams(g)
    scored = (
        pairs.join(ga, "doc_id_a")
        .join(gb, "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            F.size(F.array_intersect("grams_a", "grams_b")).alias("inter"),
            F.size("grams_a").alias("na"),
            F.size("grams_b").alias("nb"),
        )
    )
    a_in_b = F.col("inter") * 10 >= F.col("na") * 9
    b_in_a = F.col("inter") * 10 >= F.col("nb") * 9
    losers = (
        scored.where(a_in_b | b_in_a)
        .select(
            F.when(a_in_b & b_in_a, F.greatest("doc_id_a", "doc_id_b"))
            .when(a_in_b, F.col("doc_id_a"))
            .otherwise(F.col("doc_id_b"))
            .alias("doc_id")
        )
        .distinct()
    )
    return d.join(losers, "doc_id", "left_anti").select(
        "doc_id", "source", "n_chars"
    )


@register(
    "corpus_cross_source_dup_report",
    oracle=f"""
    WITH {MINHASH_PAIRS_SQL}
    SELECT LEAST(da.source, db.source) AS source_x,
           GREATEST(da.source, db.source) AS source_y,
           CAST(COUNT(*) AS BIGINT) AS n_dup_pairs
    FROM pairs p
    JOIN documents da ON da.doc_id = p.pa
    JOIN documents db ON db.doc_id = p.pb
    GROUP BY 1, 2
    """,
    doc="Which crawls duplicate each other: near-dup candidate pairs "
        "rolled up by unordered source pair — the diagnostic that "
        "decides which overlapping sources to drop or down-weight "
        "before paying for full dedup. Two broadcast-sized dimension "
        "joins over the candidate pairs (doc_id -> source), one "
        "dashboard-sized agg; the corpus itself is only touched by "
        "the LSH plan.",
)
def corpus_cross_source_dup_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from change_data_capture_poc_spark.queries.datapipe import (
        dedup_minhash_lsh,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    pairs = dedup_minhash_lsh(spark, sf_dir)
    da = d.select(
        F.col("doc_id").alias("doc_id_a"), F.col("source").alias("sa")
    )
    db = d.select(
        F.col("doc_id").alias("doc_id_b"), F.col("source").alias("sb")
    )
    return (
        pairs.join(da, "doc_id_a")
        .join(db, "doc_id_b")
        .groupBy(
            F.least("sa", "sb").alias("source_x"),
            F.greatest("sa", "sb").alias("source_y"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_dup_pairs"))
    )


# --------------------------------------------------------------------
# Source drift, two-stage retrieval, SCD2 history compaction
# --------------------------------------------------------------------

@register(
    "text_js_divergence_sources",
    oracle="""
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    c AS (SELECT source, tok, COUNT(*) AS n FROM tok GROUP BY source, tok),
    tot AS (SELECT source, SUM(n) AS t FROM c GROUP BY source),
    p AS (SELECT c.source, c.tok, c.n * 1.0 / tot.t AS p
          FROM c JOIN tot USING (source)),
    shared AS (
        SELECT a.source AS source_x, b.source AS source_y,
               SUM(0.5 * a.p * ln(2.0 * a.p / (a.p + b.p))
                 + 0.5 * b.p * ln(2.0 * b.p / (a.p + b.p))) AS s_terms,
               SUM(a.p) AS sa, SUM(b.p) AS sb
        FROM p a JOIN p b ON a.tok = b.tok AND a.source < b.source
        GROUP BY 1, 2
    ),
    allpairs AS (
        SELECT x.source AS source_x, y.source AS source_y
        FROM tot x JOIN tot y ON x.source < y.source
    )
    SELECT ap.source_x, ap.source_y,
           ROUND((COALESCE(s.s_terms, 0)
                  + 0.5 * ln(2.0)
                    * (2 - COALESCE(s.sa, 0) - COALESCE(s.sb, 0)))
                 / ln(2.0) + 1e-9, 6) AS js_divergence_bits
    FROM allpairs ap LEFT JOIN shared s USING (source_x, source_y)
    """,
    doc="Vocabulary drift between sources: pairwise Jensen-Shannon "
        "divergence (bits) of per-source unigram distributions — the "
        "corpus-QA check that flags a crawl whose language shifted "
        "(spam injection, encoding breakage) before it contaminates "
        "training. Identity that keeps the plan join-light: tokens "
        "present in only one source contribute 0.5·ln2·p, and their "
        "mass is 1 − Σ_shared p — so the whole statistic derives from "
        "the INNER join of the (source, token) probability tables "
        "(Zipf-small next to the corpus), no outer/anti joins; "
        "disjoint-vocabulary pairs come out exactly 1 bit via the "
        "all-pairs left join.",
)
def text_js_divergence_sources(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import math

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(F.split("text", " ")).alias("tok"))
    c = (
        tok.groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(persist_once)  # feeds the totals AND the p frame —
        # unpinned, each consumer replays the corpus explode+count
    )
    tot = c.groupBy("source").agg(F.sum("n").alias("t")).transform(persist_once)
    # bounded: |sources| total rows
    p = c.join(F.broadcast(tot), "source").select(
        "source", "tok", (F.col("n") * 1.0 / F.col("t")).alias("p")
    )
    # Each token's source vector is bounded by |sources|, so collect
    # it once and emit the x < y pairs with array functions — the old
    # shape self-joined the p frame on tok, which replayed its whole
    # upstream (corpus explode + two-level count) once per side and
    # shuffled both for the join (r13: 2 corpus passes + self-join ->
    # 1 pass + one |vocab|-row collect; array_sort orders by source,
    # so slice-generated pairs are exactly the source_x < source_y
    # join output).
    g = p.groupBy("tok").agg(
        F.array_sort(F.collect_list(F.struct("source", "p"))).alias("sp")
    )
    pair_arr = F.expr(
        "flatten(transform(sp, (x, i) ->"
        " transform(slice(sp, i + 2, size(sp) - i - 1), y ->"
        " struct(x.source AS source_x, y.source AS source_y,"
        " x.p AS pa, y.p AS pb))))"
    )
    m = F.col("pa") + F.col("pb")
    shared = (
        g.select(F.explode(pair_arr).alias("r"))
        .select("r.source_x", "r.source_y", "r.pa", "r.pb")
        .groupBy("source_x", "source_y")
        .agg(
            F.sum(
                0.5 * F.col("pa") * F.log(2.0 * F.col("pa") / m)
                + 0.5 * F.col("pb") * F.log(2.0 * F.col("pb") / m)
            ).alias("s_terms"),
            F.sum("pa").alias("sa"),
            F.sum("pb").alias("sb"),
        )
    )
    allpairs = (
        tot.select(F.col("source").alias("source_x"))
        .crossJoin(
            # bounded: |sources| rows (source domain)
            F.broadcast(tot.select(F.col("source").alias("source_y")))
        )
        .where(F.col("source_x") < F.col("source_y"))
    )
    return allpairs.join(
        # bounded: |sources|^2 pair aggregate rows
        F.broadcast(shared), ["source_x", "source_y"], "left"
    ).select(
        "source_x",
        "source_y",
        F.round(
            (
                F.coalesce("s_terms", F.lit(0.0))
                + 0.5
                * math.log(2.0)
                * (2 - F.coalesce("sa", F.lit(0.0)) - F.coalesce("sb", F.lit(0.0)))
            )
            / math.log(2.0)
            + 1e-9,
            6,
        ).alias("js_divergence_bits"),
    )


_RERANK_PROBE_K = 12


@register(
    "ann_two_stage_rerank",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv
          FROM e WHERE vec_id < 8),
    stage1 AS (
        SELECT q_id, neighbor_id, cos FROM (
            SELECT q.q_id, e.vec_id AS neighbor_id,
                   ROUND(list_dot_product(e.v, q.qv) /
                       (sqrt(list_dot_product(e.v, e.v)) *
                        sqrt(list_dot_product(q.qv, q.qv))) + 1e-9, 6)
                       AS cos,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.q_id
                       ORDER BY ROUND(list_dot_product(e.v, q.qv) /
                           (sqrt(list_dot_product(e.v, e.v)) *
                            sqrt(list_dot_product(q.qv, q.qv))) + 1e-9, 6)
                           DESC, e.vec_id) AS rk
            FROM e JOIN q ON e.label = q.q_label AND e.vec_id != q.q_id
        ) WHERE rk <= {_RERANK_PROBE_K}
    )
    SELECT q_id, neighbor_id, cos AS cosine
    FROM (
        SELECT q_id, neighbor_id, cos,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY cos DESC, neighbor_id) AS rk
        FROM stage1
    ) WHERE rk <= 5
    """,
    doc=f"Two-stage retrieval, the production ANN serving shape: "
        f"stage 1 probes the query's own IVF partition for a generous "
        f"candidate pool (top-{_RERANK_PROBE_K} by cosine), stage 2 "
        f"re-ranks that pool exactly and cuts to the final top-5. At "
        f"100 TB the pool join is the only corpus-touching stage and "
        f"shuffles on the partition label; the re-rank operates on "
        f"8x{_RERANK_PROBE_K} rows. Both stages rank on 1e-6-rounded "
        f"cosine with id tie-breaks (float-portability rule — the two "
        f"engines' float paths differ in the last ulps), and the "
        f"emitted cosine is that same rounded value.",
)
def ann_two_stage_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from change_data_capture_poc_spark.operators.topk import grouped_topk

    _, en, q = embeddings_and_queries(spark, sf_dir, 8, True)

    w = Window.partitionBy("q_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    # Stage-1 probe cut over the corpus-growing candidate set runs as
    # two-phase grouped top-k (operators/topk.py); the final rerank cut
    # keeps its window — its input is already <= probe_k rows per query.
    stage1 = grouped_topk(
        en.join(
            # bounded: query set capped at _N_QUERIES rows
            F.broadcast(q),
            (F.col("label") == F.col("q_label"))
            & (F.col("vec_id") != F.col("q_id")),
        ).select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            rounded_cos("nv", "qnv").alias("cos"),
        ),
        ["q_id"],
        [("cos", False), ("neighbor_id", True)],
        _RERANK_PROBE_K,
    )
    return (
        stage1.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
        .select(
            "q_id",
            "neighbor_id",
            F.col("cos").alias("cosine"),
        )
    )


_LEN_THRESHOLDS = (0, 50, 100, 200, 400, 800)


@register(
    "corpus_length_filter_tradeoff",
    oracle=f"""
    WITH base AS (
        SELECT n_chars, len(string_split(text, ' ')) AS n_tok
        FROM documents
    ),
    t AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS tot_tok,
                 CAST(COUNT(*) AS BIGINT) AS tot_docs FROM base)
    SELECT th.th AS min_chars,
           CAST(COUNT(*) FILTER (WHERE n_chars >= th.th) AS BIGINT)
               AS docs_kept,
           CAST(COALESCE(SUM(n_tok) FILTER (WHERE n_chars >= th.th), 0)
               AS BIGINT) AS tokens_kept,
           ROUND(COALESCE(SUM(n_tok) FILTER (WHERE n_chars >= th.th), 0)
                 * 1.0 / t.tot_tok + 1e-9, 6) AS token_share
    FROM base, t,
         (SELECT unnest([{", ".join(str(t) for t in _LEN_THRESHOLDS)}])
             AS th) th
    GROUP BY th.th, t.tot_tok
    """,
    doc=f"Length-filter tradeoff curve: docs and tokens retained at "
        f"each candidate min-length threshold {_LEN_THRESHOLDS} — the "
        f"knob-tuning readout run BEFORE committing a quality gate "
        f"(every pipeline drops short docs; this shows exactly how "
        f"much of the token budget each cutoff costs). One corpus "
        f"scan: the {len(_LEN_THRESHOLDS)}-row threshold list "
        f"broadcasts onto the stream and map-side partial aggregation "
        f"collapses the amplified rows to {len(_LEN_THRESHOLDS)} "
        f"partials per partition; output is a dashboard-sized curve.",
)
def corpus_length_filter_tradeoff(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "n_chars", F.size(F.split("text", " ")).alias("n_tok")
    )
    th = spark.createDataFrame(
        [(t,) for t in _LEN_THRESHOLDS], "th bigint"
    )
    keep = F.col("n_chars") >= F.col("th")
    return (
        # Every base row lands in every th group, so the
        # unconditional sum per group IS the corpus token total —
        # computed inside the same partial-agg pass instead of a
        # second corpus scan broadcast-attached to every pre-shuffle
        # row (r13: one corpus pass, narrower exchange rows).
        # bounded: th is a literal threshold table
        base.crossJoin(F.broadcast(th))
        .groupBy("th")
        .agg(
            F.sum(F.when(keep, 1).otherwise(0)).cast("long")
            .alias("docs_kept"),
            F.sum(F.when(keep, F.col("n_tok")).otherwise(0)).cast("long")
            .alias("tokens_kept"),
            F.sum("n_tok").cast("long").alias("tot_tok"),
        )
        .select(
            F.col("th").alias("min_chars"),
            "docs_kept",
            "tokens_kept",
            F.round(
                F.col("tokens_kept") * 1.0 / F.col("tot_tok") + F.lit(1e-9),
                6,
            ).alias("token_share"),
        )
    )


_DSIR_TARGET_LANG = "en"
_DSIR_TOP = 100


@register(
    "corpus_importance_sampling",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    c AS (SELECT tok, COUNT(*) AS cc,
                 COUNT(*) FILTER (WHERE lang = '{_DSIR_TARGET_LANG}') AS ct
          FROM tok GROUP BY tok),
    s AS (SELECT SUM(cc) AS nc, SUM(ct) AS nt, COUNT(*) AS v FROM c),
    sc AS (SELECT t.doc_id,
                  ln((c.ct + 1.0) / (s.nt + s.v))
                      - ln((c.cc + 1.0) / (s.nc + s.v)) AS lr
           FROM tok t JOIN c USING (tok), s),
    p AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                 ROUND(AVG(lr) + 1e-9, 6) AS importance
          FROM sc GROUP BY doc_id)
    SELECT doc_id, n_tokens, importance
    FROM p ORDER BY importance DESC, doc_id LIMIT {_DSIR_TOP}
    """,
    doc=f"DSIR-style importance sampling: each doc scored by the mean "
        f"per-token log-likelihood ratio between a TARGET domain's "
        f"unigram model (here the '{_DSIR_TARGET_LANG}' slice stands "
        f"in for 'high-quality domain') and the whole-corpus model, "
        f"add-one smoothed over the shared vocabulary — the standard "
        f"recipe for upsampling web data that 'looks like' a trusted "
        f"domain without training a classifier. Both count tables "
        f"come from ONE groupBy over the token stream (conditional "
        f"sum for the target side); totals/vocab-size ride a 1-row "
        f"broadcast; the vocab join back onto the token stream is "
        f"AQE-decided (corpus-growing table, no forced hint). "
        f"Deterministic top-{_DSIR_TOP} on the rounded score with "
        f"doc_id tie-break.",
)
def corpus_importance_sampling(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    c = tok.groupBy("tok").agg(
        F.count(F.lit(1)).alias("cc"),
        F.sum(
            F.when(F.col("lang") == _DSIR_TARGET_LANG, 1).otherwise(0)
        ).alias("ct"),
    )
    s = c.agg(
        F.sum("cc").alias("nc"),
        F.sum("ct").alias("nt"),
        F.count(F.lit(1)).alias("v"),
    )
    lr = F.log((F.col("ct") + 1.0) / (F.col("nt") + F.col("v"))) - F.log(
        (F.col("cc") + 1.0) / (F.col("nc") + F.col("v"))
    )
    sc = (
        tok.join(c, "tok")
        # bounded: 1-row class-stats scalar
        .crossJoin(F.broadcast(s))
        .select("doc_id", lr.alias("lr"))
    )
    p = sc.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.round(F.avg("lr") + F.lit(1e-9), 6).alias("importance"),
    )
    return p.orderBy(F.col("importance").desc(), "doc_id").limit(_DSIR_TOP)


_TRUNC_DIM = 16


@register(
    "eval_matryoshka_trunc_recall",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < {_ANN_NQ}),
    gt AS (
        SELECT q_id, neighbor_id FROM (
            -- cosine rounded at 1e-6 BEFORE ranking on both engines:
            -- Spark normalizes then dots, DuckDB dots then divides by
            -- norms — epsilon-close scores must not flip rank across
            -- the two float paths (repo float-sign portability rule).
            SELECT q.q_id, e.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.q_id
                       ORDER BY ROUND(list_dot_product(e.v, q.qv) /
                           (sqrt(list_dot_product(e.v, e.v)) *
                            sqrt(list_dot_product(q.qv, q.qv))) + 1e-9, 6)
                           DESC, e.vec_id) AS rk
            FROM e, q WHERE e.vec_id != q.q_id
        ) WHERE rk <= {_ANN_K}
    ),
    tr AS (
        SELECT q_id, neighbor_id FROM (
            SELECT q.q_id, e.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.q_id
                       ORDER BY ROUND(list_dot_product(e.v[1:{_TRUNC_DIM}],
                                                 q.qv[1:{_TRUNC_DIM}]) /
                           (sqrt(list_dot_product(e.v[1:{_TRUNC_DIM}],
                                                  e.v[1:{_TRUNC_DIM}])) *
                            sqrt(list_dot_product(q.qv[1:{_TRUNC_DIM}],
                                                  q.qv[1:{_TRUNC_DIM}])))
                           + 1e-9, 6)
                           DESC, e.vec_id) AS rk
            FROM e, q WHERE e.vec_id != q.q_id
        ) WHERE rk <= {_ANN_K}
    )
    SELECT gt.q_id,
           CAST(COUNT(tr.neighbor_id) AS BIGINT) AS hits,
           ROUND(COUNT(tr.neighbor_id) * 1.0 / {_ANN_K} + 1e-9, 6)
               AS recall_trunc{_TRUNC_DIM}_at_{_ANN_K}
    FROM gt LEFT JOIN tr USING (q_id, neighbor_id)
    GROUP BY gt.q_id
    """,
    doc=f"Matryoshka / truncated-dimension eval: recall@{_ANN_K} of "
        f"cosine search over only the first {_TRUNC_DIM} of 64 "
        f"dimensions vs full-dimension ground truth — the measurement "
        f"that decides whether the serving index can store {_TRUNC_DIM}-"
        f"dim prefixes (4x less memory/bandwidth) and rerank the rest, "
        f"the standard MRL deployment question. Same plan shape as "
        f"eval_ann_recall (broadcast query set, raw-cosine ranking "
        f"with id tie-breaks, {_ANN_NQ}x{_ANN_K}-row comparison); "
        f"truncation is a zero-cost array slice in the map stage.",
)
def eval_matryoshka_trunc_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from change_data_capture_poc_spark.functions.vectors import (
        unit_normalize,
    )

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    tv = F.expr(f"slice(v, 1, {_TRUNC_DIM})")
    en = e.select(
        "vec_id",
        unit_normalize(F.col("v")).alias("nv"),
        unit_normalize(tv).alias("tnv"),
    )
    q = en.where(F.col("vec_id") < _ANN_NQ).select(
        F.col("vec_id").alias("q_id"),
        F.col("nv").alias("qnv"),
        F.col("tnv").alias("qtnv"),
    )
    # Fused dual ranking (r14): full-dim truth and truncated-dim
    # prediction rank the same candidate pairs under different cosines
    # — one variant-tagged scan evaluates both dot folds per pair in a
    # single corpus pass instead of re-running the join per ranking
    # (guide §1.2/§4).
    scored = variant_scores(
        # bounded: query set capped at _N_QUERIES rows
        en.join(F.broadcast(q), F.col("vec_id") != F.col("q_id")),
        "cos",
        rounded_cos("nv", "qnv"),
        rounded_cos("tnv", "qtnv"),
    )
    return recall_at_k(
        scored, _ANN_K, f"recall_trunc{_TRUNC_DIM}_at_{_ANN_K}"
    )


_MMR_POOL_K = 12
_MMR_LAMBDA = 0.7


def _mmr_oracle() -> str:
    lam, om = _MMR_LAMBDA, round(1 - _MMR_LAMBDA, 6)
    return f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
               FROM embeddings),
    en AS (SELECT vec_id, label,
                  list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
                      AS nv
           FROM e),
    q AS (SELECT vec_id AS q_id, label AS q_label, nv AS qnv
          FROM en WHERE vec_id < 8),
    pool AS (
        SELECT q_id, nid, nv, ROUND(cos + 1e-9, 6) AS cos6 FROM (
            SELECT q.q_id, en.vec_id AS nid, en.nv,
                   list_dot_product(en.nv, q.qnv) AS cos,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.q_id
                       ORDER BY list_dot_product(en.nv, q.qnv) DESC,
                                en.vec_id) AS rk
            FROM en JOIN q ON en.label = q.q_label AND en.vec_id != q.q_id
        ) WHERE rk <= {_MMR_POOL_K}
    ),
    s1 AS (SELECT q_id, nid AS s1_nid, nv AS s1_nv, cos6 AS s1_score
           FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                     ORDER BY cos6 DESC, nid) AS rk FROM pool)
           WHERE rk = 1),
    c2 AS (SELECT p.q_id, p.nid, p.nv, p.cos6,
                  ROUND({lam} * p.cos6 - {om} *
                      ROUND(list_dot_product(p.nv, s1.s1_nv) + 1e-9, 6)
                      + 1e-9, 6) AS mmr
           FROM pool p JOIN s1 USING (q_id) WHERE p.nid != s1.s1_nid),
    s2 AS (SELECT q_id, nid AS s2_nid, nv AS s2_nv, mmr AS s2_score
           FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                     ORDER BY mmr DESC, nid) AS rk FROM c2)
           WHERE rk = 1),
    c3 AS (SELECT p.q_id, p.nid, p.cos6,
                  ROUND({lam} * p.cos6 - {om} * GREATEST(
                      ROUND(list_dot_product(p.nv, s1.s1_nv) + 1e-9, 6),
                      ROUND(list_dot_product(p.nv, s2.s2_nv) + 1e-9, 6))
                      + 1e-9, 6) AS mmr
           FROM pool p JOIN s1 USING (q_id) JOIN s2 USING (q_id)
           WHERE p.nid != s1.s1_nid AND p.nid != s2.s2_nid),
    s3 AS (SELECT q_id, nid AS s3_nid, mmr AS s3_score
           FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                     ORDER BY mmr DESC, nid) AS rk FROM c3)
           WHERE rk = 1)
    SELECT q_id, CAST(1 AS INT) AS rank, s1_nid AS neighbor_id,
           s1_score AS score FROM s1
    UNION ALL SELECT q_id, CAST(2 AS INT), s2_nid, s2_score FROM s2
    UNION ALL SELECT q_id, CAST(3 AS INT), s3_nid, s3_score FROM s3
    """


@register(
    "ann_mmr_diversified_rerank",
    oracle=_mmr_oracle(),
    doc=f"Maximal Marginal Relevance re-ranking: from each query's "
        f"top-{_MMR_POOL_K} cosine pool, greedily pick 3 results "
        f"maximizing lambda*relevance - (1-lambda)*max-similarity-to-"
        f"already-picked (lambda={_MMR_LAMBDA}) — the diversified "
        f"retrieval shape that stops a RAG context window filling "
        f"with {_MMR_POOL_K} near-copies of one document (the exact "
        f"failure near-dup corpora cause). The greedy loop unrolls to "
        f"one Arrow ``applyInPandas`` greedy pass over the POOL ONLY "
        f"(8x{_MMR_POOL_K} rows — the corpus is touched once, by the "
        f"pool join, like ann_two_stage_rerank; the bounded-frame case "
        f"where Python is safe). The fused pass replaced three "
        f"unrolled DataFrame argmax steps (8 shuffles / 21 windows of "
        f"stage overhead — the round-5 bench flag); every score/"
        f"similarity still rounds at 1e-6 (+1e-9 pre-round) before "
        f"each argmax so both engines pick identical results with id "
        f"tie-breaks.",
)
def ann_mmr_diversified_rerank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    from change_data_capture_poc_spark.functions.vectors import dot_product
    from change_data_capture_poc_spark.operators.topk import grouped_topk

    lam = _MMR_LAMBDA
    om = round(1 - _MMR_LAMBDA, 6)
    _, en, q = embeddings_and_queries(spark, sf_dir, 8, True)
    # Pool: the only corpus-touching stage. The per-query cut is
    # two-phase grouped top-k (operators/topk.py) — a window over 8
    # constant q_ids would sort every label-matched candidate in 8 hot
    # reducers; the partial heap bounds the exchange at
    # pool_k x n_partitions rows.
    scored = en.join(
        # bounded: query set capped at _N_QUERIES rows
        F.broadcast(q),
        (F.col("label") == F.col("q_label"))
        & (F.col("vec_id") != F.col("q_id")),
    ).select(
        "q_id",
        F.col("vec_id").alias("nid"),
        "nv",
        dot_product(F.col("nv"), F.col("qnv")).alias("cos"),
    )
    pool = grouped_topk(
        scored, ["q_id"], [("cos", False), ("nid", True)], _MMR_POOL_K
    ).select(
        "q_id", "nid", "nv",
        F.round(F.col("cos") + 1e-9, 6).alias("cos6"),
    )

    out_schema = T.StructType(
        [
            T.StructField("q_id", T.LongType()),
            T.StructField("rank", T.IntegerType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("score", T.DoubleType()),
        ]
    )

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        # One query's pool (<= pool_k rows). Sorted by nid ASC so
        # np.argmax's first-max tie-break == ORDER BY score DESC, nid.
        pdf = pdf.sort_values("nid").reset_index(drop=True)
        ids = pdf["nid"].to_numpy(dtype=np.int64)
        mat = np.stack(pdf["nv"].to_numpy())
        rel = pdf["cos6"].to_numpy(dtype=np.float64)
        n = len(ids)
        avail = np.ones(n, dtype=bool)
        # Running max-similarity-to-picked; -inf until the first pick,
        # matching the oracle (rank 1 scores on pure relevance).
        max_sim = np.full(n, -np.inf)
        ranks, picked_ids, scores = [], [], []
        for rank in range(1, min(3, n) + 1):
            if rank == 1:
                score = rel
            else:
                # Same arithmetic + rounding as the oracle's unrolled
                # steps: ROUND(lam*cos6 - om*max_sim6 + 1e-9, 6).
                score = np.round(lam * rel - om * max_sim + 1e-9, 6)
            best = int(np.argmax(np.where(avail, score, -np.inf)))
            ranks.append(rank)
            picked_ids.append(ids[best])
            scores.append(float(score[best]))
            avail[best] = False
            sims = np.round(mat @ mat[best] + 1e-9, 6)
            max_sim = np.maximum(max_sim, sims)
        return pd.DataFrame(
            {
                "q_id": np.full(len(ranks), pdf["q_id"].iloc[0]),
                "rank": np.array(ranks, dtype=np.int32),
                "neighbor_id": np.array(picked_ids, dtype=np.int64),
                "score": np.array(scores, dtype=np.float64),
            }
        )

    return pool.groupBy("q_id").applyInPandas(greedy, out_schema)


@register(
    "scd2_history_compaction",
    oracle="""
    WITH ch AS (
        SELECT user_id, event_id, value, ts,
               LAG(value) OVER (PARTITION BY user_id ORDER BY event_id)
                   AS prev_value
        FROM events WHERE user_id IS NOT NULL
    ),
    kept AS (
        SELECT user_id, event_id, value, ts
        FROM ch
        WHERE prev_value IS NULL OR value IS DISTINCT FROM prev_value
    )
    SELECT user_id, event_id AS version_lsn,
           ROUND(value + 1e-9, 6) AS value,
           CAST(COALESCE(LEAD(event_id) OVER (
               PARTITION BY user_id ORDER BY event_id) - 1,
               9223372036854775807) AS BIGINT) AS valid_to_lsn
    FROM kept
    """,
    doc="SCD2 history compaction: consecutive versions carrying an "
        "IDENTICAL payload are collapsed into one (no-op updates are "
        "the bulk of many real CDC feeds — heartbeats, touch-updates "
        "— and they bloat the dimension without adding information). "
        "LAG drops repeats, LEAD re-derives each surviving version's "
        "validity interval in LSN space (open tail = max bigint "
        "sentinel). Two keyed windows on user_id, nothing global; "
        "IS DISTINCT FROM handles NULL payloads on both engines.",
)
def scd2_history_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("event_id")
    ch = ev.select(
        "user_id",
        "event_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
    )
    kept = ch.where(
        F.col("prev_value").isNull()
        | ~F.col("value").eqNullSafe(F.col("prev_value"))
    )
    return kept.select(
        "user_id",
        F.col("event_id").alias("version_lsn"),
        F.round(F.col("value") + 1e-9, 6).alias("value"),
        F.coalesce(
            F.lead("event_id").over(w) - 1,
            F.lit(9223372036854775807),
        ).cast("long").alias("valid_to_lsn"),
    )


# --------------------------------------------------------------------
# Multi-iteration k-means (fixed 3 rounds, portable arithmetic)
# --------------------------------------------------------------------

_KM_ITERS = 3
_KM_K = 8
_KM_DIM = 64


def _kmeans_oracle() -> str:
    step = """
    d{k} AS (
        SELECT ed.vec_id, c.cid,
               ROUND(list_reduce(list_transform(list_zip(ed.e, c.c),
                         p -> (p[1] - p[2]) * (p[1] - p[2])),
                     (a, b) -> a + b) + 1e-9, 6) AS dist
        FROM ed, cent{p} c
    ),
    asgn{k} AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cid) AS rn
            FROM d{k}
        ) WHERE rn = 1
    ),
    cm{k} AS (
        SELECT a.cid, r.i AS dim, ROUND(AVG(ed.e[r.i]) + 1e-9, 6) AS v
        FROM asgn{k} a JOIN ed USING (vec_id),
             (SELECT unnest(range(1, {dim} + 1)) AS i) r
        GROUP BY a.cid, r.i
    ),
    cent{k} AS (
        SELECT cid, list(v ORDER BY dim) AS c
        FROM cm{k} GROUP BY cid
    )"""
    steps = ",".join(
        step.format(k=k, p=k - 1, dim=_KM_DIM)
        for k in range(1, _KM_ITERS + 1)
    )
    return f"""
    WITH ed AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    cent0 AS (SELECT vec_id AS cid, e AS c FROM ed WHERE vec_id < {_KM_K}),
    {steps}
    SELECT a.cid AS cluster_id, r.i AS dim,
           ROUND(AVG(ed.e[r.i]) + 1e-9, 6) AS centroid_val,
           CAST(COUNT(*) AS BIGINT) AS n_members
    FROM asgn{_KM_ITERS} a JOIN ed USING (vec_id),
         (SELECT unnest(range(1, {_KM_DIM} + 1)) AS i) r
    GROUP BY a.cid, r.i
    """


@register(
    "kmeans_multi_iter",
    oracle=_kmeans_oracle(),
    doc=f"K-means to {_KM_ITERS} full Lloyd iterations (assign -> "
        f"recompute, repeated) — extends kmeans_one_iter to the real "
        f"IVF-index training loop. Portability per round: distances "
        f"AND the re-estimated centroids are rounded at 1e-6, so both "
        f"engines feed bit-identical centroids into the next round "
        f"and every assignment matches. Scale shape per round "
        f"(the MLlib Lloyd shape): the k*{_KM_DIM} centroid table is "
        f"collected to the driver (bounded by the constant k, like the "
        f"blessed 8-row ANN query set) and folded into the map stage "
        f"as a least(struct(dist, cid)) expression, so assignment "
        f"needs NO shuffle at all; the recompute is {_KM_DIM} partial "
        f"means per cluster via map-side combine. The corpus is "
        f"re-read per round but never crosses the network; clusters "
        f"that lose all members drop out on both engines.",
)
def kmeans_multi_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from change_data_capture_poc_spark.functions.vectors import (
        centroid_argmin_expr as nearest,
    )
    from change_data_capture_poc_spark.functions.vectors import (
        collect_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    ed = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("e"),
    )
    ed.transform(persist_once)
    # Seed centroids = first K vectors. K is a compile-time constant, so
    # this collect (and the per-round one below) is bounded at K rows.
    cent = collect_centroids(ed, _KM_K)

    avg_aggs = [
        F.round(F.avg(F.col("e")[i]) + 1e-9, 6).alias(f"c{i}")
        for i in range(_KM_DIM)
    ]
    # First _KM_ITERS-1 rounds materialize re-estimated centroids on the
    # driver (k rows each); the final round stays lazy as the returned
    # plan, so round counts match the oracle's cent0..cent{n-1} chain.
    for _ in range(_KM_ITERS - 1):
        asgn = ed.select("e", nearest(cent).getField("cid").alias("cid"))
        rows = asgn.groupBy("cid").agg(*avg_aggs).collect()
        cent = sorted(
            (int(r["cid"]), [float(r[f"c{i}"]) for i in range(_KM_DIM)])
            for r in rows
        )
    final = ed.select("e", nearest(cent).getField("cid").alias("cid"))
    ed.unpersist()
    # Readout as ONE k-group aggregation with 64 avg columns (r14): the
    # old explode-then-groupBy(cluster, dim) shuffled n x 64 scalar
    # rows; per-cluster column aggregates are map-side partial (k x 65
    # values cross the exchange) and the (dim, value) rows are exploded
    # AFTER the agg — guide §2.3 "aggregate before you shuffle". Same
    # rounded avg per (cluster, dim), n_members = cluster size exactly
    # as the old per-dim count.
    return (
        final.groupBy(F.col("cid").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            *avg_aggs,
        )
        .select(
            "cluster_id",
            F.posexplode(
                F.array(*[F.col(f"c{i}") for i in range(_KM_DIM)])
            ).alias("dim0", "centroid_val"),
            "n_members",
        )
        .select(
            "cluster_id",
            (F.col("dim0") + 1).alias("dim"),
            "centroid_val",
            "n_members",
        )
    )


# --------------------------------------------------------------------
# Dup-graph statistics & shard manifests
# --------------------------------------------------------------------

@register(
    "dedup_cluster_size_histogram",
    oracle=f"""
    WITH RECURSIVE
    {MINHASH_PAIRS_SQL},
    {DUP_REACH_SQL},
    comps AS (
        SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
        FROM reach GROUP BY a
    ),
    sizes AS (
        SELECT cluster_id, COUNT(*) AS sz FROM comps GROUP BY cluster_id
    )
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(sz) AS BIGINT) AS n_docs
    FROM sizes GROUP BY sz
    """,
    doc="Duplicate-cluster size distribution: how many near-dup "
        "clusters of each size the corpus contains — the QA readout "
        "that distinguishes benign pairwise near-dups from a "
        "template-farm pathology (one giant cluster), and sizes the "
        "savings full dedup will buy. Connected components over the "
        "LSH pair graph, then two dashboard-sized aggs; the histogram "
        "adds nothing to the CC plan's shuffle budget.",
)
def dedup_cluster_size_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from change_data_capture_poc_spark.queries.datapipe import (
        dedup_cluster_label_propagation,
    )

    comps = dedup_cluster_label_propagation(spark, sf_dir)
    sizes = comps.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("sz"))
    return sizes.groupBy(F.col("sz").cast("long").alias("cluster_size")).agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("sz").cast("long").alias("n_docs"),
    )


@register(
    "corpus_shard_manifest",
    oracle="""
    WITH o AS (
        SELECT doc_id, n_chars,
               len(string_split(text, ' ')) AS n_tokens,
               ROW_NUMBER() OVER (ORDER BY doc_id) AS ordinal
        FROM documents
    )
    SELECT CAST((ordinal - 1) % 16 AS INT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS n_bytes,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
    FROM o GROUP BY 1
    """,
    doc="Shard manifest for dataset publishing: per round-robin shard "
        "(the global_ordinal_ids assignment), document / token / byte "
        "totals and the doc-id range — the metadata file a training "
        "loader reads to plan epochs without touching data. Reuses "
        "the banded-ordinal plan (no global window) + one agg on the "
        "16-value shard key. Round-robin keeps every shard within one "
        "document of even, so the manifest doubles as the balance "
        "check.",
)
def corpus_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from change_data_capture_poc_spark.queries.operators_q import (
        global_ordinal_ids,
    )

    ords = global_ordinal_ids(spark, sf_dir).select("doc_id", "shard")
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    return (
        ords.join(d, "doc_id")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.sum("n_chars").cast("long").alias("n_bytes"),
            F.min("doc_id").cast("long").alias("min_doc_id"),
            F.max("doc_id").cast("long").alias("max_doc_id"),
        )
    )


@register(
    "text_boilerplate_top_spans",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    spans AS (
        SELECT doc_id,
               array_to_string(w[s.pos * {_SPAN_N} + 1 :
                                 s.pos * {_SPAN_N} + {_SPAN_N}], ' ')
                   AS span
        FROM t, LATERAL (
            SELECT unnest(range((len(w) + {_SPAN_N} - 1) // {_SPAN_N}))
                   AS pos
        ) s
    )
    SELECT span,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM spans GROUP BY span
    HAVING COUNT(*) > 1
    ORDER BY n_occurrences DESC, span
    LIMIT 20
    """,
    doc=f"Top repeated {_SPAN_N}-token spans across the corpus — the "
        f"boilerplate leaderboard (cookie banners, nav bars, license "
        f"headers) that tells you WHAT text_span_dedup_c4 will remove "
        f"before you run it. One span-key shuffle + TakeOrdered "
        f"top-20 (partial per partition, no full sort); singleton "
        f"spans are filtered before the limit so the heavy tail never "
        f"ranks.",
)
def text_boilerplate_top_spans(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    spans = d.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform("
                f"  sequence(0, (size(split(text, ' ')) + {_SPAN_N} - 1) "
                f"              DIV {_SPAN_N} - 1),"
                f"  p -> array_join(slice(split(text, ' '), "
                f"                        p * {_SPAN_N} + 1, {_SPAN_N}), "
                f"                  ' '))"
            )
        ).alias("span"),
    )
    return (
        spans.groupBy("span")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
        )
        .where(F.col("n_occurrences") > 1)
        .orderBy(F.col("n_occurrences").desc(), "span")
        .limit(20)
    )


@register(
    "text_zipf_fit",
    oracle="""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    vocab AS (SELECT tok, COUNT(*) AS n FROM tok GROUP BY tok),
    ranked AS (
        SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS rnk
        FROM vocab
    )
    SELECT ROUND(regr_slope(ln(n), ln(rnk)) + 1e-9, 6) AS zipf_slope,
           ROUND(regr_r2(ln(n), ln(rnk)) + 1e-9, 6) AS r2,
           CAST(COUNT(*) AS BIGINT) AS vocab_size
    FROM ranked
    """,
    doc="Zipf-law fit over the vocabulary: OLS slope of ln(frequency) "
        "on ln(rank) plus R² — the tokenizer-health diagnostic (a "
        "healthy natural-language corpus fits slope ≈ -1; boilerplate "
        "floods or synthetic junk bend the curve). The global rank is "
        "the DISTRIBUTED operators/rank.with_global_row_number (range "
        "partition + P parallel sorters + triangular offset join), not "
        "a single-partition window: the vocabulary grows ~O(corpus^"
        "0.55) by Heaps' law, so at 100 TB it is billions of rows — a "
        "frame one task must never sort alone. Slope/R² are "
        "single-pass regr_* accumulators.",
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from change_data_capture_poc_spark.operators.rank import (
        with_global_row_number,
    )

    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ranked = with_global_row_number(
        vocab, [("n", False), ("tok", True)], out_col="rnk"
    ).select(
        F.log("n").alias("ln_n"),
        F.log(F.col("rnk").cast("double")).alias("ln_rnk"),
    )
    return ranked.agg(
        F.round(
            F.expr("regr_slope(ln_n, ln_rnk)") + 1e-9, 6
        ).alias("zipf_slope"),
        F.round(F.expr("regr_r2(ln_n, ln_rnk)") + 1e-9, 6).alias("r2"),
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
    )


@register(
    "text_vocab_coverage_curve",
    oracle="""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    vocab AS (SELECT tok, COUNT(*) AS n FROM tok GROUP BY tok),
    ranked AS (
        SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS rnk
        FROM vocab
    ),
    tot AS (SELECT SUM(n) AS t FROM ranked),
    k AS (SELECT unnest([100, 500, 1000, 5000]) AS vocab_k)
    SELECT k.vocab_k,
           ROUND(SUM(CASE WHEN r.rnk <= k.vocab_k THEN r.n ELSE 0 END)
                 * 1.0 / tot.t + 1e-9, 6) AS coverage
    FROM ranked r, k, tot
    GROUP BY k.vocab_k, tot.t
    """,
    doc="Vocabulary-size selection curve: fraction of all token "
        "occurrences covered by the top-k vocabulary for k in "
        "{100, 500, 1000, 5000} — the readout that picks a tokenizer "
        "budget (where the coverage curve flattens, stop paying for "
        "vocab). One corpus-sized token-count shuffle; only ranks <= "
        "max(k)=5000 can contribute, so the rank comes from a "
        "TakeOrderedAndProject top-5000 cut (map-side partial top-k, "
        "never a vocabulary-sized single-partition window) followed by "
        "sort_array+posexplode over the bounded 5000-row survivor set; "
        "the four coverage points are conditional sums in ONE "
        "aggregate pass, not four scans.",
)
def text_vocab_coverage_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    max_k = 5000
    # Global top-k plans as TakeOrderedAndProject (per-partition
    # bounded heap + k-row merge); rank within the <=5000 survivors is
    # position-in-sorted-array — no Window node anywhere.
    top = vocab.orderBy(F.col("n").desc(), "tok").limit(max_k)
    ranked = (
        top.agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        (-F.col("n")).alias("_o0"),
                        F.col("tok").alias("_o1"),
                        F.col("n").alias("n"),
                    )
                )
            ).alias("_a")
        )
        .select(F.posexplode("_a").alias("_pos", "_s"))
        .select(
            (F.col("_pos") + 1).alias("rnk"), F.col("_s.n").alias("n")
        )
    )
    tot = vocab.agg(F.sum("n").alias("t"))
    ks = spark.createDataFrame(
        [(100,), (500,), (1000,), (5000,)], "vocab_k int"
    )
    return (
        # bounded: literal vocab_k table + 1-row total
        ranked.crossJoin(F.broadcast(ks))
        .crossJoin(F.broadcast(tot))
        .groupBy("vocab_k")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("rnk") <= F.col("vocab_k"), F.col("n"))
                    .otherwise(0)
                )
                * 1.0
                / F.max("t")
                + 1e-9,
                6,
            ).alias("coverage")
        )
    )


@register(
    "embedding_centroid_drift",
    oracle="""
    WITH e AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ),
    mid AS (SELECT max(vec_id) // 2 AS m FROM e),
    halves AS (
        SELECT label, CASE WHEN vec_id <= m THEN 0 ELSE 1 END AS half,
               generate_subscripts(v, 1) AS i, unnest(v) AS x
        FROM e, mid
    ),
    cents AS (
        SELECT label, half, i, AVG(x) AS c
        FROM halves GROUP BY label, half, i
    ),
    paired AS (
        SELECT a.label, a.i, a.c AS c0, b.c AS c1
        FROM cents a JOIN cents b
          ON a.label = b.label AND a.i = b.i
         AND a.half = 0 AND b.half = 1
    )
    SELECT label,
           ROUND(sqrt(SUM((c0 - c1) * (c0 - c1))) + 1e-9, 6)
               AS centroid_l2_drift,
           CAST(COUNT(*) AS BIGINT) AS dim
    FROM paired GROUP BY label
    """,
    doc="Embedding drift per class: L2 distance between each label's "
        "centroid computed over the first and second half of the "
        "vector ids — the embedding-space twin of events_ks_drift "
        "(a re-embedding run or upstream model change moves class "
        "centroids; stable pipelines don't). Per-(label, half, dim) "
        "means via one skinny shuffle of exploded components; the "
        "centroid pairing joins 2·labels·64 rows — dashboard-sized.",
)
def embedding_centroid_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    mid = e.agg(F.expr("max(vec_id) div 2").alias("m"))
    halves = (
        # bounded: 1-row split scalar
        e.crossJoin(F.broadcast(mid))
        .select(
            "label",
            F.when(F.col("vec_id") <= F.col("m"), 0).otherwise(1)
            .alias("half"),
            F.posexplode("v").alias("i0", "x"),
        )
        .select("label", "half", (F.col("i0") + 1).alias("i"), "x")
    )
    cents = halves.groupBy("label", "half", "i").agg(
        F.avg("x").alias("c")
    )
    a = cents.where(F.col("half") == 0).select(
        "label", "i", F.col("c").alias("c0")
    )
    b = cents.where(F.col("half") == 1).select(
        F.col("label").alias("label_b"),
        F.col("i").alias("i_b"),
        F.col("c").alias("c1"),
    )
    paired = a.join(
        b,
        (F.col("label") == F.col("label_b")) & (F.col("i") == F.col("i_b")),
    )
    return paired.groupBy("label").agg(
        F.round(
            F.sqrt(F.sum((F.col("c0") - F.col("c1")) ** 2)) + 1e-9, 6
        ).alias("centroid_l2_drift"),
        F.count(F.lit(1)).cast("long").alias("dim"),
    )


_RESAMPLE_BUDGET = 1000  # docs to draw across sources
_RESAMPLE_ALPHA = 0.7    # temperature exponent (XLM/mT5 convention)


@register(
    "corpus_temperature_resample",
    oracle=f"""
    WITH c AS (SELECT source, COUNT(*) AS n_s FROM documents
               GROUP BY source),
    t AS (SELECT SUM(n_s) AS n FROM c),
    -- 1e6-scaled integer weights; everything downstream is
    -- integer-exact (no float quotas, no CAST-rounding divergence).
    -- The 1e-3 nudge before ROUND(...,0) absorbs a <=1-ulp pow()
    -- disagreement between JVM Math.pow and libm at a mathematically
    -- exact .5 boundary (the float-sign portability rule, scaled to
    -- this magnitude).
    w AS (SELECT source, n_s,
                 CAST(ROUND(pow(n_s, {_RESAMPLE_ALPHA}) * 1e6 + 1e-3, 0)
                      AS BIGINT) AS w6
          FROM c),
    ws AS (SELECT SUM(w6) AS wsum FROM w),
    quota AS (
        SELECT source, n_s, w6,
               ({_RESAMPLE_BUDGET} * w6) // wsum AS base,
               ({_RESAMPLE_BUDGET} * w6) % wsum AS rem
        FROM w, ws
    ),
    short AS (SELECT {_RESAMPLE_BUDGET} - SUM(base) AS extra FROM quota)
    SELECT q.source,
           CAST(q.n_s AS BIGINT) AS n_docs,
           ROUND(q.n_s * 1.0 / t.n + 1e-9, 6) AS n_share,
           ROUND(q.w6 * 1.0 / ws.wsum + 1e-9, 6) AS q_share,
           CAST(q.base + CASE WHEN ROW_NUMBER() OVER (
                                  ORDER BY q.rem DESC, q.source) <= s.extra
                              THEN 1 ELSE 0 END AS BIGINT) AS target_docs
    FROM quota q, t, ws, short s
    """,
    doc=f"Temperature-based source resampling (XLM / mT5 multilingual "
        f"sampling): draw {_RESAMPLE_BUDGET} docs with per-source "
        f"probability q_s proportional to p_s^{_RESAMPLE_ALPHA} — "
        f"flattening the source distribution so long-tail sources are "
        f"up-weighted without letting any single crawl dominate. "
        f"Targets are EXACT counts via the largest-remainder method "
        f"on 1e6-scaled integer weights (same integer-exact allocation "
        f"as eval_holdout_stratified_exact; float enters only in the "
        f"one ROUND(pow*1e6) per source, identical on both engines). "
        f"Everything runs on the |sources|-row count table after one "
        f"agg shuffle; the remainder ranking window spans |sources| "
        f"rows (bounded frame). Reference has no sampling machinery — "
        f"LLM-pipeline extension.",
)
def corpus_temperature_resample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    c = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    # All three globals (doc total, weight sum, base-quota shortfall)
    # are sums over the |sources|-row count table: attach them via the
    # bounded single-partition window (shared with w_rem's lit(0)
    # partitioning) instead of three broadcast branches each replaying
    # the per-source corpus count.
    gw = global_agg_window()
    w = c.select(
        "source",
        "n_s",
        # 1e-3 nudge: see the oracle comment (pow ulp portability)
        F.round(
            F.pow("n_s", F.lit(_RESAMPLE_ALPHA)) * 1e6 + F.lit(1e-3), 0
        )
        .cast("long")
        .alias("w6"),
    ).withColumn("n", F.sum("n_s").over(gw)).withColumn(
        "wsum", F.sum("w6").over(gw)
    )
    quota = w.select(
        "source",
        "n_s",
        "w6",
        "wsum",
        "n",
        F.expr(f"({_RESAMPLE_BUDGET} * w6) DIV wsum").alias("base"),
        (F.lit(_RESAMPLE_BUDGET) * F.col("w6") % F.col("wsum")).alias(
            "rem"
        ),
    )
    w_rem = global_window(F.col("rem").desc(), "source")
    return quota.select(
        "source",
        F.col("n_s").cast("long").alias("n_docs"),
        F.round(F.col("n_s") * 1.0 / F.col("n") + F.lit(1e-9), 6)
        .alias("n_share"),
        F.round(F.col("w6") * 1.0 / F.col("wsum") + F.lit(1e-9), 6)
        .alias("q_share"),
        (
            F.col("base")
            + F.when(
                F.row_number().over(w_rem)
                <= F.lit(_RESAMPLE_BUDGET) - F.sum("base").over(gw),
                1,
            ).otherwise(0)
        ).cast("long").alias("target_docs"),
    )
