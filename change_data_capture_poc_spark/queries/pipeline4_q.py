"""Round-5 pipeline operators: retrieval-prep chunking, sketch-based
heavy hitters, and multiprobe IVF evaluation.

Extends the LLM-data-pipeline surface (SURVEY.md north-star) with the
three operations a retrieval/curation loop still reached for:

- ``corpus_chunk_sliding_window`` — RAG-style overlapping token-window
  chunking, the step between document curation and embedding.
- ``text_heavy_hitters_misra_gries`` — deterministic heavy hitters via
  per-partition Misra-Gries summaries + exact candidate rescan: the
  two-pass pattern that finds >N/k tokens without a full-vocabulary
  shuffle.
- ``ann_ivf_multiprobe_recall`` — recall@k of IVF probing the TOP-P
  nearest centroid partitions (vs the probe-own-partition baseline in
  ``eval_ann_recall``), the standard recall/latency knob of a
  production ANN index.

Same determinism rules as the rest of the surface: no rand(); every
cross-engine float rank is rounded at 1e-6 with id tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from change_data_capture_poc_spark.operators.ann import (
    CENTROID_LIST_SQL,
    MP_K,
    MP_NQ,
    MP_P,
    embeddings_and_queries,
    label_centroids,
    probe_labels,
    recall_at_k,
    rounded_cos,
    variant_tag,
)
from change_data_capture_poc_spark.functions.hashing import md5_mod
from change_data_capture_poc_spark.operators.chunking import (
    CHUNK_ORACLE,
    CHUNK_S,
    CHUNK_W,
    chunk_sliding_window,
)
from change_data_capture_poc_spark.operators.sketch import (
    MG_K,
    MG_ORACLE,
    mg_candidates,
    mg_heavy_hitters,
)
from change_data_capture_poc_spark.registry import register
from change_data_capture_poc_spark.sources.tables import load_table

@register(
    "corpus_chunk_sliding_window",
    oracle=CHUNK_ORACLE,
    doc=f"RAG chunking: every document split into overlapping "
        f"{CHUNK_W}-token windows at stride {CHUNK_S} (overlap "
        f"{CHUNK_W - CHUNK_S}) — the retrieval-prep step between "
        f"curation and embedding. Chunk count is closed-form "
        f"(1 + ceil((n-W)/S)), so the plan is one map-side "
        f"sequence+explode per doc: zero shuffles, zero UDFs, and the "
        f"chunk layout is deterministic for incremental re-chunking. "
        f"The final chunk may be short (n - i*S tokens); empty docs "
        f"yield one ''-chunk on both engines (split('') -> ['']).",
)
def corpus_chunk_sliding_window(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return chunk_sliding_window(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )


@register(
    "corpus_chunk_dedup_rate",
    oracle=f"""
    WITH chunks AS ({CHUNK_ORACLE}),
    j AS (
        SELECT d.source, c.chunk_text
        FROM chunks c JOIN documents d USING (doc_id)
    ),
    g AS (
        SELECT source, chunk_text, COUNT(*) AS f
        FROM j GROUP BY source, chunk_text
    )
    SELECT source,
           CAST(SUM(f) AS BIGINT) AS n_chunks,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_chunks,
           ROUND(1.0 - COUNT(*) * 1.0 / SUM(f) + 1e-9, 6)
               AS dup_fraction,
           CAST(MAX(f) AS BIGINT) AS max_chunk_freq
    FROM g GROUP BY source
    """,
    doc="Chunk-level duplication readout per source: after sliding-"
        "window chunking (same W/S as corpus_chunk_sliding_window), "
        "what fraction of chunks are redundant and how hot is the "
        "hottest chunk — the signal that decides whether chunk-level "
        "exact dedup is worth a pass before embedding (boilerplate "
        "headers/footers duplicate at chunk granularity even when "
        "documents are unique). Scale shape: one (source, chunk-hash) "
        "shuffle with map-side partial counts, then a |sources|-row "
        "rollup; the chunk text itself never needs to survive past "
        "the first agg at 100 TB (group on a hash).",
)
def corpus_chunk_dedup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    chunks = corpus_chunk_sliding_window(spark, sf_dir).select(
        "doc_id", "chunk_text"
    )
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    g = (
        chunks.join(src, "doc_id")
        .groupBy("source", "chunk_text")
        .agg(F.count("*").alias("f"))
    )
    return g.groupBy("source").agg(
        F.sum("f").cast("long").alias("n_chunks"),
        F.count("*").cast("long").alias("n_distinct_chunks"),
        F.round(1.0 - F.count("*") * 1.0 / F.sum("f") + 1e-9, 6).alias(
            "dup_fraction"
        ),
        F.max("f").cast("long").alias("max_chunk_freq"),
    )


@register(
    "text_heavy_hitters_misra_gries",
    oracle=MG_ORACLE,
    doc=f"Exact heavy hitters (tokens with frequency > N/{MG_K}) via "
        f"the two-pass sketch pattern: phase 1 folds each partition "
        f"through a {MG_K}-counter Misra-Gries summary (Arrow "
        f"mapInPandas, bounded state, zero shuffle) whose survivors "
        f"are a GUARANTEED superset of the true heavy hitters "
        f"(pigeonhole: a token over-threshold globally is "
        f"over-threshold in some partition); phase 2 rescans with an "
        f"exact count restricted to the <= {MG_K} x partitions "
        f"candidates (broadcast semi-join) and applies the threshold "
        f"on exact counts. Output is therefore EXACT and "
        f"partitioning-independent — the oracle is the plain "
        f"full-vocabulary GROUP BY the sketch avoids shuffling at "
        f"100 TB.",
)
def text_heavy_hitters_misra_gries(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    toks = load_table(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("tok")
    )
    return mg_heavy_hitters(toks, mg_candidates(toks).distinct())


@register(
    "ann_ivf_multiprobe_recall",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
               FROM embeddings),
    q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv
          FROM e WHERE vec_id < {MP_NQ}),
    cent AS (SELECT label, {CENTROID_LIST_SQL} AS c FROM e GROUP BY label),
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
            SELECT q.q_id, e.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.q_id
                       ORDER BY ROUND(list_dot_product(e.v, q.qv) /
                           (sqrt(list_dot_product(e.v, e.v)) *
                            sqrt(list_dot_product(q.qv, q.qv)))
                           + 1e-9, 6)
                           DESC, e.vec_id) AS rk
            FROM e
            JOIN probed p ON e.label = p.label
            JOIN q ON q.q_id = p.q_id AND e.vec_id != q.q_id
        ) WHERE rk <= {MP_K}
    ),
    gt AS (
        SELECT q_id, neighbor_id FROM (
            SELECT q.q_id, e.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.q_id
                       ORDER BY ROUND(list_dot_product(e.v, q.qv) /
                           (sqrt(list_dot_product(e.v, e.v)) *
                            sqrt(list_dot_product(q.qv, q.qv)))
                           + 1e-9, 6)
                           DESC, e.vec_id) AS rk
            FROM e, q WHERE e.vec_id != q.q_id
        ) WHERE rk <= {MP_K}
    )
    SELECT gt.q_id,
           CAST(COUNT(mp.neighbor_id) AS BIGINT) AS hits,
           ROUND(COUNT(mp.neighbor_id) * 1.0 / {MP_K} + 1e-9, 6)
               AS recall_at_{MP_K}
    FROM gt LEFT JOIN mp USING (q_id, neighbor_id)
    GROUP BY gt.q_id
    """,
    doc=f"Multiprobe IVF recall@{MP_K}: each query probes its TOP-"
        f"{MP_P} nearest centroid partitions (per-label mean vectors) "
        f"instead of only its own label — the standard recall/latency "
        f"knob that recovers neighbors living just across a partition "
        f"boundary (compare eval_ann_recall's single-probe baseline). "
        f"Scale shape: centroids come from one map-side-partial "
        f"aggregation (|labels| x dim partial sums cross the "
        f"exchange, operators/ann.label_centroids); the query-centroid "
        f"ranking is |queries| x |labels| through grouped_topk (never "
        f"a corpus window); candidate scoring touches only the probed "
        f"partitions via a label equi-join. All ranks on 1e-6-rounded "
        f"cosine with id tie-breaks (float-portability rule).",
)
def ann_ivf_multiprobe_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e, en, q = embeddings_and_queries(spark, sf_dir, MP_NQ, False)
    probed = probe_labels(q.crossJoin(label_centroids(e)), MP_P)

    # Fused dual ranking (r14): the multiprobe candidates (label in the
    # query's probe list) are a subset of the exact candidate set, so
    # one variant-tagged scan feeds both top-ks — the old shape joined
    # the corpus twice and evaluated the dot fold per ranking (guide
    # §1.2/§4). The probe list is query-set x MP_P rows — broadcast.
    scored = (
        # bounded: query set capped at _N_QUERIES rows
        en.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
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
    return recall_at_k(scored, MP_K, f"recall_at_{MP_K}")


_SB_ALPHA = 0.4  # Stupid Backoff discount (Brants et al. 2007)


@register(
    "text_stupid_backoff_score",
    oracle=f"""
    WITH split AS (
        SELECT doc_id, text,
               ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                   ::BIGINT % 100 AS h
        FROM documents
    ),
    trtok AS (SELECT unnest(string_split(text, ' ')) AS tok
              FROM split WHERE h < 80),
    c1 AS (SELECT tok, COUNT(*) AS c FROM trtok GROUP BY tok),
    tv AS (SELECT SUM(c) AS t, COUNT(*) AS v FROM c1),
    trbg AS (
        SELECT w[i+1] AS w1, w[i+2] AS w2
        FROM (SELECT string_split(text, ' ') AS w FROM split
              WHERE h < 80 AND len(string_split(text, ' ')) >= 2),
             unnest(range(len(w) - 1)) AS u(i)
    ),
    c2 AS (SELECT w1, w2, COUNT(*) AS c FROM trbg GROUP BY w1, w2),
    tebg AS (
        SELECT doc_id, w[i+1] AS w1, w[i+2] AS w2
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM split
              WHERE h >= 90 AND len(string_split(text, ' ')) >= 2),
             unnest(range(len(w) - 1)) AS u(i)
    ),
    scored AS (
        SELECT b.doc_id,
               c2.c IS NULL AS backed_off,
               CASE WHEN c2.c IS NOT NULL
                    THEN ln(c2.c * 1.0 / u1.c)
                    ELSE ln({_SB_ALPHA} * (COALESCE(u2.c, 0) + 1.0)
                            / (tv.t + tv.v))
               END AS lp
        FROM tebg b
        LEFT JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
        LEFT JOIN c1 u1 ON b.w1 = u1.tok
        LEFT JOIN c1 u2 ON b.w2 = u2.tok, tv
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(CASE WHEN backed_off THEN 1 ELSE 0 END) AS BIGINT)
               AS n_backoff,
           ROUND(AVG(lp) + 1e-9, 6) AS avg_logscore
    FROM scored GROUP BY doc_id
    """,
    doc=f"Stupid Backoff LM scoring (Brants et al. 2007, 'Large "
        f"Language Models in Machine Translation'): held-out docs "
        f"(hash split >= 90, the split_train_val_test rule) scored "
        f"with bigram counts from the TRAIN split (< 80) — seen "
        f"bigram: c(w1w2)/c(w1); unseen: alpha={_SB_ALPHA} times an "
        f"add-one unigram (c(w2)+1)/(T+V). Scoring against a "
        f"different split is what makes the backoff branch real "
        f"(self-scoring never backs off: every corpus bigram is in "
        f"its own count table). This is the web-scale LM shape that "
        f"skips normalization entirely — counts join, no "
        f"discount-mass bookkeeping, which is why it scales to "
        f"corpus-sized count tables. n_backoff per doc is the OOV "
        f"diagnostic. Count tables join with AQE-chosen strategy "
        f"(bigram tables grow with the corpus — no forced "
        f"broadcast); only the 1-row (T, V) aggregate broadcasts.",
)
def text_stupid_backoff_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", md5_mod(F.col("doc_id"), 100).alias("h")
    )

    def bigrams(df):
        toks = df.select("doc_id", F.split("text", " ").alias("w")).where(
            F.size("w") >= 2
        )
        return toks.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(slice(w, 1, size(w) - 1), "
                    "(x, i) -> struct(x AS w1, element_at(w, i + 2) AS w2))"
                )
            ).alias("b"),
        ).select("doc_id", "b.w1", "b.w2")

    train, test = d.where(F.col("h") < 80), d.where(F.col("h") >= 90)
    c1 = (
        train.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    tv = c1.agg(
        F.sum("c1").alias("t"), F.count(F.lit(1)).alias("v")
    )
    c2 = bigrams(train).groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("c2")
    )
    scored = (
        bigrams(test)
        .join(c2, ["w1", "w2"], "left")
        .join(c1.select(F.col("tok").alias("w1"),
                        F.col("c1").alias("cw1")), "w1", "left")
        .join(c1.select(F.col("tok").alias("w2"),
                        F.col("c1").alias("cw2")), "w2", "left")
        # bounded: 1-row vocab-total scalar
        .crossJoin(F.broadcast(tv))
        .select(
            "doc_id",
            F.col("c2").isNull().alias("backed_off"),
            F.when(
                F.col("c2").isNotNull(),
                F.log(F.col("c2") * 1.0 / F.col("cw1")),
            )
            .otherwise(
                F.log(
                    F.lit(_SB_ALPHA)
                    * (F.coalesce(F.col("cw2"), F.lit(0)) + 1.0)
                    / (F.col("t") + F.col("v"))
                )
            )
            .alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum(F.when(F.col("backed_off"), 1).otherwise(0))
        .cast("long")
        .alias("n_backoff"),
        F.round(F.avg("lp") + F.lit(1e-9), 6).alias("avg_logscore"),
    )


_WIN_K = 3  # tokens per k-gram
_WIN_W = 4  # winnowing window (in k-gram positions)


@register(
    "text_winnowing_fingerprint",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    g AS (
        SELECT doc_id,
               list_transform(range(len(w) - {_WIN_K - 1}),
                   i -> ('0x' || substring(md5(array_to_string(
                            list_slice(w, i + 1, i + {_WIN_K}), ' ')),
                        1, 8))::BIGINT) AS h
        FROM t WHERE len(w) >= {_WIN_K + _WIN_W - 1}
    ),
    f AS (
        SELECT doc_id, len(h) AS n_grams,
               list_distinct(list_transform(range(len(h) - {_WIN_W - 1}),
                   j -> list_min(list_slice(h, j + 1, j + {_WIN_W}))))
                   AS fps
        FROM g
    )
    SELECT doc_id,
           CAST(n_grams AS BIGINT) AS n_grams,
           CAST(len(fps) AS BIGINT) AS n_fingerprints,
           ROUND(len(fps) * 1.0 / (n_grams - {_WIN_W - 1}) + 1e-9, 6)
               AS fp_density,
           CAST(list_aggregate(fps, 'sum') AS BIGINT) AS fp_checksum
    FROM f
    """,
    doc=f"Winnowing document fingerprints (Schleimer/Wilkerson/Aiken "
        f"2003, the MOSS algorithm): hash every {_WIN_K}-token k-gram "
        f"(md5-prefix 32-bit, identical across engines), then select "
        f"the MINIMUM hash of every {_WIN_W}-position window — the "
        f"guarantee is that any match of length >= k+w-1 tokens "
        f"shares at least one selected fingerprint, so local near-dup "
        f"detection needs only the fingerprint set, not all k-grams "
        f"(density ~ 2/(w+1) of positions). Per-doc readout: gram "
        f"count, distinct fingerprints, density, checksum — the "
        f"compact signature a plagiarism/dup index stores. Pure "
        f"map-stage HOFs (transform/slice/min over in-row arrays): "
        f"zero shuffles, zero UDFs, scan-bandwidth at 100 TB. Docs "
        f"shorter than k+w-1 tokens have no full window and are "
        f"excluded on both engines (short-doc shingle guard).",
)
def text_winnowing_fingerprint(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    K, W = _WIN_K, _WIN_W
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.split("text", " ").alias("w")).where(
        F.size("w") >= K + W - 1
    )
    g = t.select(
        "doc_id",
        F.expr(
            f"transform(sequence(1, size(w) - {K - 1}), "
            f"i -> conv(substring(md5(cast(concat_ws(' ', "
            f"slice(w, i, {K})) AS BINARY)), 1, 8), 16, 10))"
        ).cast("array<long>").alias("h"),
    )
    f = g.select(
        "doc_id",
        F.size("h").alias("n_grams"),
        F.array_distinct(
            F.expr(
                f"transform(sequence(1, size(h) - {W - 1}), "
                f"j -> array_min(slice(h, j, {W})))"
            )
        ).alias("fps"),
    )
    return f.select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        F.size("fps").cast("long").alias("n_fingerprints"),
        F.round(
            F.size("fps") * 1.0 / (F.col("n_grams") - (W - 1))
            + F.lit(1e-9),
            6,
        ).alias("fp_density"),
        F.aggregate(
            "fps", F.lit(0).cast("long"), lambda a, b: a + b
        ).alias("fp_checksum"),
    )


# --- UniMax language-budget allocation ------------------------------

_UM_E = 1  # max epochs any language may repeat (UniMax's cap knob)
_UM_NUM, _UM_DEN = 3, 4  # token budget = 3/4 of the corpus


@register(
    "corpus_unimax_allocation",
    oracle=f"""
    WITH per AS (
        SELECT lang,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                   AS n_tokens
        FROM documents GROUP BY lang
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_langs,
               ({_UM_NUM} * SUM(n_tokens)) // {_UM_DEN} AS budget
        FROM per
    ),
    r AS (
        SELECT p.lang, p.n_tokens,
               {_UM_E} * p.n_tokens AS capacity,
               t.n_langs, t.budget,
               ROW_NUMBER() OVER
                   (ORDER BY {_UM_E} * p.n_tokens, p.lang) AS i,
               COALESCE(SUM({_UM_E} * p.n_tokens) OVER
                   (ORDER BY {_UM_E} * p.n_tokens, p.lang
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS prefix_cap
        FROM per p, tot t
    ),
    f AS (
        SELECT *, CASE WHEN capacity * (n_langs - i + 1)
                            < budget - prefix_cap
                       THEN 1 ELSE 0 END AS flag
        FROM r
    ),
    c AS (
        SELECT *, MIN(flag) OVER
                      (ORDER BY capacity, lang
                       ROWS UNBOUNDED PRECEDING) AS capped
        FROM f
    ),
    s AS (
        SELECT *, SUM(capacity * capped) OVER () AS capped_cap_sum,
                  SUM(capped) OVER () AS n_capped
        FROM c
    ),
    a AS (
        SELECT lang, n_tokens, capacity, capped,
               CASE WHEN capped = 1 THEN CAST(capacity AS DOUBLE)
                    ELSE (budget - capped_cap_sum)
                         / CAST(greatest(n_langs - n_capped, 1)
                                AS DOUBLE)
               END AS alloc_raw
        FROM s
    )
    SELECT lang, n_tokens, capacity,
           CAST(capped AS INT) AS capped,
           ROUND(alloc_raw, 6) AS alloc_tokens,
           ROUND(alloc_raw / n_tokens, 6) AS epochs
    FROM a
    """,
    doc=f"UniMax language-budget allocation (Chung et al. 2023): "
        f"spread a {_UM_NUM}/{_UM_DEN}-of-corpus token budget as "
        f"UNIFORMLY as possible across languages, subject to no "
        f"language repeating more than {_UM_E} epoch(s) — the "
        f"published alternative to temperature sampling "
        f"(corpus_temperature_resample) that avoids both "
        f"high-resource domination and low-resource over-repetition. "
        f"Waterfilling is closed-form over the per-lang table: sort "
        f"by capacity = E*tokens ascending, a language is capped iff "
        f"capacity*(langs_remaining) < budget_remaining — a prefix "
        f"property, so one integer window pass (flag -> running MIN) "
        f"decides the capped set bit-identically on both engines; "
        f"uncapped languages split the leftover evenly. Plan: one "
        f"corpus token-count agg -> |langs|-row frame; every window "
        f"is over that bounded frame (global_window convention), the "
        f"1-row totals join is a broadcast, and the corpus itself is "
        f"touched once map-side. Allocations/epochs are DOUBLE "
        f"rounded at 1e-6 from identical integer inputs.",
)
def corpus_unimax_allocation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from change_data_capture_poc_spark.functions.windows import (
        global_window,
    )

    per = (
        load_table(spark, sf_dir, "documents")
        .select("lang", F.size(F.split("text", " ")).alias("tk"))
        .groupBy("lang")
        .agg(F.sum("tk").cast("long").alias("n_tokens"))
    )
    from change_data_capture_poc_spark.functions.windows import (
        global_agg_window,
    )

    # n_langs / budget are globals over the |langs|-row frame — attach
    # via the bounded single-partition window (shared with the capacity
    # ranking) instead of a broadcast branch replaying the per-lang
    # corpus token count.
    gw = global_agg_window()
    wo = global_window(F.col("capacity"), F.col("lang"))
    r = (
        per.withColumn(
            "capacity", (F.lit(_UM_E) * F.col("n_tokens")).cast("long")
        )
        .withColumn("n_langs", F.count(F.lit(1)).over(gw))
        .withColumn("_sumtok", F.sum("n_tokens").over(gw))
        .withColumn(
            "budget", F.expr(f"({_UM_NUM} * _sumtok) div {_UM_DEN}")
        )
        .drop("_sumtok")
        .withColumn("i", F.row_number().over(wo))
        .withColumn(
            "prefix_cap",
            F.coalesce(
                F.sum("capacity").over(
                    wo.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0).cast("long"),
            ),
        )
    )
    f = r.withColumn(
        "flag",
        F.when(
            F.col("capacity")
            * (F.col("n_langs") - F.col("i") + F.lit(1))
            < F.col("budget") - F.col("prefix_cap"),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("long"),
    )
    c = f.withColumn(
        "capped",
        F.min("flag").over(
            wo.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    wfull = Window.partitionBy(F.lit(0)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    s = c.withColumn(
        "capped_cap_sum",
        F.sum(F.col("capacity") * F.col("capped")).over(wfull),
    ).withColumn("n_capped", F.sum("capped").over(wfull))
    a = s.withColumn(
        "alloc_raw",
        F.when(
            F.col("capped") == 1, F.col("capacity").cast("double")
        ).otherwise(
            (F.col("budget") - F.col("capped_cap_sum"))
            / F.greatest(
                F.col("n_langs") - F.col("n_capped"), F.lit(1)
            ).cast("double")
        ),
    )
    return a.select(
        "lang",
        "n_tokens",
        "capacity",
        F.col("capped").cast("int").alias("capped"),
        F.round("alloc_raw", 6).alias("alloc_tokens"),
        F.round(F.col("alloc_raw") / F.col("n_tokens"), 6).alias(
            "epochs"
        ),
    )
