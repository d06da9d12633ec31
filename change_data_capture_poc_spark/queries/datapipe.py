"""North-star data-pipeline operators (BASELINE.json): deduplication,
similarity search, and text analysis over ``documents`` / ``embeddings``.

These are the operators a 100 TB training-data pipeline needs. Design
rules applied throughout:

- **Portable hashing**: near-dup signatures use md5 (identical hex in
  Spark and DuckDB) so every probabilistic operator still has an exact
  oracle. Engine-internal variants (simhash) use ``xxhash64`` (JVM-side,
  faster) and get pytest determinism checks instead of SQL oracles.
- **No cross joins at scale**: candidate generation is always a
  bucket/band equi-join (LSH bands, IVF partitions); the brute-force
  cosine query broadcasts a tiny query set, never fact×fact.
- **Rounding**: float scores are rounded on both sides; ranking happens
  on the rounded value with a unique-key tiebreak so top-k cutoffs are
  deterministic across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from change_data_capture_poc_spark.functions.hashing import md5_mod
from change_data_capture_poc_spark.functions.text import (
    BM25_SCORED_SQL,
    BM25_TERMS,
    ngram_shingles,
)
from change_data_capture_poc_spark.functions.vectors import (
    JL,
    JL_SCALE,
    SEED_ASSIGN_SQL,
    cosine_similarity as _cosine_expr,
)
from change_data_capture_poc_spark.operators.minhash import (
    BAND_CTES_SQL,
    BANDS,
    DUP_EDGES_SQL,
    DUP_REACH_SQL,
    GRAM_INTER_SQL,
    MINHASH_K,
    MINHASH_PAIRS_SQL,
    NGRAM_SQL,
    band_pairs,
    pair_grams,
    sig_agreement_sql,
    spark_bands,
    spark_grams,
    spark_sigs,
)
from change_data_capture_poc_spark.operators.quality import (
    QCLS_BUCKETS,
    QCLS_SCORE_SQL,
    QF_RULE_SQL,
    STOPWORDS,
    STOPWORDS_SQL,
    qcls_cols,
    quality_drop_reason,
)
from change_data_capture_poc_spark.registry import register
from change_data_capture_poc_spark.sources.tables import load_table
from change_data_capture_poc_spark.functions.windows import global_window
from change_data_capture_poc_spark.functions.caching import persist_once
from change_data_capture_poc_spark.functions.hints import vocab_broadcast


# --------------------------------------------------------------------
# Deduplication
# --------------------------------------------------------------------

@register(
    "dedup_exact_groups",
    oracle="""
    SELECT md5(text) AS fingerprint,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
    doc="Exact dedup via content-hash groupBy: one shuffle on the "
        "128-bit fingerprint, min-id representative per group.",
)
def dedup_exact_groups(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.md5(F.col("text").cast("binary")).alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


@register(
    "dedup_exact_keep_first",
    oracle="""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
    """,
    doc="Exact dedup keeping the surviving rows (lowest doc_id per "
        "identical text) — window formulation, same single shuffle.",
)
def dedup_exact_keep_first(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5(F.col("text").cast("binary"))).orderBy("doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "lang", "source", "n_chars")
    )


_JACCARD_T = 0.8


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {GRAM_INTER_SQL}
    SELECT doc_id_a, doc_id_b,
           ROUND(c * 1.0 / (sa.n + sb.n - c) + 1e-9, 6) AS jaccard
    FROM inter
    JOIN sizes sa ON inter.doc_id_a = sa.doc_id
    JOIN sizes sb ON inter.doc_id_b = sb.doc_id
    WHERE c * 1.0 / (sa.n + sb.n - c) >= {_JACCARD_T}
    """,
    doc="Exact near-dup pairs (word-4-gram Jaccard >= 0.8) via "
        "PPJoin-style prefix filtering: grams are globally ordered "
        "rarest-first and only each doc's prefix (|g| - ceil(t|g|) + 1 "
        "grams) enters the inverted-index join, which provably keeps "
        "every pair above the threshold; candidates are then verified "
        "exactly with array_intersect. The oracle states the naive "
        "all-pairs semantics; the engine plan is the one that survives "
        "100 TB (join fan-out shrinks by ~(1-t)^2).",
)
def dedup_ngram_jaccard(spark, sf_dir):
    # The rarest-first canonical order is opt-in via session conf: with
    # this dataset's sparse 4-gram posting lists the lexicographic sort
    # wins (no extra shuffles); at skewed-vocabulary scale the df
    # ordering shrinks the prefix join's hottest posting lists.
    rarest = (
        spark.conf.get("spark.graft.jaccard.rarestFirst", "false") == "true"
    )
    return ngram_jaccard_pairs(spark, sf_dir, rarest_first=rarest)


def ngram_jaccard_pairs(spark, sf_dir, rarest_first: bool = False):
    """PPJoin-style jaccard near-dup pairs; see dedup_ngram_jaccard.

    ``rarest_first=False``: grams are canonically ordered
    lexicographically — a pure columnar array_sort, zero extra shuffles.

    ``rarest_first=True``: grams are ordered by ascending document
    frequency (ties broken by the gram itself, so the order stays
    total): each doc's prefix then holds its RAREST grams, which keeps
    the inverted-index posting lists entering the candidate join as
    short as possible — the classic PPJoin ordering for skewed
    vocabularies. Costs two extra shuffles (df aggregation + re-group);
    prefix filtering is exact under ANY shared total order, so both
    modes return identical pairs (pytest-pinned).
    """
    d = load_table(spark, sf_dir, "documents")
    g = spark_grams(d)

    if rarest_first:
        ex = g.select("doc_id", F.explode("grams").alias("gram"))
        dfreq = ex.groupBy("gram").agg(F.count("*").alias("df"))
        ordered = (
            ex.join(dfreq, "gram")
            .groupBy("doc_id")
            .agg(
                F.array_sort(F.collect_list(F.struct("df", "gram"))).alias(
                    "sg"
                )
            )
            .select(
                "doc_id",
                F.transform("sg", lambda s: s.getField("gram")).alias(
                    "grams"
                ),
            )
            .transform(persist_once)
        )
    else:
        ordered = g.select(
            "doc_id", F.array_sort("grams").alias("grams")
        ).transform(persist_once)
    n = F.size("grams")
    # ceil(t*n) in exact integer arithmetic (t = 4/5): float ceil can
    # land one off at exact multiples, shaving the prefix too short and
    # violating the filter's completeness guarantee.
    ceil_tn = F.expr("(4 * size(grams) + 4) div 5")
    prefix_len = (n - ceil_tn + 1).cast("int")
    prefixes = ordered.select(
        "doc_id", n.alias("n"),
        F.explode(F.slice("grams", 1, prefix_len)).alias("gram"),
    )
    a = prefixes.alias("a")
    b = prefixes.alias("b")
    # Candidate ids only — keep the dedup shuffle narrow, re-attach the
    # gram arrays afterwards for exact verification. The length filter
    # (J >= t forces t|a| <= |b| <= |a|/t, in exact integer form for
    # t = 4/5) prunes most false candidates before the dedup shuffle.
    cand = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.n") * 5 >= F.col("a.n") * 4)
            & (F.col("a.n") * 5 >= F.col("b.n") * 4),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .distinct()
    )
    ga, gb = pair_grams(ordered)
    c = F.size(F.array_intersect("grams_a", "grams_b"))
    jac = c * 1.0 / (F.size("grams_a") + F.size("grams_b") - c)
    return (
        cand.join(ga, "doc_id_a")
        .join(gb, "doc_id_b")
        .where(jac >= _JACCARD_T)
        .select("doc_id_a", "doc_id_b", F.round(jac + 1e-9, 6).alias("jaccard"))
    )


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH g AS ({NGRAM_SQL}),
    {BAND_CTES_SQL}
    SELECT DISTINCT x.doc_id AS doc_id_a, y.doc_id AS doc_id_b
    FROM bands x
    JOIN bands y ON x.band_id = y.band_id AND x.band_key = y.band_key
               AND x.doc_id < y.doc_id
    """,
    doc="MinHash+LSH candidate pairs: one portable md5 base hash per "
        "shingle, 12 linear-congruential min-hash permutations, 4 bands "
        "x 3 rows, band-bucket equi-join. Fully columnar signature "
        "computation (no explode/groupBy); the band join is the scale "
        "path - shuffle on band_key only.",
)
def dedup_minhash_lsh(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    g = spark_grams(d)
    return band_pairs(spark_bands(g).transform(persist_once))


@register(
    "eval_minhash_estimator_calibration",
    oracle=f"""
    WITH g AS ({NGRAM_SQL}),
    {BAND_CTES_SQL},
    pairs AS (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM bands x
        JOIN bands y ON x.band_id = y.band_id
                    AND x.band_key = y.band_key
                    AND x.doc_id < y.doc_id
    ),
    scored AS (
        SELECT p.a, p.b,
               ({sig_agreement_sql()}) AS sig_matches,
               len(list_filter(ga.grams,
                   s -> list_contains(gb.grams, s))) AS inter,
               len(ga.grams) + len(gb.grams)
                 - len(list_filter(ga.grams,
                       s -> list_contains(gb.grams, s))) AS uni
        FROM pairs p
        JOIN sig sa ON sa.doc_id = p.a
        JOIN sig sb ON sb.doc_id = p.b
        JOIN g ga ON ga.doc_id = p.a
        JOIN g gb ON gb.doc_id = p.b
    )
    SELECT CAST(sig_matches AS INT) AS sig_matches,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(sig_matches / {MINHASH_K}.0 + 1e-9, 6) AS est_jaccard,
           ROUND(AVG(inter * 1.0 / uni) + 1e-9, 6) AS mean_exact_jaccard,
           ROUND(AVG(ABS(sig_matches / {MINHASH_K}.0
                         - inter * 1.0 / uni)) + 1e-9, 6) AS mean_abs_err
    FROM scored
    GROUP BY sig_matches
    """,
    doc=f"MinHash estimator calibration: for every LSH candidate pair, "
        f"compare the signature-agreement estimate "
        f"(matching components / {MINHASH_K}) against EXACT set "
        f"Jaccard over the shingle sets, grouped by match count — the "
        f"knob-tuning readout that tells you whether {MINHASH_K} "
        f"permutations / {BANDS}x3 banding is tight enough before "
        f"trusting the estimate corpus-wide (a biased row here means "
        f"re-band BEFORE the 100 TB dedup run, not after). Exact "
        f"Jaccard is computed only on the candidate pairs the bands "
        f"emit, so the join volume is the candidate set, never "
        f"all-pairs; output is a <= {MINHASH_K + 1}-row calibration "
        f"table.",
)
def eval_minhash_estimator_calibration(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    g = spark_grams(d).transform(persist_once)
    # sigs feed both pair sides — pin so the minhash fold runs once
    sig = spark_sigs(g).transform(persist_once)
    pairs = dedup_minhash_lsh(spark, sf_dir).select(
        F.col("doc_id_a").alias("a"), F.col("doc_id_b").alias("b")
    )
    sa = sig.select(F.col("doc_id").alias("a"), F.col("sig").alias("siga"))
    sb = sig.select(F.col("doc_id").alias("b"), F.col("sig").alias("sigb"))
    ga = g.select(F.col("doc_id").alias("a"), F.col("grams").alias("gra"))
    gb = g.select(F.col("doc_id").alias("b"), F.col("grams").alias("grb"))
    inter = F.size(F.array_intersect("gra", "grb"))
    uni = F.size("gra") + F.size("grb") - inter
    matches = F.expr(
        "size(filter(zip_with(siga, sigb, (x, y) -> x = y), m -> m))"
    )
    scored = (
        pairs.join(sa, "a")
        .join(sb, "b")
        .join(ga, "a")
        .join(gb, "b")
        .select(
            matches.alias("sig_matches"),
            (inter * 1.0 / uni).alias("exact_j"),
        )
    )
    return (
        scored.groupBy(F.col("sig_matches").cast("int").alias("sig_matches"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round(F.avg("exact_j") + F.lit(1e-9), 6).alias(
                "mean_exact_jaccard"
            ),
            F.round(
                F.avg(
                    F.abs(
                        F.col("sig_matches") / float(MINHASH_K)
                        - F.col("exact_j")
                    )
                )
                + F.lit(1e-9),
                6,
            ).alias("mean_abs_err"),
        )
        .select(
            "sig_matches",
            "n_pairs",
            F.round(
                F.col("sig_matches") / float(MINHASH_K) + F.lit(1e-9), 6
            ).alias("est_jaccard"),
            "mean_exact_jaccard",
            "mean_abs_err",
        )
    )


@register(
    "dedup_incremental_delta_index",
    oracle=f"""
    WITH g AS ({NGRAM_SQL}),
    {BAND_CTES_SQL},
    t AS (SELECT max(doc_id) // 2 AS split FROM documents),
    cand AS (
        SELECT DISTINCT n.doc_id AS delta_doc_id, x.doc_id AS index_doc_id
        FROM bands n JOIN bands x
          ON n.band_id = x.band_id AND n.band_key = x.band_key, t
        WHERE n.doc_id >= t.split AND x.doc_id < t.split
    ),
    v AS (
        SELECT c.delta_doc_id, c.index_doc_id,
               len(list_filter(ga.grams,
                   s -> list_contains(gb.grams, s))) AS inter,
               len(ga.grams) + len(gb.grams)
                   - len(list_filter(ga.grams,
                         s -> list_contains(gb.grams, s))) AS uni
        FROM cand c
        JOIN g ga ON ga.doc_id = c.delta_doc_id
        JOIN g gb ON gb.doc_id = c.index_doc_id
    )
    SELECT delta_doc_id, index_doc_id,
           ROUND(inter * 1.0 / uni + 1e-9, 6) AS jaccard,
           2 * inter >= uni AS is_dup
    FROM v
    """,
    doc="INCREMENTAL near-dup gate: a new delta batch (doc_id above "
        "the corpus midpoint stands in for 'this week's crawl') is "
        "checked against the EXISTING corpus's LSH band index only — "
        "delta x index candidates, never delta x delta or a full "
        "re-dedup. This is how dedup stays affordable once the corpus "
        "is 100 TB: the persisted band table is the index, the "
        "delta's band keys equi-join into it, and exact Jaccard "
        "verification (array intersect over shingle sets, "
        "integer-exact >= 0.5 test) touches candidate pairs only. "
        "Same signatures/banding as dedup_minhash_lsh, so one index "
        "serves both the batch and incremental paths.",
)
def dedup_incremental_delta_index(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    g = spark_grams(d)
    split = d.agg(F.expr("max(doc_id) div 2").alias("split"))
    # The split filters must sit BELOW the band self-join (filtering
    # the join output would still generate every delta x delta and
    # index x index pair first — the full-re-dedup cost this operator
    # exists to avoid). Attaching the broadcast scalar to the band
    # table BEFORE the join lets each side prune to its half.
    # bounded: 1-row scalar (max(doc_id) div 2)
    bands = spark_bands(g).crossJoin(F.broadcast(split)).transform(persist_once)
    n = bands.where(F.col("doc_id") >= F.col("split")).alias("n")
    x = bands.where(F.col("doc_id") < F.col("split")).alias("x")
    cand = (
        n.join(
            x,
            (F.col("n.band_id") == F.col("x.band_id"))
            & (F.col("n.band_key") == F.col("x.band_key")),
        )
        .select(
            F.col("n.doc_id").alias("delta_doc_id"),
            F.col("x.doc_id").alias("index_doc_id"),
        )
        .distinct()
    )
    ga = g.select(
        F.col("doc_id").alias("delta_doc_id"), F.col("grams").alias("ga")
    )
    gb = g.select(
        F.col("doc_id").alias("index_doc_id"), F.col("grams").alias("gb")
    )
    inter = F.size(F.array_intersect("ga", "gb"))
    uni = F.size("ga") + F.size("gb") - inter
    return (
        cand.join(ga, "delta_doc_id")
        .join(gb, "index_doc_id")
        .select(
            "delta_doc_id",
            "index_doc_id",
            F.round(inter * 1.0 / uni + F.lit(1e-9), 6).alias("jaccard"),
            (2 * inter >= uni).alias("is_dup"),
        )
    )


@register(
    "dedup_cluster_label_propagation",
    oracle=f"""
    WITH RECURSIVE
    {MINHASH_PAIRS_SQL},
    {DUP_REACH_SQL}
    SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
    FROM reach GROUP BY a
    """,
    doc="Duplicate CLUSTERS from minhash-LSH candidate pairs via "
        "iterative min-label propagation (operators/components.py) — "
        "the step that turns pairwise near-dup hits into one keeper "
        "per group. Converges in diameter rounds (near-dup clusters "
        "are shallow); one shuffle per round, labels stay distributed, "
        "lineage truncated per round. The oracle replays the identical "
        "graph as a recursive-CTE transitive closure (safe at oracle "
        "scale; the engine path never materializes the closure).",
)
def dedup_cluster_label_propagation(spark, sf_dir):
    from change_data_capture_poc_spark.operators.components import (
        connected_components,
    )

    pairs = dedup_minhash_lsh(spark, sf_dir)
    return connected_components(
        pairs, src="doc_id_a", dst="doc_id_b"
    ).select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )


# --------------------------------------------------------------------
# Similarity search over embeddings
# --------------------------------------------------------------------

_N_QUERIES = 8
_TOP_K = 5


@register(
    "ann_cosine_bruteforce",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < {_N_QUERIES}),
    scored AS (
        SELECT q.q_id, e.vec_id AS neighbor_id,
               ROUND(list_dot_product(e.v, q.qv) /
                     (sqrt(list_dot_product(e.v, e.v)) *
                      sqrt(list_dot_product(q.qv, q.qv))) + 1e-9, 6) AS cosine
        FROM e, q WHERE e.vec_id != q.q_id
    )
    SELECT q_id, neighbor_id, cosine FROM scored
    QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
                               ORDER BY cosine DESC, neighbor_id) <= {_TOP_K}
    """,
    doc="Brute-force cosine top-k: tiny query set broadcast against the "
        "corpus — one scan, no corpus shuffle; the baseline ANN. "
        "Vectors are unit-normalized once per row behind a projection "
        "boundary, so each pair costs one dot fold instead of "
        "dot + two norms (3x fewer interpreted HOF steps). The per-"
        "query cut is two-phase grouped top-k (operators/topk.py): a "
        "window over 8 constant q_ids would funnel every scored row "
        "into 8 hot reducer sorts; the partial heap keeps the only "
        "exchange at k x n_partitions rows.",
)
def ann_cosine_bruteforce(spark, sf_dir):
    from change_data_capture_poc_spark.functions.vectors import (
        dot_product,
        unit_normalize,
    )
    from change_data_capture_poc_spark.operators.topk import grouped_topk

    raw = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    e = raw.select(
        "vec_id", unit_normalize(F.col("v")).alias("nv")
    )
    q = e.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("nv").alias("qnv")
    )
    scored = (
        # bounded: query set capped at _N_QUERIES rows by construction
        e.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            # +1e-9 pre-round epsilon (repo ANN-rank convention): a
            # cosine within an ulp of a 0.5e-6 rounding boundary must
            # not round differently across the two engines' float paths.
            F.round(
                dot_product(F.col("nv"), F.col("qnv")) + F.lit(1e-9), 6
            ).alias("cosine"),
        )
    )
    return grouped_topk(
        scored, ["q_id"], [("cosine", False), ("neighbor_id", True)], _TOP_K
    )


@register(
    "ann_cosine_ivf_partition",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv
          FROM e WHERE vec_id < {_N_QUERIES}),
    scored AS (
        SELECT q.q_id, e.vec_id AS neighbor_id,
               ROUND(list_dot_product(e.v, q.qv) /
                     (sqrt(list_dot_product(e.v, e.v)) *
                      sqrt(list_dot_product(q.qv, q.qv))) + 1e-9, 6)
                   AS cosine
        FROM e JOIN q ON e.label = q.q_label AND e.vec_id != q.q_id
    )
    SELECT q_id, neighbor_id, cosine FROM scored
    QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
                               ORDER BY cosine DESC, neighbor_id) <= {_TOP_K}
    """,
    doc="IVF-style ANN: probe only the query's own partition (label = "
        "cluster assignment) via an equi-join on the partition key — "
        "the 100 TB scale path: candidates shrink by the cluster count "
        "and the join shuffles on label, never cross-joins the corpus.",
)
def ann_cosine_ivf_partition(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("v").alias("qv"),
    )
    scored = (
        e.join(
            # bounded: query set capped at _N_QUERIES rows
            F.broadcast(q),
            (F.col("label") == F.col("q_label")) & (F.col("vec_id") != F.col("q_id")),
        )
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                _cosine_expr(F.col("v"), F.col("qv")) + F.lit(1e-9), 6
            ).alias("cosine"),
        )
    )
    from change_data_capture_poc_spark.operators.topk import grouped_topk

    return grouped_topk(
        scored, ["q_id"], [("cosine", False), ("neighbor_id", True)], _TOP_K
    )


@register(
    "ann_cosine_pandas_matmul",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < {_N_QUERIES}),
    scored AS (
        SELECT q.q_id, e.vec_id AS neighbor_id,
               ROUND(list_dot_product(e.v, q.qv) /
                     (sqrt(list_dot_product(e.v, e.v)) *
                      sqrt(list_dot_product(q.qv, q.qv))) + 1e-9, 6)
                   AS cosine
        FROM e, q WHERE e.vec_id != q.q_id
    )
    SELECT q_id, neighbor_id, cosine FROM scored
    QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
                               ORDER BY cosine DESC, neighbor_id) <= {_TOP_K}
    """,
    doc="Same top-k cosine semantics as ann_cosine_bruteforce via the "
        "Arrow scale path: one numpy matmul scores each batch against "
        "the broadcast query matrix (functions/vectors_pandas.py); "
        "partial top-k per batch (rounded, tie-preserving) keeps the "
        "shuffle at k rows per query per batch — the formulation for "
        "high-dim embeddings where per-element folds lose to BLAS.",
)
def ann_cosine_pandas_matmul(spark, sf_dir):
    from change_data_capture_poc_spark.functions.vectors_pandas import (
        cosine_topk_pandas,
    )

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    qrows = e.where(F.col("vec_id") < _N_QUERIES).collect()
    queries = [(r.vec_id, r.v) for r in qrows]
    scored = cosine_topk_pandas(e, queries, _TOP_K)
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _TOP_K)
        .drop("rn")
    )


# Random-hyperplane (sign) LSH: L=8 tables of 6 fixed ±1 hyperplanes
# each over the 64-dim embeddings, seeded once at import so BOTH
# engines hash with the identical literal matrix. Table geometry is
# set by the data: this corpus's true nearest neighbors sit at ~67°
# (cos ≈ 0.39), where a bit agrees with p = 1 - θ/π ≈ 0.63, so a
# 6-bit table collides at 0.63^6 ≈ 0.06 and eight tables give
# 1-(1-0.06)^8 ≈ 0.39 expected recall at ~n/8 candidates (8x
# pruning). Tighter corpora (real near-dups at <30°) push recall
# >0.9 with the same code. A single 16+-bit table is too selective
# here (buckets of size 1 → zero candidates). Sign test on the dot
# rounded to 6 decimals — cross-engine float summation order must
# not flip a near-zero sign.
_LSH_TABLES = 8
_LSH_TABLE_BITS = 6
_LSH_BITS = _LSH_TABLES * _LSH_TABLE_BITS
_LSH_DIM = 64


def _lsh_hyperplanes() -> list[list[float]]:
    import random

    rng = random.Random(20240801)
    return [
        [float(rng.choice((-1, 1))) for _ in range(_LSH_DIM)]
        for _ in range(_LSH_BITS)
    ]


_LSH_H = _lsh_hyperplanes()


def _lsh_table_bucket_sql(t: int) -> str:
    return " + ".join(
        "(CASE WHEN ROUND(list_dot_product(v, ["
        + ", ".join(str(int(c)) for c in _LSH_H[t * _LSH_TABLE_BITS + j])
        + f"]), 6) > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(_LSH_TABLE_BITS)
    )


_LSH_SIG_SQL = ", ".join(
    f"({_lsh_table_bucket_sql(t)}) AS b{t}" for t in range(_LSH_TABLES)
)
_LSH_PROBES_SQL = "\n        UNION ALL ".join(
    f"SELECT vec_id, {t} AS tbl, b{t} AS bucket FROM sig"
    for t in range(_LSH_TABLES)
)


def _lsh_buckets_expr(v):
    """Array of L per-table sign-LSH buckets — ONE fold over the vector.

    Per element x_i the fold adds x_i * H[:, i] to a 32-slot
    accumulator (zip_with against the transposed literal matrix), so
    all 32 dot products cost a single pass. The bit weights are tiled
    per table (1..128 repeating), so a second zip turns signs into
    per-table bucket contributions that a slice-sum reduces per table.
    Thirty-two separate aggregate(...) columns would re-walk the array
    per bit — the interpreted-HOF inlining trap (build playbook).
    """
    h_cols = F.array(
        *[
            F.array(*[F.lit(_LSH_H[j][i]) for j in range(_LSH_BITS)])
            for i in range(_LSH_DIM)
        ]
    )
    contrib = F.zip_with(
        v, h_cols, lambda x, row: F.transform(row, lambda h: x * h)
    )
    dots = F.aggregate(
        contrib,
        F.array_repeat(F.lit(0.0), _LSH_BITS),
        lambda acc, c: F.zip_with(acc, c, lambda a, b: a + b),
    )
    tiled_pows = F.array(
        *[
            F.lit(1 << (j % _LSH_TABLE_BITS)).cast("int")
            for j in range(_LSH_BITS)
        ]
    )
    weighted = F.zip_with(
        dots, tiled_pows, lambda d, p: F.when(F.round(d, 6) > 0, p).otherwise(0)
    )
    return F.array(
        *[
            F.aggregate(
                F.slice(weighted, t * _LSH_TABLE_BITS + 1, _LSH_TABLE_BITS),
                F.lit(0),
                lambda a, b: a + b,
            )
            for t in range(_LSH_TABLES)
        ]
    )


def _lsh_buckets_pandas(e: DataFrame) -> DataFrame:
    """(vec_id, v, buckets): per-table sign-LSH buckets via one numpy
    matmul per Arrow batch — V @ H.T scores all 48 hyperplanes at BLAS
    speed (the interpreted fold in ``_lsh_buckets_expr`` costs ~5 s at
    sf0.1; this path ~0.3 s; equality pytest-pinned). Same round-6
    sign guard as the expression and SQL forms.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    h_mat = np.array(_LSH_H)  # 48 x 64
    pows = np.array(
        [1 << (j % _LSH_TABLE_BITS) for j in range(_LSH_BITS)],
        dtype=np.int64,
    )
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("v", T.ArrayType(T.DoubleType())),
            T.StructField("buckets", T.ArrayType(T.IntegerType())),
        ]
    )

    def f(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            vm = np.stack(pdf["v"].to_numpy())  # n x 64
            bits = np.round(vm @ h_mat.T, 6) > 0  # n x 48
            buckets = (
                (bits * pows)
                .reshape(len(pdf), _LSH_TABLES, _LSH_TABLE_BITS)
                .sum(axis=2)
                .astype(np.int32)
            )
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "v": pdf["v"],
                    "buckets": list(buckets),
                }
            )

    return e.mapInPandas(f, schema)


@register(
    "ann_cosine_lsh_hyperplane",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sig AS (SELECT vec_id, {_LSH_SIG_SQL} FROM e),
    probes AS ({_LSH_PROBES_SQL}),
    qp AS (SELECT vec_id AS q_id, tbl, bucket FROM probes
           WHERE vec_id < {_N_QUERIES}),
    cand AS (
        SELECT DISTINCT qp.q_id, p.vec_id AS neighbor_id
        FROM probes p
        JOIN qp ON p.tbl = qp.tbl AND p.bucket = qp.bucket
               AND p.vec_id != qp.q_id
    ),
    scored AS (
        SELECT c.q_id, c.neighbor_id,
               ROUND(list_dot_product(n.v, q.v) /
                     (sqrt(list_dot_product(n.v, n.v)) *
                      sqrt(list_dot_product(q.v, q.v))) + 1e-9, 6) AS cosine
        FROM cand c
        JOIN e n ON n.vec_id = c.neighbor_id
        JOIN e q ON q.vec_id = c.q_id
    )
    SELECT q_id, neighbor_id, cosine FROM scored
    QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
                               ORDER BY cosine DESC, neighbor_id) <= {_TOP_K}
    """,
    doc="Sign-LSH ANN (random hyperplanes, 8 tables x 6 bits): every "
        "vector hashes to one bucket per table (signs of dots against "
        "a fixed literal ±1 matrix); a query's candidates are the "
        "union of its buckets across tables, deduped, then scored "
        "exactly — the third ANN strategy next to IVF partitioning "
        "and brute force. The candidate join shuffles on (table, "
        "bucket) only; all 48 dots cost one fold per vector "
        "(transposed-matrix accumulator). Approximate by design — "
        "recall vs brute force is pytest-asserted; the oracle replays "
        "the identical LSH semantics. Table geometry math in the "
        "module comment above.",
)
def ann_cosine_lsh_hyperplane(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    sig = _lsh_buckets_pandas(e)
    probes = sig.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tbl"),
                        F.element_at("buckets", t + 1).alias("bucket"),
                    )
                    for t in range(_LSH_TABLES)
                ]
            )
        ).alias("p"),
    ).select("vec_id", "p.tbl", "p.bucket")
    qp = probes.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), "tbl", "bucket"
    )
    cand = (
        probes.join(
            # bounded: _N_QUERIES x _LSH_TABLES probe rows (constants)
            F.broadcast(qp),
            (probes.tbl == qp.tbl)
            & (probes.bucket == qp.bucket)
            & (probes.vec_id != qp.q_id),
        )
        .select("q_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    qv = e.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    scored = (
        cand.join(e, cand.neighbor_id == e.vec_id)
        # bounded: query vectors capped at _N_QUERIES rows
        .join(F.broadcast(qv), "q_id")
        .select(
            "q_id",
            "neighbor_id",
            F.round(
                _cosine_expr(F.col("v"), F.col("qv")) + F.lit(1e-9), 6
            ).alias("cosine"),
        )
    )
    from change_data_capture_poc_spark.operators.topk import grouped_topk

    return grouped_topk(
        scored, ["q_id"], [("cosine", False), ("neighbor_id", True)], _TOP_K
    )


# --------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------

@register(
    "text_quality_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, text, string_split(text, ' ') AS w
               FROM documents)
    SELECT doc_id, lang,
           length(text) AS n_chars,
           len(w) AS n_tokens,
           ROUND(length(text) * 1.0 / len(w), 6) AS avg_token_len,
           ROUND(len(list_filter(w, x -> list_contains({STOPWORDS_SQL}, x)))
                 * 1.0 / len(w), 6) AS stopword_ratio,
           ROUND(len(list_distinct(w)) * 1.0 / len(w), 6) AS ttr,
           CAST(CEIL(length(text) / 4.0) AS BIGINT) AS n_tokens_bpe_est
    FROM t WHERE len(w) > 0
    """,
    doc="Quality scoring: char/token counts, average token length, "
        "stopword ratio, type-token ratio, BPE-ish token estimate "
        "(chars/4) — all JVM-side expressions, no UDFs.",
)
def text_quality_stats(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    # Materialize the token array once (see spark_grams: an inlined
    # split() re-evaluates per consuming expression).
    t = d.select(
        "doc_id", "lang", "text", F.split("text", " ").alias("w")
    ).where(F.size("w") > 0)
    w = F.col("w")
    n_tok = F.size(w)
    sw = F.size(F.filter(w, lambda x: x.isin(*STOPWORDS)))
    return (
        t.select(
            "doc_id",
            "lang",
            F.length("text").alias("n_chars"),
            n_tok.alias("n_tokens"),
            F.round(F.length("text") * 1.0 / n_tok, 6).alias("avg_token_len"),
            F.round(sw * 1.0 / n_tok, 6).alias("stopword_ratio"),
            F.round(F.size(F.array_distinct(w)) * 1.0 / n_tok, 6).alias("ttr"),
            F.ceil(F.length("text") / 4.0).cast("long").alias("n_tokens_bpe_est"),
        )
    )


_LANG_MARKERS = {
    "de": ("der", "die", "das", "und", "ist", "ein", "nicht"),
    "en": ("the", "a", "of", "and", "to", "is", "it"),
    "es": ("el", "los", "las", "y", "un", "una", "es"),
    "fr": ("le", "les", "et", "une", "est", "dans", "pour"),
}


def _marker_sql(lang: str) -> str:
    lst = "[" + ", ".join(f"'{w}'" for w in _LANG_MARKERS[lang]) + "]"
    return f"len(list_filter(w, x -> list_contains({lst}, x)))"


@register(
    "text_lang_id",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    s AS (SELECT doc_id,
                 {_marker_sql('de')} AS s_de,
                 {_marker_sql('en')} AS s_en,
                 {_marker_sql('es')} AS s_es,
                 {_marker_sql('fr')} AS s_fr
          FROM t)
    SELECT doc_id, s_de, s_en, s_es, s_fr,
           CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
                WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
                WHEN s_es >= s_fr THEN 'es'
                ELSE 'fr' END AS predicted_lang
    FROM s
    """,
    doc="Language-ID heuristic: per-language stopword-marker scores with "
        "a deterministic argmax (fixed priority tiebreak). On real text "
        "the marker lists separate languages; here the corpus is "
        "synthetic so the operator's determinism is what's verified.",
)
def text_lang_id(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.split("text", " ").alias("w"))
    w = F.col("w")
    def marker_count(markers):
        # closure factory: a default-arg lambda would be seen by F.filter
        # as the 2-arg (value, index) form
        return F.size(F.filter(w, lambda x: x.isin(*markers)))

    scores = {lang: marker_count(m) for lang, m in _LANG_MARKERS.items()}
    s = t.select(
        "doc_id",
        scores["de"].alias("s_de"),
        scores["en"].alias("s_en"),
        scores["es"].alias("s_es"),
        scores["fr"].alias("s_fr"),
    )
    return s.select(
        "*",
        F.when(
            (F.col("s_en") >= F.col("s_de"))
            & (F.col("s_en") >= F.col("s_es"))
            & (F.col("s_en") >= F.col("s_fr")),
            "en",
        )
        .when((F.col("s_de") >= F.col("s_es")) & (F.col("s_de") >= F.col("s_fr")), "de")
        .when(F.col("s_es") >= F.col("s_fr"), "es")
        .otherwise("fr")
        .alias("predicted_lang"),
    )


@register(
    "text_lang_confusion_matrix",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS w
               FROM documents),
    s AS (SELECT lang,
                 {_marker_sql('de')} AS s_de,
                 {_marker_sql('en')} AS s_en,
                 {_marker_sql('es')} AS s_es,
                 {_marker_sql('fr')} AS s_fr
          FROM t),
    p AS (SELECT lang,
                 CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr
                          THEN 'en'
                      WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
                      WHEN s_es >= s_fr THEN 'es'
                      ELSE 'fr' END AS predicted_lang
          FROM s)
    SELECT lang, predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (PARTITION BY lang)
                 + 1e-9, 6) AS share_of_lang
    FROM p GROUP BY lang, predicted_lang
    """,
    doc="Language-ID QA: confusion matrix of the declared lang column "
        "vs the marker-heuristic prediction (text_lang_id's exact "
        "argmax), with each cell's share of its declared language — "
        "the audit that catches a mislabeled crawl slice or a lang-id "
        "model drifting on a minority language before corpus mixing "
        "trusts the labels. Map-only scoring, one dashboard-sized "
        "agg; the share window runs over at most |langs|^2 rows.",
)
def text_lang_confusion_matrix(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    t = d.select("lang", F.split("text", " ").alias("w"))
    w = F.col("w")

    def marker_count(markers):
        # closure factory — see text_lang_id
        return F.size(F.filter(w, lambda x: x.isin(*markers)))

    s = t.select(
        "lang",
        marker_count(_LANG_MARKERS["de"]).alias("s_de"),
        marker_count(_LANG_MARKERS["en"]).alias("s_en"),
        marker_count(_LANG_MARKERS["es"]).alias("s_es"),
        marker_count(_LANG_MARKERS["fr"]).alias("s_fr"),
    )
    p = s.select(
        "lang",
        F.when(
            (F.col("s_en") >= F.col("s_de"))
            & (F.col("s_en") >= F.col("s_es"))
            & (F.col("s_en") >= F.col("s_fr")),
            "en",
        )
        .when(
            (F.col("s_de") >= F.col("s_es"))
            & (F.col("s_de") >= F.col("s_fr")),
            "de",
        )
        .when(F.col("s_es") >= F.col("s_fr"), "es")
        .otherwise("fr")
        .alias("predicted_lang"),
    )
    c = p.groupBy("lang", "predicted_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w_lang = Window.partitionBy("lang")
    return c.select(
        "lang",
        "predicted_lang",
        "n",
        F.round(
            F.col("n") * 1.0 / F.sum("n").over(w_lang) + F.lit(1e-9), 6
        ).alias("share_of_lang"),
    )


@register(
    "text_quality_classifier_score",
    oracle=f"""
    WITH {QCLS_SCORE_SQL}
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           score AS quality_score,
           score >= 0.5 AS keep
    FROM qscore
    """,
    doc=f"Model-based quality filtering, the fasttext-classifier shape "
        f"every production pretraining pipeline runs (heuristic rules "
        f"catch boilerplate; a learned classifier catches fluent spam): "
        f"hashing-trick features (md5 token hash mod {QCLS_BUCKETS}) "
        f"mapped through a deterministic weight function, mean feature "
        f"weight through a sigmoid, keep at 0.5. The weights here are "
        f"a deterministic stand-in (a real model just swaps the weight "
        f"function — the plumbing is identical). MAP-ONLY since r13: "
        f"the per-doc mean is a higher-order fold over the token "
        f"array, so the filter is one scan with zero shuffles at "
        f"100 TB.",
)
def text_quality_classifier_score(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    n_tokens, score = qcls_cols(F.col("text"))
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        score.alias("quality_score"),
        (score >= 0.5).alias("keep"),
    )


_NOVELTY_BANDS = 10


@register(
    "corpus_ngram_novelty_curve",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    g AS (SELECT doc_id,
                 unnest(list_distinct(list_transform(range(len(w) - 2),
                     i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))) AS gram
          FROM t WHERE len(w) >= 3),
    mx AS (SELECT max(doc_id) AS maxd FROM documents),
    bg AS (SELECT DISTINCT
                  CAST((doc_id * {_NOVELTY_BANDS}) // (maxd + 1) AS INT)
                      AS band,
                  gram
           FROM g, mx),
    fb AS (SELECT gram, MIN(band) AS band FROM bg GROUP BY gram),
    db AS (SELECT band, COUNT(*) AS distinct_grams FROM bg GROUP BY band),
    nb AS (SELECT band, COUNT(*) AS novel_grams FROM fb GROUP BY band)
    SELECT db.band,
           CAST(distinct_grams AS BIGINT) AS distinct_grams,
           CAST(COALESCE(novel_grams, 0) AS BIGINT) AS novel_grams,
           ROUND(COALESCE(novel_grams, 0) * 1.0 / distinct_grams + 1e-9, 6)
               AS novelty_rate
    FROM db LEFT JOIN nb USING (band)
    """,
    doc=f"Corpus novelty curve: the corpus in {_NOVELTY_BANDS} "
        f"doc_id-range bands, and per band the fraction of its "
        f"distinct 3-grams appearing for the FIRST time — the "
        f"diminishing-returns readout that tells a data-acquisition "
        f"loop when the next crawl slice stops adding information "
        f"(novelty collapsing toward 0 = more of the same; dedup "
        f"should run before training either way). Two corpus-sized "
        f"shuffles — (band, gram) distinct and first-band-per-gram — "
        f"then {_NOVELTY_BANDS}-row dashboard joins; banding is "
        f"arithmetic on a broadcast max, never a global sort.",
)
def corpus_ngram_novelty_curve(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    base = d.select("doc_id", F.split("text", " ").alias("w")).where(
        F.size("w") >= 3
    )
    g = base.select(
        "doc_id", F.explode(ngram_shingles(F.col("w"), 3)).alias("gram")
    )
    mx = d.agg(F.max("doc_id").alias("maxd"))
    bg = (
        # bounded: 1-row scalar (max(doc_id))
        g.crossJoin(F.broadcast(mx))
        .select(
            F.expr(f"CAST((doc_id * {_NOVELTY_BANDS}) DIV (maxd + 1) AS INT)")
            .alias("band"),
            "gram",
        )
        .distinct()
    )
    fb = bg.groupBy("gram").agg(F.min("band").alias("band"))
    db = bg.groupBy("band").agg(
        F.count(F.lit(1)).cast("long").alias("distinct_grams")
    )
    nb = fb.groupBy("band").agg(
        F.count(F.lit(1)).cast("long").alias("novel_grams")
    )
    # bounded: _NOVELTY_BANDS rows (constant band count)
    return db.join(F.broadcast(nb), "band", "left").select(
        "band",
        "distinct_grams",
        F.coalesce("novel_grams", F.lit(0)).cast("long").alias("novel_grams"),
        F.round(
            F.coalesce("novel_grams", F.lit(0)) * 1.0
            / F.col("distinct_grams")
            + F.lit(1e-9),
            6,
        ).alias("novelty_rate"),
    )


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(lower(trim(text))) AS content_fp,
           md5(array_to_string(string_split(lower(trim(text)), ' ')[1:8], ' '))
               AS prefix_fp,
           sha256(lower(trim(text))) AS content_sha256
    FROM documents
    """,
    doc="Document fingerprinting: normalized full-content and 8-word "
        "prefix hashes (md5 + sha256 — identical hex across engines).",
)
def text_fingerprint(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.col("text")))
    prefix = F.concat_ws(" ", F.slice(F.split(norm, " "), 1, 8))
    return d.select(
        "doc_id",
        F.md5(norm.cast("binary")).alias("content_fp"),
        F.md5(prefix.cast("binary")).alias("prefix_fp"),
        F.sha2(norm.cast("binary"), 256).alias("content_sha256"),
    )


# --------------------------------------------------------------------
# Multimodal column plumbing (binary payloads + typed metadata)
# --------------------------------------------------------------------

@register(
    "multimodal_binary_meta",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS payload_md5,
           CAST(octet_length(encode(text)) % 1024 AS INT) AS fake_width,
           CAST((octet_length(encode(text)) * 7) % 768 AS INT) AS fake_height
    FROM documents
    """,
    doc="Multimodal plumbing: text re-encoded as an opaque binary "
        "payload column with typed metadata (byte length, checksum, "
        "deterministic fake decode dims). Real image/audio decode is a "
        "mapInPandas stage over exactly this schema — see "
        "operators/multimodal.py for the batch-shaped UDF plumbing.",
)
def multimodal_binary_meta(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    blob = F.encode(F.col("text"), "utf-8")
    nbytes = F.octet_length(blob)
    return d.select(
        "doc_id",
        nbytes.alias("n_bytes"),
        F.md5(blob).alias("payload_md5"),
        (nbytes % 1024).cast("int").alias("fake_width"),
        ((nbytes * 7) % 768).cast("int").alias("fake_height"),
    )


@register(
    "multimodal_decode_dims",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           CAST(octet_length(encode(text)) % 1024 AS INT) AS width,
           CAST((octet_length(encode(text)) * 7) % 768 AS INT) AS height,
           CAST(octet_length(encode(text)) % 30 + 1 AS INT) AS n_frames
    FROM documents
    """,
    doc="Drives the real mapInPandas decode stage (operators/"
        "multimodal.py) over text-as-binary payloads. The deterministic "
        "fake decoder's dims are pure functions of payload length, so "
        "the Arrow-batched UDF path itself is oracle-checkable — swap "
        "in PIL/ffmpeg and only the Python body changes, not the plan.",
)
def multimodal_decode_dims(spark, sf_dir):
    from change_data_capture_poc_spark.operators.multimodal import (
        decode_media_batch,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )
    decoded = decode_media_batch(d, "payload")
    return decoded.select(
        "doc_id",
        F.octet_length("payload").alias("n_bytes"),
        "width",
        "height",
        "n_frames",
    )


@register(
    "multimodal_feature_bucket_dedup",
    oracle="""
    WITH c AS (
        -- UTF-8 BYTE histogram, same as the Spark/numpy extractor:
        -- byte mod 16 is the low nibble, i.e. the 2nd hex digit of each
        -- byte in hex(encode(text)). Codepoint-based histograms only
        -- agree with the byte path on pure-ASCII text, so the oracle
        -- works on bytes too. Empty payloads are excluded on BOTH
        -- engines (division by n=0 otherwise).
        SELECT doc_id, octet_length(encode(text)) AS n,
               hex(encode(text)) AS hx
        FROM documents
        WHERE octet_length(encode(text)) > 0
    ),
    co AS (
        SELECT doc_id, n,
               list_transform(range(n),
                   i -> strpos('0123456789ABCDEF',
                               substring(hx, CAST(2*i+2 AS INT), 1)) - 1
               ) AS codes
        FROM c
    ),
    h AS (
        SELECT doc_id, n,
               list_transform(range(16),
                   b -> len(list_filter(codes, c -> c = b))) AS hist
        FROM co
    ),
    k AS (
        SELECT doc_id,
               array_to_string(list_transform(hist,
                   c -> CAST((c * 32) // n AS VARCHAR)), '|') AS bucket_key
        FROM h
    )
    SELECT bucket_key,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_doc
    FROM k GROUP BY bucket_key HAVING COUNT(*) >= 2
    """,
    doc="Multimodal near-dup via the Arrow feature extractor: payloads "
        "run through the REAL mapInPandas embedding stage (operators/"
        "multimodal.extract_features_batch — numpy byte-histogram "
        "features, the stand-in for a vision/audio encoder), features "
        "are quantized to 32 levels with INTEGER arithmetic (exact "
        "counts recovered from the normalized float32 vector — "
        "round(f*n) is exact while n < 2^24, then (c*32) DIV n "
        "matches the oracle bit-for-bit with no float thresholds), "
        "and identical quantized signatures bucket together — the "
        "perceptual-bucket dedup shape (pHash-style) for binary "
        "payloads. One groupBy on the signature; the decode/embed "
        "stage is the only Python, Arrow-batched.",
)
def multimodal_feature_bucket_dedup(spark, sf_dir):
    from change_data_capture_poc_spark.operators.multimodal import (
        extract_features_batch,
    )

    # NULL/empty payloads are excluded BEFORE the Arrow extractor (a
    # filter placed after mapInPandas is not pushed below it, so a NULL
    # text would reach bytes() and crash the Python worker); the oracle
    # applies the same WHERE octet_length(...) > 0, which also drops
    # NULL via three-valued logic.
    d = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
        )
        .where(F.octet_length("payload") > 0)
    )
    feat = extract_features_batch(d, "payload", dim=16).select(
        "doc_id",
        F.octet_length("payload").alias("n_bytes"),
        "features",
    )
    key = F.concat_ws(
        "|",
        F.expr(
            "transform(features, f -> "
            "CAST((CAST(round(f * n_bytes) AS BIGINT) * 32) "
            "DIV n_bytes AS STRING))"
        ),
    )
    return (
        feat.select(key.alias("bucket_key"), "doc_id")
        .groupBy("bucket_key")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("keeper_doc"),
        )
        .where(F.col("n_docs") >= 2)
    )


# --------------------------------------------------------------------
# Training-data sampling & corpus statistics
# --------------------------------------------------------------------


@register(
    "sample_stratified_hash",
    oracle="""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
          % 100 < CASE WHEN lang = 'en' THEN 20 ELSE 60 END
    """,
    doc="Deterministic stratified sampling — the language-rebalancing "
        "step of a training-data pipeline (downsample the dominant "
        "language, keep the rest): keep a row iff md5(doc_id) mod 100 "
        "falls under its stratum's rate. Pure filter, no shuffle, no "
        "RNG — reproducible across runs, engines, and partitionings "
        "(rand()-based sampling is none of those). Rates: en 20%, "
        "other languages 60%.",
)
def sample_stratified_hash(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    h = md5_mod(F.col("doc_id"), 100)
    rate = F.when(F.col("lang") == "en", 20).otherwise(60)
    return d.where(h < rate).select("doc_id", "lang", "source", "n_chars")


@register(
    "doc_length_histogram",
    oracle="""
    SELECT lang,
           CASE WHEN n_chars < 0 THEN 0
                WHEN n_chars >= 600 THEN 13
                ELSE CAST(FLOOR(n_chars / 50.0) AS INT) + 1
           END AS bucket,
           COUNT(*) AS n,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars
    FROM documents
    GROUP BY lang, bucket
    """,
    doc="Per-language document-length histogram (width_bucket, 12 bins "
        "over 0-600 chars) — the length-distribution diagnostic every "
        "corpus QA pass runs before truncation/packing decisions. One "
        "agg shuffle on (lang, bucket). DuckDB has no width_bucket, so "
        "the oracle spells out the same bin arithmetic (underflow "
        "bucket 0, overflow bucket n+1).",
)
def doc_length_histogram(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            "lang",
            F.width_bucket("n_chars", F.lit(0), F.lit(600), F.lit(12))
            .cast("int")
            .alias("bucket"),
            "n_chars",
        )
        .groupBy("lang", "bucket")
        .agg(
            F.count("*").alias("n"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


@register(
    "pack_concat_chunks",
    oracle="""
    WITH c AS (
        SELECT doc_id, lang, n_chars,
               SUM(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS cum
        FROM documents
    )
    SELECT doc_id, lang,
           CAST(FLOOR((cum - n_chars) / 2048.0) AS BIGINT) AS seq_id,
           CAST((cum - n_chars) % 2048 AS BIGINT) AS seq_offset
    FROM c
    """,
    doc="Sequence packing, concatenate-then-chunk form (how pretraining "
        "corpora are actually packed): documents are concatenated per "
        "language in doc_id order and cut into 2048-char sequences; "
        "each doc reports the sequence id and offset where it starts. "
        "One window shuffle on lang; integer-exact, fully "
        "deterministic — no bin-packing heuristic state.",
)
def pack_concat_chunks(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.sum("n_chars").over(w) - F.col("n_chars")
    return d.select(
        "doc_id",
        "lang",
        F.floor(start / 2048).cast("long").alias("seq_id"),
        (start % 2048).cast("long").alias("seq_offset"),
    )


@register(
    "corpus_source_mix",
    oracle="""
    SELECT lang, source,
           SUM(n_chars) AS chars,
           COUNT(*) AS docs,
           ROUND(SUM(n_chars) * 1.0 /
                 SUM(SUM(n_chars)) OVER (PARTITION BY lang) + 1e-9,
                 6) AS share
    FROM documents
    GROUP BY lang, source
    """,
    doc="Per-(language, source) corpus mix with each source's share of "
        "its language's characters — the mixture diagnostic behind "
        "sampling-weight decisions. Window OVER an aggregate (share of "
        "group within supergroup): one agg shuffle + one window "
        "exchange on lang.",
)
def corpus_source_mix(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    agg = d.groupBy("lang", "source").agg(
        F.sum("n_chars").alias("chars"), F.count("*").alias("docs")
    )
    w = Window.partitionBy("lang")
    return agg.select(
        "lang",
        "source",
        "chars",
        "docs",
        F.round(F.col("chars") * 1.0 / F.sum("chars").over(w) + 1e-9, 6).alias(
            "share"
        ),
    )


@register(
    "text_quality_filter",
    oracle=f"""
    WITH {QF_RULE_SQL}
    SELECT doc_id, drop_reason, drop_reason IS NULL AS keep
    FROM qrule
    """,
    doc="Gopher-style quality filter: length bounds, mean-word-length "
        "band (2-12), alpha-token fraction >= 0.6, stopword presence — "
        "each doc gets keep/drop plus the FIRST failed rule (the "
        "audit trail a corpus-cleaning run needs). All thresholds "
        "compared in integer-exact cross-multiplied form (no float "
        "ratios to disagree across engines); token array materialized "
        "once behind a projection boundary.",
)
def text_quality_filter(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    reason = quality_drop_reason(F.col("text"), F.col("n_chars"))
    return d.select(
        "doc_id", reason.alias("drop_reason"), reason.isNull().alias("keep")
    )


@register(
    "text_repetition_stats",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    g AS (
        SELECT doc_id,
               unnest(list_transform(range(len(w) - 1),
                                     i -> w[i+1] || ' ' || w[i+2])) AS gram
        FROM t WHERE len(w) >= 2
    ),
    counts AS (
        SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY doc_id, gram
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_grams,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(MAX(c) AS BIGINT) AS top_gram_count,
           ROUND(1.0 - COUNT(*) * 1.0 / SUM(c) + 1e-9, 6) AS dup_fraction
    FROM counts GROUP BY doc_id
    """,
    doc="Within-document repetition stats (the Gopher repetition "
        "rules' raw signals): word-2-gram totals, distinct count, the "
        "most-repeated gram's count, duplicate-gram fraction. "
        "Non-distinct bigrams by construction (repetition IS the "
        "signal); two key-local aggregations, one shuffle on doc_id.",
)
def text_repetition_stats(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.split("text", " ").alias("w")).where(
        F.size("w") >= 2
    )
    grams = t.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("w") - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at("w", i + 1),
                    F.element_at("w", i + 2),
                ),
            )
        ).alias("gram"),
    )
    counts = grams.groupBy("doc_id", "gram").agg(F.count("*").alias("c"))
    return counts.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_grams"),
        F.count("*").cast("long").alias("n_distinct"),
        F.max("c").cast("long").alias("top_gram_count"),
        F.round(1.0 - F.count("*") * 1.0 / F.sum("c") + 1e-9, 6).alias(
            "dup_fraction"
        ),
    )


@register(
    "events_funnel",
    oracle="""
    WITH s AS (
        SELECT user_id, MIN(ts) AS t_s
        FROM events
        WHERE event_type = 'signup' AND user_id IS NOT NULL
        GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS t_c
        FROM events e JOIN s ON e.user_id = s.user_id
        WHERE e.event_type = 'click' AND e.ts > s.t_s
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS t_p
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t_c
        GROUP BY e.user_id
    )
    SELECT CAST((SELECT COUNT(*) FROM s) AS BIGINT) AS n_signup,
           CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_click_after,
           CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_purchase_after
    """,
    doc="Ordered conversion funnel signup -> click -> purchase: each "
        "stage counts users whose first stage-event strictly follows "
        "their previous stage's first event. ONE keyed aggregation: "
        "each user's events are collected time-sorted and a single "
        "fold walks the sequence carrying (t_signup, t_click, "
        "t_purchase) — 2 shuffles total vs 8 for the naive "
        "three-stage agg+join chain (the oracle states that naive "
        "form; a sorted fold taking the FIRST qualifying event equals "
        "its MIN over qualifying events). Per-user state is one "
        "3-field struct; collect_list is bounded by events-per-user, "
        "the same assumption every sessionizer makes. NULL user_ids "
        "are excluded EXPLICITLY on both sides: the engine's groupBy "
        "would pool them into one pseudo-user while the oracle's "
        "equality joins drop them — an asymmetry, not a semantics "
        "choice, so the funnel states it outright.",
)
def events_funnel(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    ).where(F.col("user_id").isNotNull())
    per_user = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("ts", "event_type"))).alias(
            "seq"
        )
    )
    null_ts = F.lit(None).cast("timestamp")
    init = F.struct(
        null_ts.alias("t_s"), null_ts.alias("t_c"), null_ts.alias("t_p")
    )

    def step(acc, e):
        ts, et = e.getField("ts"), e.getField("event_type")
        t_s, t_c, t_p = (
            acc.getField("t_s"),
            acc.getField("t_c"),
            acc.getField("t_p"),
        )
        return F.struct(
            F.when(t_s.isNull() & (et == "signup"), ts)
            .otherwise(t_s)
            .alias("t_s"),
            F.when(
                t_c.isNull()
                & t_s.isNotNull()
                & (et == "click")
                & (ts > t_s),
                ts,
            )
            .otherwise(t_c)
            .alias("t_c"),
            F.when(
                t_p.isNull()
                & t_c.isNotNull()
                & (et == "purchase")
                & (ts > t_c),
                ts,
            )
            .otherwise(t_p)
            .alias("t_p"),
        )

    stages = per_user.select(F.aggregate("seq", init, step).alias("st"))
    return stages.agg(
        F.sum(F.col("st.t_s").isNotNull().cast("long")).alias("n_signup"),
        F.sum(F.col("st.t_c").isNotNull().cast("long")).alias(
            "n_click_after"
        ),
        F.sum(F.col("st.t_p").isNotNull().cast("long")).alias(
            "n_purchase_after"
        ),
    )


@register(
    "events_retention_cohorts",
    oracle="""
    WITH f AS (
        SELECT user_id,
               date_diff('day', DATE '2024-01-01',
                         CAST(MIN(ts) AS DATE)) // 7 AS cohort_wk
        FROM events GROUP BY user_id
    ),
    a AS (
        SELECT DISTINCT e.user_id, f.cohort_wk,
               date_diff('day', DATE '2024-01-01',
                         CAST(e.ts AS DATE)) // 7 AS active_wk
        FROM events e JOIN f ON e.user_id = f.user_id
    )
    SELECT CAST(cohort_wk AS INT) AS cohort_wk,
           CAST(active_wk - cohort_wk AS INT) AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM a
    GROUP BY cohort_wk, active_wk
    """,
    doc="Weekly retention cohorts: users bucketed by first-seen week "
        "(integer day-arithmetic from a fixed origin — no engine "
        "week-truncation semantics to disagree on), counted once per "
        "(cohort, week offset) they were active. Two aggs + one "
        "co-partitioned join on user_id.",
)
def events_retention_cohorts(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    origin = F.lit("2024-01-01").cast("date")
    f = ev.groupBy("user_id").agg(
        F.floor(F.datediff(F.min("ts").cast("date"), origin) / 7)
        .cast("int")
        .alias("cohort_wk")
    )
    a = (
        ev.join(f, "user_id")
        .select(
            "user_id",
            "cohort_wk",
            F.floor(F.datediff(F.col("ts").cast("date"), origin) / 7)
            .cast("int")
            .alias("active_wk"),
        )
        .distinct()
    )
    return a.groupBy("cohort_wk", "active_wk").agg(
        F.count("*").cast("long").alias("n_users")
    ).select(
        "cohort_wk",
        (F.col("active_wk") - F.col("cohort_wk")).cast("int").alias(
            "week_offset"
        ),
        "n_users",
    )


_PR_ITERS = 3
_PR_CTES = ",\n    ".join(
    f"pr{i} AS (SELECT e.b AS node, 0.15 + 0.85 * SUM(p.r / deg.d) AS r"
    f" FROM pr{i-1} p JOIN edges e ON p.node = e.a"
    f" JOIN deg ON deg.a = p.node GROUP BY e.b)"
    for i in range(1, _PR_ITERS + 1)
)


@register(
    "graph_pagerank_minhash",
    oracle=f"""
    WITH
    {MINHASH_PAIRS_SQL},
    {DUP_EDGES_SQL},
    deg AS (SELECT a, COUNT(*) AS d FROM edges GROUP BY a),
    pr0 AS (SELECT a AS node, 1.0 AS r FROM deg),
    {_PR_CTES}
    SELECT node AS doc_id, ROUND(r, 6) AS pr
    FROM pr{_PR_ITERS}
    """,
    doc="PageRank ({} fixed power iterations, damping 0.85) over the "
        "minhash near-dup graph — centrality within duplicate "
        "neighborhoods (which doc is the hub of a template family). "
        "Fixed iteration count keeps it deterministic, so the oracle "
        "unrolls the SAME iterations as chained CTEs (no recursive "
        "aggregation needed). Engine side: one contribution shuffle "
        "per iteration, degrees joined on the groupBy key, lineage "
        "truncated per iteration (operators/components.py).".format(
            _PR_ITERS
        ),
)
def graph_pagerank_minhash(spark, sf_dir):
    from change_data_capture_poc_spark.operators.components import pagerank

    pairs = dedup_minhash_lsh(spark, sf_dir)
    pr = pagerank(
        pairs, src="doc_id_a", dst="doc_id_b", iterations=_PR_ITERS
    )
    return pr.select(
        F.col("node").alias("doc_id"), F.round("rank", 6).alias("pr")
    )


@register(
    "text_top_tokens",
    oracle="""
    WITH t AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    )
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS n
    FROM t GROUP BY tok
    ORDER BY n DESC, tok
    LIMIT 20
    """,
    doc="Global top-20 token frequencies: explode + count + TakeOrdered "
        "(partial top-k per partition, no full sort). The exact "
        "formulation; at 100 TB swap in a count-min/approx_top_k "
        "sketch per partition with the same output contract.",
)
def text_top_tokens(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "tok")
        .limit(20)
    )


@register(
    "text_vocab_stats",
    oracle="""
    WITH t AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    c AS (SELECT tok, COUNT(*) AS n FROM t GROUP BY tok)
    SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
           CAST(SUM(n) AS BIGINT) AS total_tokens,
           CAST(COUNT(*) FILTER (WHERE n = 1) AS BIGINT) AS hapax_count,
           ROUND(COUNT(*) * 1.0 / SUM(n) + 1e-9, 6) AS type_token_ratio
    FROM c
    """,
    doc="Corpus vocabulary statistics: vocabulary size, total tokens, "
        "hapax legomena (frequency-1 types), type-token ratio — the "
        "Zipf-curve health check before tokenizer training. One token "
        "shuffle, then a scalar reduce.",
)
def text_vocab_stats(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    c = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
    )
    return c.agg(
        F.count("*").cast("long").alias("vocab_size"),
        F.sum("n").cast("long").alias("total_tokens"),
        F.sum((F.col("n") == 1).cast("long")).alias("hapax_count"),
        F.round(F.count("*") * 1.0 / F.sum("n") + 1e-9, 6).alias(
            "type_token_ratio"
        ),
    )


@register(
    "text_tfidf_top_terms",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks
           GROUP BY doc_id, tok),
    df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks
           GROUP BY tok),
    n AS (SELECT COUNT(*) AS n FROM documents)
    SELECT doc_id, tok,
           ROUND(tf * ln(n.n * 1.0 / df.df), 6) AS tfidf
    FROM tf JOIN df USING (tok), n
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY doc_id
        ORDER BY ROUND(tf * ln(n.n * 1.0 / df.df), 6) DESC, tok) <= 3
    """,
    doc="Per-document top-3 TF-IDF terms: term frequency and document "
        "frequency are two aggregations over one exploded token "
        "relation; idf joins back on the token (the df side is "
        "vocabulary-sized — broadcastable). Ranking happens on the "
        "ROUNDED score with the token as tiebreak, so the top-3 "
        "cutoff is deterministic across engines (module rounding "
        "rule).",
)
def text_tfidf_top_terms(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    # tf is read by BOTH the scored stream and the df aggregation.
    # Exchange reuse is supposed to cover that, but it is fragile —
    # the round-12 probe measured the 8x self-union input defeating
    # ReusedExchange canonicalization, silently doubling the pair-
    # exchange write (the dominant shuffle). persist_once pins the
    # pair table so the aggregation materializes exactly once no
    # matter what the reuse pass decides.
    tf = persist_once(
        toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    )
    # df derived FROM tf (rows are already distinct (doc, tok) pairs):
    # no countDistinct two-phase agg.
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("df"))
    n = d.agg(F.count("*").alias("n"))
    # Broadcast on dfreq (round-11): the vocabulary is
    # Heaps-law-bounded — sub-linear in corpus size — and the tf side
    # is already the pre-aggregated (doc, tok) pair stream, so without
    # the hint an AQE fallback shuffles that whole stream on tok (the
    # 8x probe measured the flip as a 10.8x shuffle-byte jump). A
    # deployment whose type count outgrows driver memory flips
    # spark.graft.vocab.broadcast=false (functions/hints.py) and the
    # join degrades to a shuffle of the compressed pairs — no edit.
    scored = (
        tf.join(vocab_broadcast(dfreq), "tok")
        # bounded: 1-row corpus count
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            F.round(
                F.col("tf") * F.log(F.col("n") * 1.0 / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "tok")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .drop("rn")
    )


# --------------------------------------------------------------------
# Timeseries repair: forward fill & gap-filled resampling
# --------------------------------------------------------------------


@register(
    "events_forward_fill",
    oracle="""
    SELECT event_id, user_id, ts,
           LAST_VALUE(CASE WHEN event_type = 'purchase' THEN value END
                      IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS last_purchase_value
    FROM events
    """,
    doc="Forward fill (last-observation-carried-forward): every event "
        "carries the user's most recent purchase value at that moment "
        "(NULL before the first purchase). last(ignorenulls) over a "
        "running frame — ONE window shuffle on the key; the same "
        "mechanism the as-of join builds on (operators/asof.py).",
)
def events_forward_fill(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    purchase_val = F.when(F.col("event_type") == "purchase", F.col("value"))
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.last(purchase_val, ignorenulls=True)
        .over(w)
        .alias("last_purchase_value"),
    )


@register(
    "events_hour_grid_fill",
    oracle="""
    WITH u AS (
        SELECT user_id,
               date_trunc('hour', MIN(ts)) AS h0,
               date_trunc('hour', MAX(ts)) AS h1
        FROM events WHERE user_id < 100 GROUP BY user_id
    ),
    grid AS (
        SELECT user_id,
               unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
        FROM u
    ),
    hourly AS (
        SELECT user_id, date_trunc('hour', ts) AS hour,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 6) AS value_sum
        FROM events WHERE user_id < 100
        GROUP BY user_id, date_trunc('hour', ts)
    )
    SELECT g.user_id, g.hour,
           COALESCE(h.n_events, 0) AS n_events,
           COALESCE(h.value_sum, 0.0) AS value_sum
    FROM grid g
    LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hour = h.hour
    """,
    doc="Gap-filled hourly resample (the hypertable/time_bucket_gapfill "
        "shape): each user's hour grid spans their first to last "
        "event; silent hours materialize as zero rows via a left join "
        "against the hourly rollup. The grid is generated per key "
        "with sequence+explode — no driver loops, no cross join; both "
        "sides shuffle once on (user, hour)'s user prefix. Restricted "
        "to user_id < 100 to keep oracle row counts sane.",
)
def events_hour_grid_fill(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 100)
    hour = F.date_trunc("hour", F.col("ts"))
    u = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    grid = u.select(
        "user_id",
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour"),
    )
    hourly = ev.groupBy("user_id", hour.alias("hour")).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 6).alias("value_sum"),
    )
    return (
        grid.join(hourly, ["user_id", "hour"], "left")
        .select(
            "user_id",
            "hour",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("value_sum", F.lit(0.0)).alias("value_sum"),
        )
    )


@register(
    "graph_triangle_count",
    oracle=f"""
    WITH
    {MINHASH_PAIRS_SQL}
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM pairs e1
    JOIN pairs e2 ON e2.pa = e1.pb
    JOIN pairs e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
    """,
    doc="Triangle count over the minhash near-dup graph — the density "
        "signal that distinguishes template families (cliques) from "
        "chance collisions (stray edges). Canonical a<b<c edge "
        "orientation makes it two equi-joins with zero double "
        "counting; at scale the joins shuffle on the edge endpoints "
        "and the heavy-hitter mitigation is degree-ordering the "
        "orientation (here id-ordering — dup-graph degrees are "
        "bounded by family size).",
)
def graph_triangle_count(spark, sf_dir):
    pairs = dedup_minhash_lsh(spark, sf_dir).transform(persist_once)
    e1 = pairs.alias("e1")
    e2 = pairs.alias("e2")
    e3 = pairs.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.doc_id_a") == F.col("e1.doc_id_b"))
        .join(
            e3,
            (F.col("e3.doc_id_a") == F.col("e1.doc_id_a"))
            & (F.col("e3.doc_id_b") == F.col("e2.doc_id_b")),
        )
    )
    return tri.agg(F.count("*").cast("long").alias("n_triangles"))


@register(
    "text_char_entropy",
    oracle="""
    WITH c AS (
        SELECT doc_id,
               list_transform(range(len(text)), i -> text[i+1]) AS chars
        FROM documents
    ),
    h AS (
        SELECT doc_id, len(chars) AS n,
               list_transform(list_distinct(chars), ch ->
                   len(list_filter(chars, x -> x = ch))) AS counts
        FROM c
    )
    SELECT doc_id,
           ROUND(-list_aggregate(
               list_transform(counts,
                   k -> (k * 1.0 / n) * ln(k * 1.0 / n)),
               'sum'), 6) AS entropy
    FROM h
    """,
    doc="Character-level Shannon entropy per document (nats) — the "
        "Gopher-family signal that flags mojibake (high) and "
        "boilerplate/repetition (low). Engine side: explode chars -> "
        "per-(doc, char) counts -> entropy in one agg over the counts "
        "(sum of p ln p is order-independent; rounded to 6 for the "
        "float bridge).",
)
def text_char_entropy(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    chars = d.select(
        "doc_id",
        F.explode(F.split(F.col("text"), "(?!^)(?=.)")).alias("ch"),
    )
    counts = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("k"))
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("k").alias("n"),
            # Sorted so the float sum has ONE canonical order — a
            # collect_list order varying across runs could flip the
            # 6th rounded decimal at a boundary.
            F.sort_array(F.collect_list("k")).alias("ks"),
        )
        .select(
            "doc_id",
            F.round(
                -F.aggregate(
                    F.transform(
                        "ks",
                        lambda k: (k * 1.0 / F.col("n"))
                        * F.log(k * 1.0 / F.col("n")),
                    ),
                    F.lit(0.0),
                    lambda a, b: a + b,
                ),
                6,
            ).alias("entropy"),
        )
    )


@register(
    "sample_weighted_hash",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
          % 1000000 < LEAST(n_chars, 500) * 1000
    """,
    doc="Deterministic WEIGHTED sampling: keep probability proportional "
        "to document length (p = min(n_chars, 500)/1000) decided by "
        "md5(doc_id) against the scaled threshold — importance "
        "sampling for mixture construction with zero RNG state, "
        "reproducible across engines/partitionings/runs. Pure filter, "
        "no shuffle.",
)
def sample_weighted_hash(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    h = md5_mod(F.col("doc_id"), 1000000)
    return d.where(
        h < F.least(F.col("n_chars"), F.lit(500)) * 1000
    ).select("doc_id", "lang", "n_chars")


@register(
    "sample_fixed_per_stratum",
    oracle="""
    SELECT doc_id, lang
    FROM documents
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
    ) <= 20
    """,
    doc="Fixed-size-per-stratum sampling: exactly 20 docs per language, "
        "chosen by ranking each stratum on md5(doc_id) — a "
        "deterministic uniform draw (hash order is uncorrelated with "
        "content) that replaces reservoir sampling; one window "
        "shuffle on the stratum key.",
)
def sample_fixed_per_stratum(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string").cast("binary")), F.col("doc_id")
    )
    return (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 20)
        .select("doc_id", "lang")
    )


@register(
    "sql_recursive_reachability",
    oracle=f"""
    WITH RECURSIVE
    {MINHASH_PAIRS_SQL},
    {DUP_EDGES_SQL},
    reach(a, b, lvl) AS (
        SELECT a, b, 1 FROM edges
        UNION ALL
        SELECT DISTINCT r.a, e.b, r.lvl + 1
        FROM reach r JOIN edges e ON r.b = e.a
        WHERE r.lvl < 5
    )
    SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
    FROM reach GROUP BY a
    """,
    doc="Recursive CTE on the SPARK SQL surface (Spark 4 WITH "
        "RECURSIVE): 5-hop bounded reachability over the minhash "
        "near-dup graph, reduced to per-node minimum reachable id. "
        "Spark's recursion supports UNION ALL only "
        "(UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE), so the recursive "
        "step dedups its own frontier with SELECT DISTINCT: each "
        "level is bounded by the distinct reachable-pair count "
        "(<= closure size) instead of the WALK count, which grows "
        "multiplicatively with clique size — a dense dup-clique can "
        "no longer blow the recursion up. The explicit level guard "
        "stays; both engines run the IDENTICAL bounded recursion. "
        "Depth 5 >= the dup-graph diameter here, so this equals the "
        "full closure. The ENGINE path for clustering remains label "
        "propagation (dedup_cluster_label_propagation) — this query "
        "exists to prove the SQL feature end-to-end.",
)
def sql_recursive_reachability(spark, sf_dir):
    pairs = dedup_minhash_lsh(spark, sf_dir)
    # Materialize the symmetric edge set ONCE before recursion: the
    # recursive step references edges at every level, and an
    # unpersisted view re-executes the whole minhash-LSH pipeline
    # (shingle -> minhash -> band join) per level — the round-10
    # bench measured that as a 2.95x regression. persist_once keeps
    # the cache under the engine's release_pins contract.
    edges = (
        pairs.select(F.col("doc_id_a").alias("a"), F.col("doc_id_b").alias("b"))
        .union(
            pairs.select(F.col("doc_id_b").alias("a"), F.col("doc_id_a").alias("b"))
        )
        .distinct()
        .transform(persist_once)
    )
    edges.createOrReplaceTempView("mh_edges")
    return spark.sql(
        """
        WITH RECURSIVE
        reach(a, b, lvl) AS (
            SELECT a, b, 1 FROM mh_edges
            UNION ALL
            SELECT DISTINCT r.a, e.b, r.lvl + 1
            FROM reach r JOIN mh_edges e ON r.b = e.a
            WHERE r.lvl < 5
        )
        SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
        FROM reach GROUP BY a
        """
    )


# --------------------------------------------------------------------
# Training-data hygiene: PII redaction and benchmark decontamination
# --------------------------------------------------------------------

@register(
    "text_pii_redact",
    oracle=r"""
    SELECT c_custkey,
           regexp_replace(c_name, '\d{6,}', '[ID]', 'g') AS redacted_name,
           regexp_replace(c_name, '\d{6}(\d{3})', 'XXXXXX\1', 'g') AS masked_name,
           CAST(len(regexp_extract_all(c_name, '\d{6,}')) AS INT) AS n_redactions
    FROM customer
    """,
    doc="PII scrubbing pass a training-data pipeline runs before any "
        "text ships: long digit runs (account-number shaped) are "
        "either fully redacted to a typed placeholder or masked "
        "keeping the last 3 digits via a capture group. Pure JVM "
        "regexp_replace/regexp_extract_all — whole-stage codegen, no "
        "shuffle at all (map-only over the scan), so it streams at "
        "full scan bandwidth over 100 TB. Patterns avoid lookaround "
        "so the exact same regex runs on Java regex and RE2 engines "
        "(reference delegates all text ops to the engine: "
        "transform_scd2.py keeps payloads opaque).",
)
def text_pii_redact(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    digits = r"\d{6,}"
    return c.select(
        "c_custkey",
        F.regexp_replace("c_name", digits, "[ID]").alias("redacted_name"),
        F.regexp_replace("c_name", r"\d{6}(\d{3})", r"XXXXXX$1").alias(
            "masked_name"
        ),
        F.size(F.regexp_extract_all("c_name", F.lit(digits), F.lit(0)))
        .cast("int")
        .alias("n_redactions"),
    )


# Benchmark-contamination check: 3-gram shingles here because the
# synthetic vocabulary is ~40 words (40^3 = 64k gram space) — real
# decontamination uses 8-13-gram windows; the plan is identical, only
# the constant changes. The benchmark set is the deterministic
# doc_id % 29 == 0 AND doc_id < 500 slice — FIXED-SIZE by design: an
# eval benchmark does not grow with the training corpus, and capping
# it keeps the random 3-gram collision floor constant across scale
# factors (uncapped, the sf0.1 benchmark grew 10x and background
# overlap swamped every threshold).
_DECON_N = 3
_DECON_MOD = 29
_DECON_BENCH_MAX = 500


@register(
    "decontaminate_ngram_overlap",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    g AS (
        SELECT doc_id,
               list_distinct(list_transform(range(len(w) - {_DECON_N - 1}),
                   i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS grams
        FROM t WHERE len(w) >= {_DECON_N}
    ),
    e AS (SELECT doc_id, unnest(grams) AS gram FROM g),
    bench AS (SELECT DISTINCT gram FROM e
              WHERE doc_id % {_DECON_MOD} = 0
                AND doc_id < {_DECON_BENCH_MAX}),
    hits AS (
        SELECT e.doc_id, COUNT(*) AS c
        FROM e JOIN bench USING (gram)
        WHERE NOT (e.doc_id % {_DECON_MOD} = 0
                   AND e.doc_id < {_DECON_BENCH_MAX})
        GROUP BY e.doc_id
    )
    SELECT g.doc_id,
           CAST(len(grams) AS INT) AS n_grams,
           CAST(COALESCE(c, 0) AS BIGINT) AS n_overlap,
           ROUND(COALESCE(c, 0) * 1.0 / len(grams) + 1e-9, 6) AS overlap_ratio,
           CAST(COALESCE(c, 0) > 0 AS INT) AS contaminated
    FROM g LEFT JOIN hits ON g.doc_id = hits.doc_id
    WHERE NOT (g.doc_id % {_DECON_MOD} = 0
               AND g.doc_id < {_DECON_BENCH_MAX})
    """,
    doc="Benchmark decontamination: per-document count of distinct "
        "word n-grams shared with a held-out benchmark slice. The "
        "benchmark gram set is tiny relative to the corpus (an eval "
        "set vs 100 TB), so it is broadcast and the check is a "
        "map-side semi-join + one groupBy on doc_id — the corpus is "
        "never shuffled by gram. Every doc gets a row (LEFT join), "
        "so 'clean' is an explicit 0, not an absent row.",
)
def decontaminate_ngram_overlap(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    # The broadcast semi-join keeps the gram work map-side, so its
    # parallelism is the SCAN's parallelism: a 100 TB scan has
    # thousands of input splits, but a small test file has one, which
    # serializes the explode (measured 5.4 s -> 0.5 s). Repartition to
    # restore the cluster-shaped fan-out, and persist the gram table —
    # it feeds three consumers (benchmark set, hit counts, base rows).
    toks = (
        d.select("doc_id", F.split("text", " ").alias("w"))
        .where(F.size("w") >= _DECON_N)
        .repartition(32, "doc_id")
    )
    g = toks.select(
        "doc_id", ngram_shingles(F.col("w"), _DECON_N).alias("grams")
    ).transform(persist_once)
    is_bench = (F.col("doc_id") % _DECON_MOD == 0) & (
        F.col("doc_id") < _DECON_BENCH_MAX
    )
    e = g.select("doc_id", F.explode("grams").alias("gram"))
    bench = e.where(is_bench).select("gram").distinct()
    hits = (
        e.where(~is_bench)
        # bounded: benchmark gram set capped by _DECON_BENCH_MAX docs
        .join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("c"))
    )
    base = g.where(~is_bench).select(
        "doc_id", F.size("grams").alias("n_grams")
    )
    n_over = F.coalesce(F.col("c"), F.lit(0)).cast("bigint")
    return base.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        n_over.alias("n_overlap"),
        F.round(n_over / F.col("n_grams") + F.lit(1e-9), 6).alias(
            "overlap_ratio"
        ),
        (n_over > 0).cast("int").alias("contaminated"),
    )


@register(
    "events_anomaly_zscore",
    oracle="""
    WITH s AS (
        SELECT event_type, AVG(value) AS mu, stddev_samp(value) AS sigma
        FROM events GROUP BY event_type
    )
    SELECT event_id, e.event_type, value,
           ROUND((value - mu) / sigma + 1e-9, 6) AS zscore
    FROM events e JOIN s USING (event_type)
    WHERE ROUND((value - mu) / sigma + 1e-9, 6) > 3
    """,
    doc="Statistical outlier filter (z-score > 3 per event class) — "
        "the numeric-column anomaly screen a training pipeline runs "
        "before ingesting telemetry-derived features. Two passes over "
        "the facts: one partial-agg shuffle for the 5-row per-class "
        "moment table, then a broadcast join + map-side filter — the "
        "fact table is never shuffled. The filter compares the SAME "
        "rounded expression both engines emit, so the threshold "
        "decision is identical across float implementations.",
)
def events_anomaly_zscore(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    stats = e.groupBy("event_type").agg(
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sigma"),
    )
    z = F.round(
        (F.col("value") - F.col("mu")) / F.col("sigma") + F.lit(1e-9), 6
    )
    return (
        # bounded: |event_type| rows (small enumerated domain)
        e.join(F.broadcast(stats), "event_type")
        .withColumn("zscore", z)
        .where(F.col("zscore") > 3)
        .select("event_id", "event_type", "value", "zscore")
    )


@register(
    "events_transition_matrix",
    oracle="""
    WITH p AS (
        SELECT event_type,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events
    )
    SELECT event_type, next_type, COUNT(*) AS n,
           ROUND(COUNT(*) * 1.0
                 / SUM(COUNT(*)) OVER (PARTITION BY event_type) + 1e-9, 6)
               AS p_next
    FROM p WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
    doc="First-order Markov transition matrix over per-user event "
        "sequences (the session-flow statistic behind next-action "
        "models). One window shuffle on user_id for the LEAD, one "
        "partial-agg shuffle to the 25-cell matrix; the normalizing "
        "window then runs over 25 rows, never over data. The "
        "(ts, event_id) tiebreak keeps sequences total-ordered, so "
        "both engines see identical successor pairs.",
)
def events_transition_matrix(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select(
            "event_type",
            F.lead("event_type").over(w).alias("next_type"),
        )
        .where(F.col("next_type").isNotNull())
    )
    counts = pairs.groupBy("event_type", "next_type").agg(
        F.count("*").alias("n")
    )
    w_norm = Window.partitionBy("event_type")
    return counts.select(
        "event_type",
        "next_type",
        "n",
        F.round(
            F.col("n") / F.sum("n").over(w_norm) + F.lit(1e-9), 6
        ).alias("p_next"),
    )


# --------------------------------------------------------------------
# Data-quality: profiling and expectation validation
# --------------------------------------------------------------------

_PROFILE_COLS = ("doc_id", "text", "lang", "source", "n_chars")


@register(
    "profile_table_columns",
    oracle=" UNION ALL ".join(
        f"""
        SELECT '{c}' AS col_name,
               COUNT(*) AS n_rows,
               COUNT({c}) AS n_nonnull,
               COUNT(DISTINCT {c}) AS n_distinct,
               CAST(MIN({c}) AS VARCHAR) AS min_val,
               CAST(MAX({c}) AS VARCHAR) AS max_val
        FROM documents
        """
        for c in _PROFILE_COLS
    ),
    doc="Column-level data profiling (the ANALYZE/Deequ-style quality "
        "gate a pipeline runs on every ingest batch): per column the "
        "row/non-null/distinct counts and typed min/max, emitted in "
        "long format. ONE pass over the table — all per-column "
        "aggregates run in a single agg (Catalyst plans the "
        "multi-distinct via expand), then the wide row is unpivoted "
        "with stack(); the table is read once no matter how many "
        "columns are profiled. min/max are computed on the native "
        "type, then cast to string for the uniform report schema.",
)
def profile_table_columns(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    aggs = [F.count("*").alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs += [
            F.count(c).alias(f"nn_{c}"),
            F.countDistinct(c).alias(f"nd_{c}"),
            F.min(c).cast("string").alias(f"mn_{c}"),
            F.max(c).cast("string").alias(f"mx_{c}"),
        ]
    wide = d.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', nn_{c}, nd_{c}, mn_{c}, mx_{c}" for c in _PROFILE_COLS
    )
    return wide.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
        "(col_name, n_nonnull, n_distinct, min_val, max_val)",
        "n_rows",
    ).select(
        "col_name", "n_rows", "n_nonnull", "n_distinct", "min_val", "max_val"
    )


_EXPECTATIONS = (
    ("event_id_not_null", "event_id IS NULL"),
    ("user_id_nonnegative", "user_id < 0"),
    ("value_above_300", "value > 300"),
    ("event_type_in_enum",
     "event_type NOT IN ('click','view','purchase','signup','error')"),
    ("ts_outside_2024_2025", "ts < TIMESTAMP '2024-01-01 00:00:00' OR "
     "ts >= TIMESTAMP '2026-01-01 00:00:00'"),
)


@register(
    "validate_events_expectations",
    oracle="WITH s AS (SELECT COUNT(*) AS n, "
    + ", ".join(
        f"SUM(CASE WHEN {pred} THEN 1 ELSE 0 END) AS r{i}"
        for i, (_, pred) in enumerate(_EXPECTATIONS)
    )
    + " FROM events) "
    + " UNION ALL ".join(
        f"""
        SELECT '{name}' AS rule,
               CAST(r{i} AS BIGINT) AS n_violations,
               ROUND(r{i} * 1.0 / n + 1e-9, 6) AS violation_rate
        FROM s
        """
        for i, (name, _) in enumerate(_EXPECTATIONS)
    ),
    doc="Expectation-suite validation (Great-Expectations-style "
        "ingest gate): each rule's violation count and rate over the "
        "events table, ALL rules in one scan — conditional sums in a "
        "single agg, unpivoted to one row per rule. Zero-violation "
        "rows are part of the contract (a silent pass must still be "
        "visible), and rules that do fire (value_above_300) prove "
        "the counts flow. Map-side partial aggregation means the "
        "scan dominates at 100 TB, same cost as one COUNT(*).",
)
def validate_events_expectations(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    aggs = [F.count("*").alias("n")] + [
        F.sum(F.when(F.expr(pred), 1).otherwise(0)).alias(f"r{i}")
        for i, (_, pred) in enumerate(_EXPECTATIONS)
    ]
    wide = e.agg(*aggs)
    stack_args = ", ".join(
        f"'{name}', CAST(r{i} AS BIGINT)"
        for i, (name, _) in enumerate(_EXPECTATIONS)
    )
    return wide.selectExpr(
        f"stack({len(_EXPECTATIONS)}, {stack_args}) AS (rule, n_violations)",
        "n",
    ).select(
        "rule",
        "n_violations",
        F.round(F.col("n_violations") / F.col("n") + F.lit(1e-9), 6).alias(
            "violation_rate"
        ),
    )


@register(
    "corpus_build_e2e",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, text, n_chars, string_split(text, ' ') AS w
        FROM documents
    ),
    q AS (SELECT * FROM base WHERE n_chars >= 100 AND len(w) >= 20),
    k AS (
        SELECT * FROM q
        QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(text)
                                   ORDER BY doc_id) = 1
    ),
    g AS (
        SELECT doc_id,
               list_distinct(list_transform(range(len(w) - 2),
                   i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS grams
        FROM k
    ),
    benchg AS (
        SELECT DISTINCT unnest(list_distinct(list_transform(
                   range(len(w) - 2),
                   i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))) AS gram
        FROM base WHERE doc_id % {_DECON_MOD} = 0
          AND doc_id < {_DECON_BENCH_MAX} AND len(w) >= 3
    ),
    e AS (SELECT doc_id, unnest(grams) AS gram FROM g),
    hits AS (
        SELECT e.doc_id, COUNT(*) AS c
        FROM e JOIN benchg USING (gram) GROUP BY e.doc_id
    ),
    surv AS (
        SELECT g.doc_id
        FROM g LEFT JOIN hits ON g.doc_id = hits.doc_id
        WHERE NOT (g.doc_id % {_DECON_MOD} = 0
                   AND g.doc_id < {_DECON_BENCH_MAX})
          AND ROUND(COALESCE(c, 0) * 1.0 / len(grams) + 1e-9, 6) < 0.08
    )
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY doc_id) AS ordinal,
           CAST((ROW_NUMBER() OVER (ORDER BY doc_id) - 1) % 16 AS INT)
               AS shard
    FROM surv
    """,
    doc="The full training-corpus build as ONE composed pipeline — "
        "the user story every other hygiene operator serves: "
        "(1) quality gate (length rules, map-side), (2) exact dedup "
        "keep-first (one md5-window shuffle), (3) benchmark "
        "decontamination (broadcast gram semi-join, drop docs with "
        ">= 8% benchmark 3-gram overlap and the benchmark slice "
        "itself), (4) contiguous shard ordinals via deterministic "
        "range banding. Gram total and benchmark-hit count fold into "
        "ONE groupBy(doc_id) over the exploded gram stream (a left "
        "broadcast flag instead of a count-then-join-back), so the "
        "corpus-sized data crosses exactly two shuffles end-to-end "
        "(dup window, gram groupBy) and the surviving doc_id list — "
        "skinny — takes one more for band-local ordinal sorts; at "
        "100 TB each stage's shape is the one its standalone query "
        "already probes at 8x.",
)
def corpus_build_e2e(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", "text", "n_chars", F.split("text", " ").alias("w")
    )
    q = base.where((F.col("n_chars") >= 100) & (F.size("w") >= 20))
    w_dup = Window.partitionBy(
        F.md5(F.col("text").cast("binary"))
    ).orderBy("doc_id")
    k = (
        q.withColumn("rn", F.row_number().over(w_dup))
        .where(F.col("rn") == 1)
    )
    bench = (
        base.where(
            (F.col("doc_id") % _DECON_MOD == 0)
            & (F.col("doc_id") < _DECON_BENCH_MAX)
            & (F.size("w") >= 3)
        )
        .select(F.explode(ngram_shingles(F.col("w"), _DECON_N)).alias("gram"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    e = k.select(
        "doc_id",
        F.explode(ngram_shingles(F.col("w"), _DECON_N)).alias("gram"),
    )
    per_doc = (
        # bounded: benchmark gram set capped by _DECON_BENCH_MAX docs
        e.join(F.broadcast(bench), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("c"),
        )
    )
    ratio = F.round(F.col("c") / F.col("n_grams") + F.lit(1e-9), 6)
    surv = (
        per_doc.where(
            ~((F.col("doc_id") % _DECON_MOD == 0)
              & (F.col("doc_id") < _DECON_BENCH_MAX))
            & (ratio < 0.08)
        )
        .select("doc_id")
        .transform(persist_once)
    )
    # 32 bands: the band count only bounds the per-band sort's
    # parallelism (results are band-count-invariant); see
    # global_ordinal_ids.
    n_bands = 32
    stats = surv.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    )
    # bounded: 1-row min/max scalar
    p = surv.crossJoin(F.broadcast(stats)).withColumn(
        "pid",
        F.expr(
            f"CAST(((doc_id - lo) * {n_bands}) DIV (hi - lo + 1) AS INT)"
        ),
    )
    counts = p.groupBy("pid").agg(F.count("*").alias("cnt"))
    w_off = global_window("pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = counts.select(
        "pid", F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias("off")
    )
    w_local = Window.partitionBy("pid").orderBy("doc_id")
    ordinal = (F.col("off") + F.row_number().over(w_local)).cast("bigint")
    return (
        p.drop("lo", "hi")
        # bounded: n_bands=32 offset rows
        .join(F.broadcast(offs), "pid")
        .select(
            "doc_id",
            ordinal.alias("ordinal"),
            ((ordinal - 1) % 16).cast("int").alias("shard"),
        )
    )


@register(
    "events_winsorize",
    oracle="""
    WITH b AS (
        SELECT event_type,
               quantile_cont(value, 0.01) AS p_lo,
               quantile_cont(value, 0.99) AS p_hi
        FROM events GROUP BY event_type
    )
    SELECT event_id, e.event_type, value,
           ROUND(LEAST(GREATEST(value, p_lo), p_hi) + 1e-9, 6)
               AS value_winsorized
    FROM events e JOIN b USING (event_type)
    """,
    doc="Percentile winsorization (clip to per-class [p01, p99]) — "
        "the outlier-taming transform applied to numeric features "
        "before training. The exact-percentile bound table is 5 rows, "
        "broadcast back over the facts for a map-side clip: one "
        "percentile shuffle, zero fact shuffles. At 100 TB swap the "
        "exact percentile for percentile_approx (same plan shape, "
        "sketch-mergeable) — the clip side is unchanged.",
)
def events_winsorize(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    b = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.01)").alias("p_lo"),
        F.expr("percentile(value, 0.99)").alias("p_hi"),
    )
    # bounded: |event_type| percentile rows (small enumerated domain)
    return e.join(F.broadcast(b), "event_type").select(
        "event_id",
        "event_type",
        "value",
        F.round(
            F.least(F.greatest(F.col("value"), F.col("p_lo")), F.col("p_hi"))
            + F.lit(1e-9),
            6,
        ).alias("value_winsorized"),
    )


@register(
    "events_time_weighted_avg",
    oracle="""
    WITH d AS (
        SELECT user_id, value,
               epoch_us(LEAD(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id))
                   - epoch_us(ts) AS dt_us
        FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           ROUND(SUM(value * dt_us) / SUM(dt_us) + 1e-9, 6) AS twap
    FROM d WHERE dt_us IS NOT NULL
    GROUP BY user_id
    """,
    doc="Time-weighted average per user over an IRREGULAR event "
        "series (each observation weighted by how long it was the "
        "latest one — the TWAP/telemetry-gauge aggregation a plain "
        "AVG gets wrong on bursty streams). One window shuffle on "
        "user_id for the LEAD interval, one partial-agg shuffle for "
        "the weighted sums. Interval weights are integer "
        "microseconds, so both engines weight identically; the final "
        "ratio is the only float.",
)
def events_time_weighted_avg(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = e.select(
        "user_id",
        "value",
        (
            F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))
        ).alias("dt_us"),
    ).where(F.col("dt_us").isNotNull())
    return d.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_intervals"),
        F.round(
            F.sum(F.col("value") * F.col("dt_us")) / F.sum("dt_us")
            + F.lit(1e-9),
            6,
        ).alias("twap"),
    )


@register(
    "eval_minhash_vs_exact",
    oracle=f"""
    WITH {GRAM_INTER_SQL},
    exact AS (
        SELECT doc_id_a, doc_id_b
        FROM inter
        JOIN sizes sa ON inter.doc_id_a = sa.doc_id
        JOIN sizes sb ON inter.doc_id_b = sb.doc_id
        WHERE c * 1.0 / (sa.n + sb.n - c) >= {_JACCARD_T}
    ),
    {BAND_CTES_SQL},
    approx AS (
        SELECT DISTINCT x.doc_id AS doc_id_a, y.doc_id AS doc_id_b
        FROM bands x
        JOIN bands y ON x.band_id = y.band_id AND x.band_key = y.band_key
                    AND x.doc_id < y.doc_id
    ),
    m AS (
        SELECT e.doc_id_a IS NOT NULL AS in_exact,
               a.doc_id_a IS NOT NULL AS in_approx
        FROM exact e FULL OUTER JOIN approx a
          ON e.doc_id_a = a.doc_id_a AND e.doc_id_b = a.doc_id_b
    )
    SELECT
        CAST(SUM(CASE WHEN in_exact AND in_approx THEN 1 ELSE 0 END)
             AS BIGINT) AS tp,
        CAST(SUM(CASE WHEN in_approx AND NOT in_exact THEN 1 ELSE 0 END)
             AS BIGINT) AS fp,
        CAST(SUM(CASE WHEN in_exact AND NOT in_approx THEN 1 ELSE 0 END)
             AS BIGINT) AS fn,
        ROUND(SUM(CASE WHEN in_exact AND in_approx THEN 1 ELSE 0 END) * 1.0
              / NULLIF(SUM(CASE WHEN in_approx THEN 1 ELSE 0 END), 0)
              + 1e-9, 6) AS precision_,
        ROUND(SUM(CASE WHEN in_exact AND in_approx THEN 1 ELSE 0 END) * 1.0
              / NULLIF(SUM(CASE WHEN in_exact THEN 1 ELSE 0 END), 0)
              + 1e-9, 6) AS recall_
    FROM m
    """,
    doc="Operator-quality evaluation: the minhash-LSH candidate set "
        "measured against exact n-gram Jaccard ground truth — TP/FP/"
        "FN, precision, recall in one row. This is the harness a "
        "pipeline runs on a SAMPLE to tune LSH geometry before "
        "committing the 100 TB pass (the exact side is quadratic-ish "
        "and only affordable on the sample; the approx side is the "
        "production plan). Composes the two existing operators "
        "unchanged and full-outer-joins their pair sets; both reuse "
        "the same gram table. Column names precision_/recall_ avoid "
        "reserved-word friction in both engines.",
)
def eval_minhash_vs_exact(spark, sf_dir):
    exact = ngram_jaccard_pairs(spark, sf_dir).select(
        "doc_id_a", "doc_id_b", F.lit(1).alias("e")
    )
    approx = dedup_minhash_lsh(spark, sf_dir).select(
        "doc_id_a", "doc_id_b", F.lit(1).alias("a")
    )
    m = exact.join(approx, ["doc_id_a", "doc_id_b"], "full_outer")
    in_e = F.col("e").isNotNull()
    in_a = F.col("a").isNotNull()
    tp = F.sum(F.when(in_e & in_a, 1).otherwise(0))
    n_a = F.sum(F.when(in_a, 1).otherwise(0))
    n_e = F.sum(F.when(in_e, 1).otherwise(0))
    return m.agg(
        tp.cast("bigint").alias("tp"),
        F.sum(F.when(in_a & ~in_e, 1).otherwise(0)).cast("bigint").alias("fp"),
        F.sum(F.when(in_e & ~in_a, 1).otherwise(0)).cast("bigint").alias("fn"),
        F.round(tp / F.nullif(n_a, F.lit(0)) + F.lit(1e-9), 6).alias(
            "precision_"
        ),
        F.round(tp / F.nullif(n_e, F.lit(0)) + F.lit(1e-9), 6).alias(
            "recall_"
        ),
    )


@register(
    "text_token_pmi",
    oracle="""
    WITH td AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM td),
    df AS (SELECT tok, COUNT(*) AS df FROM td GROUP BY tok),
    pairs AS (
        SELECT a.tok AS tok_a, b.tok AS tok_b, COUNT(*) AS n_ab
        FROM td a JOIN td b ON a.doc_id = b.doc_id AND a.tok < b.tok
        GROUP BY a.tok, b.tok
    )
    SELECT tok_a, tok_b, n_ab,
           ROUND(LN(n_ab * 1.0 * n_docs / (da.df * db.df)) + 1e-9, 6)
               AS pmi
    FROM pairs
    JOIN df da ON pairs.tok_a = da.tok
    JOIN df db ON pairs.tok_b = db.tok
    CROSS JOIN n
    WHERE n_ab >= 20
    """,
    doc="Pointwise mutual information over document-level token "
        "co-occurrence — the corpus statistic behind tokenizer "
        "merges, embedding evaluation, and collocation mining. "
        "Document-presence sets (DISTINCT doc-token) bound the "
        "self-join at tokens-per-doc, not token count; the pair "
        "aggregate is vocab^2-bounded, tiny next to the corpus, and "
        "the df table broadcasts back onto it. Corpus-sized data "
        "crosses two shuffles (doc_id pair join, pair groupBy). The "
        "n_ab floor keeps the report to statistically meaningful "
        "pairs (and the output deterministic under resampling).",
)
def text_token_pmi(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    td = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .distinct()
    ).transform(persist_once)
    n_docs_df = td.agg(F.countDistinct("doc_id").alias("n_docs"))
    dfreq = td.groupBy("tok").agg(F.count("*").alias("df"))
    a = td.select("doc_id", F.col("tok").alias("tok_a"))
    b = td.select("doc_id", F.col("tok").alias("tok_b"))
    pairs = (
        a.join(b, "doc_id")
        .where(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count("*").alias("n_ab"))
        .where(F.col("n_ab") >= 20)
    )
    da = dfreq.select(
        F.col("tok").alias("tok_a"), F.col("df").alias("df_a")
    )
    db = dfreq.select(
        F.col("tok").alias("tok_b"), F.col("df").alias("df_b")
    )
    # df tables are vocabulary-sized (corpus-growing, not constant-
    # bounded) — broadcast is AQE's runtime decision, not a forced hint.
    return (
        pairs.join(da, "tok_a")
        .join(db, "tok_b")
        # bounded: 1-row corpus count
        .crossJoin(F.broadcast(n_docs_df))
        .select(
            "tok_a",
            "tok_b",
            "n_ab",
            F.round(
                F.log(
                    F.col("n_ab")
                    * F.col("n_docs")
                    / (F.col("df_a") * F.col("df_b"))
                )
                + F.lit(1e-9),
                6,
            ).alias("pmi"),
        )
    )


@register(
    "basket_brand_lift",
    oracle="""
    WITH ob AS (
        SELECT DISTINCT l_orderkey, p_brand
        FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM ob),
    bf AS (SELECT p_brand, COUNT(*) AS df FROM ob GROUP BY p_brand),
    pairs AS (
        SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
               COUNT(*) AS n_ab
        FROM ob a JOIN ob b ON a.l_orderkey = b.l_orderkey
                           AND a.p_brand < b.p_brand
        GROUP BY a.p_brand, b.p_brand
    )
    SELECT brand_a, brand_b, n_ab,
           ROUND(n_ab * 1.0 * n_orders / (fa.df * fb.df) + 1e-9, 6)
               AS lift
    FROM pairs
    JOIN bf fa ON pairs.brand_a = fa.p_brand
    JOIN bf fb ON pairs.brand_b = fb.p_brand
    CROSS JOIN n
    """,
    doc="Market-basket association mining: brand-pair co-purchase "
        "counts and lift (observed co-occurrence over the "
        "independence expectation). Same presence-set shape as "
        "text_token_pmi but over baskets: the part dim broadcasts "
        "onto lineitem, the distinct (order, brand) set bounds the "
        "self-join at brands-per-order (<= 25), and the pair "
        "aggregate is brand^2-sized — tiny. Corpus-sized data "
        "crosses two shuffles (presence distinct, pair groupBy).",
)
def basket_brand_lift(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        # corpus-derived: part is a SCALING dim (SF x 200k rows — tens
        # of billions at 100 TB), not a constant-bounded one; gate the
        # hint so an oversized deployment degrades to a shuffle join
        # via spark.graft.vocab.broadcast=false instead of hard-failing
        # at the 8 GB broadcast ceiling.
        li.join(vocab_broadcast(pt), li.l_partkey == pt.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    ).transform(persist_once)
    n_df = ob.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    bf = ob.groupBy("p_brand").agg(F.count("*").alias("df"))
    a = ob.select("l_orderkey", F.col("p_brand").alias("brand_a"))
    b = ob.select("l_orderkey", F.col("p_brand").alias("brand_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .where(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count("*").alias("n_ab"))
    )
    fa = bf.select(F.col("p_brand").alias("brand_a"), F.col("df").alias("df_a"))
    fb = bf.select(F.col("p_brand").alias("brand_b"), F.col("df").alias("df_b"))
    return (
        # bounded: 25-brand domain (fa/fb) + 1-row order count (n_df)
        pairs.join(F.broadcast(fa), "brand_a")
        .join(F.broadcast(fb), "brand_b")
        .crossJoin(F.broadcast(n_df))
        .select(
            "brand_a",
            "brand_b",
            "n_ab",
            F.round(
                F.col("n_ab")
                * F.col("n_orders")
                / (F.col("df_a") * F.col("df_b"))
                + F.lit(1e-9),
                6,
            ).alias("lift"),
        )
    )


@register(
    "embedding_quantize_error",
    oracle="""
    WITH q AS (
        SELECT label, embedding,
               list_max(list_transform(embedding, x -> abs(x))) / 127.0
                   AS s
        FROM embeddings
    ),
    e AS (
        SELECT label,
               list_transform(embedding,
                   x -> x - floor(x / s + 0.5) * s) AS errs,
               len(embedding) AS d
        FROM q
    ),
    m AS (
        SELECT label,
               list_aggregate(list_transform(errs, v -> v * v), 'sum') / d
                   AS mse
        FROM e
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(AVG(mse) * 1000000 + 1e-9, 4) AS mse_ppm
    FROM m GROUP BY label
    """,
    doc="Symmetric int8 quantization error per embedding (the "
        "vector-compression QA check before shipping an ANN index at "
        "1/4 the memory): per-vector scale max|x|/127, quantize via "
        "floor(x/s + 0.5) — spelled out instead of round() because "
        "the quantized integer is a hard decision and the engines' "
        "round() tie rules differ — dequantize, and report mean "
        "squared error per label in ppm. Fully map-side until the "
        "5-row label aggregate: zero shuffles of the vectors. All "
        "arithmetic promotes the same float32 bits to double on both "
        "engines, so the bridge is bit-exact; the error array is "
        "materialized behind a projection boundary so the squaring "
        "pass doesn't re-run the quantizer (interpreted-HOF CSE "
        "rule).",
)
def embedding_quantize_error(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    s = (
        F.array_max(
            F.transform("embedding", lambda x: F.abs(x.cast("double")))
        )
        / 127.0
    )
    q = emb.select("label", "embedding", s.alias("s"))
    errs = F.transform(
        "embedding",
        lambda x: x.cast("double")
        - F.floor(x.cast("double") / F.col("s") + F.lit(0.5)) * F.col("s"),
    )
    e = q.select(
        "label", errs.alias("errs"), F.size("embedding").alias("d")
    )
    mse = F.aggregate(
        F.transform("errs", lambda v: v * v),
        F.lit(0.0),
        lambda acc, v: acc + v,
    ) / F.col("d")
    m = e.select("label", mse.alias("mse"))
    return m.groupBy("label").agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.round(F.avg("mse") * 1000000 + F.lit(1e-9), 4).alias("mse_ppm"),
    )


_CHUNK_LEN = 50
_CHUNK_STRIDE = 40


@register(
    "text_chunk_overlap",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    s AS (
        SELECT doc_id, w,
               unnest(range(0, len(w), {_CHUNK_STRIDE})) AS start
        FROM t WHERE len(w) >= 1
    )
    SELECT doc_id,
           CAST(start // {_CHUNK_STRIDE} AS INT) AS chunk_idx,
           CAST(len(w[start+1 : start+{_CHUNK_LEN}]) AS INT) AS n_tokens,
           array_to_string(w[start+1 : start+{_CHUNK_LEN}], ' ')
               AS chunk_text
    FROM s
    """,
    doc="Sliding-window document chunking (50-token chunks, stride "
        "40 — 10-token overlap): the context-window preparation step "
        "between cleaning and packing in an LLM data pipeline. Pure "
        "map-side: sequence + posexplode + slice per document, no "
        "shuffle at all — chunking streams at scan bandwidth over "
        "100 TB and the downstream packer (pack_concat_chunks) "
        "handles batching. Chunk boundaries are token-index "
        "arithmetic, so both engines emit byte-identical chunks; "
        "the final ragged chunk is kept (slice clamps at the "
        "document end).",
)
def text_chunk_overlap(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.split("text", " ").alias("w")).where(
        F.size("w") >= 1
    )
    s = t.select(
        "doc_id",
        "w",
        F.explode(
            F.sequence(
                F.lit(0), F.size("w") - 1, F.lit(_CHUNK_STRIDE)
            )
        ).alias("start"),
    )
    chunk = F.slice(F.col("w"), F.col("start") + 1, _CHUNK_LEN)
    return s.select(
        "doc_id",
        (F.col("start") / _CHUNK_STRIDE).cast("int").alias("chunk_idx"),
        F.size(chunk).cast("int").alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


@register(
    "text_unigram_logprob",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    tok AS (SELECT doc_id, unnest(w) AS tok FROM t),
    vocab AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
    tot AS (SELECT sum(c) AS n FROM vocab),
    scored AS (
        SELECT tok.doc_id, ln(vocab.c / tot.n) AS lp
        FROM tok JOIN vocab USING (tok), tot
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(AVG(lp) + 1e-9, 6) AS avg_logprob
    FROM scored GROUP BY doc_id
    """,
    doc="Unigram language-model scoring — the perplexity-style quality "
        "filter every pretraining pipeline runs (docs whose mean token "
        "log-probability under the corpus unigram model is too low are "
        "gibberish/boilerplate candidates). Round-11 fix for the "
        "62.5x shuffle-byte blowup the 8x probe caught (an AQE "
        "broadcast fallback shuffled every token occurrence): the "
        "Heaps-bounded vocab (types grow ~sqrt of corpus) is "
        "force-broadcast, so the occurrence stream never shuffles — "
        "the only exchanges are the vocab count and ~1 per-doc "
        "partial row per partition (probe: 8.0x bytes, exactly "
        "linear). A deployment whose type count outgrows driver "
        "memory sets spark.graft.vocab.broadcast=false "
        "(functions/hints.py) to degrade to a shuffle join without a "
        "code edit; for best fallback cost also pre-aggregate the "
        "stream to (doc_id, tok, cnt) so it shuffles distinct pairs, "
        "never raw occurrences.",
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    # Vocabulary counts: the ONLY vocabulary-keyed exchange in the
    # plan (map-side combined to distinct tokens per partition).
    vocab = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    tot = vocab.agg(F.sum("c").alias("n"))
    # With the vocab broadcast, the occurrence stream itself NEVER
    # shuffles: the join is map-side and the per-doc aggregate's
    # partial combine ships ~1 row per doc per partition. (If the
    # hint is ever dropped for a vocabulary too large to broadcast,
    # pre-aggregate the stream to (doc_id, tok, cnt) first so the
    # fallback join shuffles distinct pairs, not occurrences — the
    # round-10 probe measured the raw-stream fallback at 62.5x.)
    # The global total also stays OUT of the per-token path:
    # avg(ln(c/n)) = avg(ln c) - ln(n), so the scalar joins the
    # per-doc aggregate, not the token stream.
    per_doc = (
        tok.join(vocab_broadcast(vocab), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.avg(F.log("c")).alias("avg_ln_c"),
        )
    )
    # bounded: 1-row total scalar
    return per_doc.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "n_tokens",
        F.round(
            F.col("avg_ln_c") - F.log("n") + F.lit(1e-9), 6
        ).alias("avg_logprob"),
    )


@register(
    "bpe_pair_merges",
    oracle="""
    WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
    pairs AS (
        SELECT unnest(list_transform(list_zip(w[:-2], w[2:]),
                                     p -> p[1] || ' ' || p[2])) AS pair
        FROM t
    )
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT 20
    """,
    doc="BPE merge-candidate counting — the first iteration of "
        "byte-pair-encoding tokenizer training: count adjacent token "
        "pairs corpus-wide, take the top merges (deterministic "
        "count-desc, pair-asc tiebreak). The pair stream is a map-only "
        "zip of two shifted slices (no self-join); one count shuffle "
        "plus a global top-k TakeOrdered.",
)
def bpe_pair_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.select(
        F.explode(
            F.expr(
                "zip_with(slice(split(text, ' '), 1, "
                "size(split(text, ' ')) - 1), "
                "slice(split(text, ' '), 2, "
                "size(split(text, ' ')) - 1), "
                "(a, b) -> concat(a, ' ', b))"
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(20)
    )


@register(
    "kmeans_one_iter",
    oracle=f"""
    WITH {SEED_ASSIGN_SQL},
    j AS (SELECT cid, e FROM asgn)
    SELECT cid AS cluster_id, r.i AS dim,
           ROUND(AVG(e[r.i]) + 1e-9, 6) AS centroid_val,
           CAST(COUNT(*) AS BIGINT) AS n_members
    FROM j, (SELECT unnest(range(1, 65)) AS i) r
    GROUP BY cid, r.i
    """,
    doc="One k-means iteration over the embedding corpus (assign to "
        "nearest of 8 seed centroids, recompute centroids) — the "
        "building block of embedding-space clustering and IVF index "
        "training. The 8x64 seed table is collected (bounded by the "
        "constant k) and folded into the map stage as a "
        "least(struct(dist, cid)) expression — the MLlib Lloyd shape: "
        "assignment costs NO shuffle and the corpus never crosses the "
        "network; only the 64 partial means per cluster do. Distances "
        "fold element-by-element in a fixed order and round at 1e-6, "
        "so both engines agree on every assignment (float-sign "
        "portability rule). Centroids emit as (cluster, dim, value) "
        "scalars — 512 rows, no array columns on the bridge.",
)
def kmeans_one_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from change_data_capture_poc_spark.functions.vectors import (
        centroid_argmin_expr,
        collect_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    ed = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("e"),
    )
    seeds = collect_centroids(ed, 8)
    j = ed.select(
        centroid_argmin_expr(seeds).getField("cid").alias("cid"), "e"
    )
    dims = spark.range(1, 65).select(F.col("id").cast("int").alias("dim"))
    return (
        # bounded: 64-row literal dim range
        j.crossJoin(F.broadcast(dims))
        .select(
            F.col("cid").alias("cluster_id"),
            "dim",
            F.element_at("e", F.col("dim")).alias("val"),
        )
        .groupBy("cluster_id", "dim")
        .agg(
            F.round(F.avg("val") + F.lit(1e-9), 6).alias("centroid_val"),
            F.count(F.lit(1)).alias("n_members"),
        )
    )


@register(
    "dedup_survivors",
    oracle=f"""
    WITH RECURSIVE
    {MINHASH_PAIRS_SQL},
    {DUP_REACH_SQL},
    comps AS (
        SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
        FROM reach GROUP BY a
    )
    SELECT d.doc_id, d.source,
           EXISTS (SELECT 1 FROM comps c
                   WHERE c.doc_id = d.doc_id) AS is_cluster_rep
    FROM documents d
    WHERE NOT EXISTS (SELECT 1 FROM comps c
                      WHERE c.doc_id = d.doc_id
                        AND c.cluster_id <> c.doc_id)
    """,
    doc="The dedup pipeline's END DELIVERABLE: the surviving corpus "
        "after near-dup removal — minhash-LSH candidate pairs -> "
        "connected components -> keep exactly one representative per "
        "cluster (the min doc_id, i.e. the doc whose component label "
        "is itself) plus every unclustered doc. One anti-join of the "
        "corpus against the non-canonical member list on top of the "
        "banded-LSH + label-propagation plan; the drop list is the "
        "duplicate mass only, never the corpus.",
)
def dedup_survivors(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    comps = dedup_cluster_label_propagation(spark, sf_dir)
    drops = comps.where(F.col("doc_id") != F.col("cluster_id")).select(
        "doc_id"
    )
    reps = comps.where(F.col("doc_id") == F.col("cluster_id")).select(
        "doc_id", F.lit(True).alias("is_cluster_rep")
    )
    return (
        docs.join(drops, "doc_id", "left_anti")
        .join(reps, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce("is_cluster_rep", F.lit(False)).alias(
                "is_cluster_rep"
            ),
        )
    )


@register(
    "dedup_impact_by_source",
    oracle=f"""
    WITH RECURSIVE
    {MINHASH_PAIRS_SQL},
    {DUP_REACH_SQL},
    comps AS (
        SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
        FROM reach GROUP BY a
    ),
    drops AS (SELECT doc_id FROM comps WHERE cluster_id <> doc_id),
    tc AS (SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok
           FROM documents),
    b AS (SELECT source, COUNT(*) AS nb, SUM(n_tok) AS tb
          FROM tc GROUP BY source),
    a AS (SELECT source, COUNT(*) AS na, SUM(n_tok) AS ta
          FROM tc WHERE doc_id NOT IN (SELECT doc_id FROM drops)
          GROUP BY source)
    SELECT b.source,
           CAST(nb AS BIGINT) AS docs_before,
           CAST(tb AS BIGINT) AS tokens_before,
           CAST(COALESCE(na, 0) AS BIGINT) AS docs_after,
           CAST(COALESCE(ta, 0) AS BIGINT) AS tokens_after,
           ROUND(COALESCE(ta, 0) * 1.0 / tb + 1e-9, 6) AS token_retention
    FROM b LEFT JOIN a USING (source)
    """,
    doc="Dedup impact report: per-source docs/tokens before vs after "
        "near-dup removal (non-representative cluster members "
        "dropped) — the accountability readout shipped WITH a "
        "deduplicated corpus: a source whose retention collapses is "
        "either a mirror of another crawl or a template farm, and "
        "the mix-rebalancing step needs the AFTER numbers, not the "
        "raw ones. Reuses the LSH connected-components plan; the "
        "report itself adds one anti-join and two per-source "
        "dashboard aggregates.",
)
def dedup_impact_by_source(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    tc = docs.select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tok")
    )
    comps = dedup_cluster_label_propagation(spark, sf_dir)
    drops = comps.where(F.col("doc_id") != F.col("cluster_id")).select(
        "doc_id"
    )
    before = tc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("docs_before"),
        F.sum("n_tok").cast("long").alias("tokens_before"),
    )
    after = (
        tc.join(drops, "doc_id", "left_anti")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("docs_after"),
            F.sum("n_tok").cast("long").alias("tokens_after"),
        )
    )
    # bounded: |sources| rows (small enumerated domain)
    return before.join(F.broadcast(after), "source", "left").select(
        "source",
        "docs_before",
        "tokens_before",
        F.coalesce("docs_after", F.lit(0)).cast("long").alias("docs_after"),
        F.coalesce("tokens_after", F.lit(0)).cast("long")
        .alias("tokens_after"),
        F.round(
            F.coalesce("tokens_after", F.lit(0)) * 1.0
            / F.col("tokens_before")
            + F.lit(1e-9),
            6,
        ).alias("token_retention"),
    )


@register(
    "text_bm25_retrieval",
    oracle=f"""
    WITH {BM25_SCORED_SQL}
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
           ROUND(SUM(s) + 1e-9, 6) AS bm25
    FROM scored GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id
    LIMIT 20
    """,
    doc="BM25 retrieval scoring (k1=1.2, b=0.75) for a fixed query "
        "term set — the lexical-retrieval sibling of "
        "text_tfidf_top_terms and the standard first-stage ranker for "
        "RAG corpus search. The query-term filter happens INSIDE the "
        "token explode (map-side), so the tf aggregation shuffles "
        "only matching tokens; document length rides along in the "
        "same aggregation (no corpus-sized length join); df/N/avgdl "
        "are broadcast scalars. Deterministic top-20 on the rounded "
        "score with doc_id tiebreak.",
)
def text_bm25_retrieval(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("dl"),
        F.split("text", " ").alias("w"),
    )
    tok = base.select("doc_id", "dl", F.explode("w").alias("tok"))
    tf = (
        tok.where(F.col("tok").isin(*BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.max("dl").alias("dl"), F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    # one corpus pass for BOTH scalars (doc count + avg doclen) — the
    # old separate n/ad branches each re-scanned documents
    stats = base.agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    )
    scored = (
        # bounded: dfreq capped at |BM25_TERMS| rows; stats is 1-row
        tf.join(F.broadcast(dfreq), "tok")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                F.log(
                    (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                    + 1.0
                )
                * (F.col("tf") * 2.2)
                / (
                    F.col("tf")
                    + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))
                )
            ).alias("s"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms_matched"),
            F.round(F.sum("s") + F.lit(1e-9), 6).alias("bm25"),
        )
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )


def _jl_oracle() -> str:
    comps = ",\n".join(
        "ROUND(list_reduce(list_transform(list_zip(e, "
        f"[{', '.join(str(c) for c in row)}]), "
        "p -> p[1] * p[2]), (a, b) -> a + b) "
        f"* {JL_SCALE} + 1e-9, 6) AS proj_{j}"
        for j, row in enumerate(JL)
    )
    return f"""
    WITH ed AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    )
    SELECT vec_id, label, {comps} FROM ed
    """


@register(
    "embedding_random_projection",
    oracle=_jl_oracle(),
    doc="Johnson-Lindenstrauss random projection 64 -> 8 dims with a "
        "+-1 sign matrix — the cheap dimensionality reduction used to "
        "shrink embeddings before LSH/clustering at corpus scale. "
        "Map-only (zero shuffles): each component is one fixed-order "
        "fold against an inlined literal sign row, identical "
        "arithmetic in both engines; output is 8 scalar columns, no "
        "arrays on the bridge. At 100 TB this runs at scan bandwidth "
        "and cuts downstream LSH/ANN cost 8x.",
)
def embedding_random_projection(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    ed = emb.select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("e"),
    )
    comps = [
        F.round(
            F.expr(
                "aggregate(zip_with(e, array({lits}), (x, c) -> x * c), "
                "0D, (a, b) -> a + b) * {scale}".format(
                    lits=", ".join(f"{c}D" for c in row),
                    scale=JL_SCALE,
                )
            )
            + F.lit(1e-9),
            6,
        ).alias(f"proj_{j}")
        for j, row in enumerate(JL)
    ]
    return ed.select("vec_id", "label", *comps)


@register(
    "dedup_exact_normalized",
    oracle="""
    WITH pert AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id,
               upper(text) || '!!  ' AS text
        FROM documents WHERE doc_id % 7 = 0
    ),
    norm AS (
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(lower(text),
                    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS ntext,
               text
        FROM pert
    )
    SELECT md5(ntext) AS fingerprint,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(doc_id) AS keeper_doc_id,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_raw_variants
    FROM norm
    GROUP BY md5(ntext)
    HAVING COUNT(*) > 1
    ORDER BY fingerprint
    """,
    doc="Exact dedup AFTER text normalization (casefold, strip "
        "punctuation, collapse whitespace) — catches the "
        "trivially-reformatted duplicates raw byte-exact dedup "
        "misses, the standard first pass before the fuzzy families "
        "(ngram/minhash/simhash/embedding, all implemented). The "
        "corpus is unioned with a deterministically reformatted twin "
        "of every 7th doc (uppercased, punctuated, padded), and "
        "n_raw_variants > 1 in every emitted group PROVES raw "
        "fingerprinting would have missed them. Normalization is "
        "map-only JVM regex at scan bandwidth; one fingerprint "
        "shuffle. Spark regexp_replace is global by default; the "
        "oracle passes the \'g\' flag for identical semantics.",
)
def dedup_exact_normalized(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    pert = d.select("doc_id", "text").unionAll(
        d.where(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(F.upper("text"), F.lit("!!  ")).alias("text"),
        )
    )
    norm = pert.select(
        "doc_id",
        "text",
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
                " +",
                " ",
            )
        ).alias("ntext"),
    )
    return (
        norm.select(
            F.md5(F.col("ntext").cast("binary")).alias("fingerprint"),
            F.md5(F.col("text").cast("binary")).alias("raw_fp"),
            "doc_id",
        )
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keeper_doc_id"),
            F.countDistinct("raw_fp").alias("n_raw_variants"),
        )
        .where(F.col("n_docs") > 1)
        .orderBy("fingerprint")
    )


@register(
    "dedup_semantic_semdedup",
    oracle=f"""
    WITH {SEED_ASSIGN_SQL},
    norm AS (
        -- normalize-then-dot, the same float path the Spark matmul uses
        SELECT vec_id, cid,
               list_transform(e, x -> x /
                   CASE WHEN sqrt(list_dot_product(e, e)) = 0
                        THEN 1 ELSE sqrt(list_dot_product(e, e)) END) AS u
        FROM asgn
    ),
    pairs AS (
        SELECT x.cid, x.vec_id AS vec_a, y.vec_id AS vec_b
        FROM norm x JOIN norm y ON x.cid = y.cid AND x.vec_id < y.vec_id
        WHERE ROUND(list_dot_product(x.u, y.u), 6) >= 0.30
    ),
    m AS (SELECT cid, COUNT(*) AS n_members FROM asgn GROUP BY cid),
    pp AS (SELECT cid, COUNT(*) AS n_dup_pairs FROM pairs GROUP BY cid),
    dd AS (SELECT cid, COUNT(DISTINCT vec_b) AS n_dropped
           FROM pairs GROUP BY cid)
    SELECT m.cid AS cluster_id,
           CAST(m.n_members AS BIGINT) AS n_members,
           CAST(COALESCE(pp.n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs,
           CAST(COALESCE(dd.n_dropped, 0) AS BIGINT) AS n_dropped,
           CAST(m.n_members - COALESCE(dd.n_dropped, 0) AS BIGINT)
               AS n_kept
    FROM m LEFT JOIN pp USING (cid) LEFT JOIN dd USING (cid)
    """,
    doc="SemDeDup (Abbas et al. 2023): semantic dedup that bounds the "
        "quadratic pairwise cosine by FIRST clustering the embedding "
        "space, THEN comparing only within clusters. Assignment reuses "
        "the kmeans_one_iter shape — 8 deterministic seed centroids "
        "(vec_id < 8) folded into a least(struct(dist, cid)) map-side "
        "argmin, zero shuffle, 1e-6-rounded distance with cid "
        "tiebreak. Within-cluster pairs come from the "
        "label_blocked_cosine_pairs BLAS matmul (one applyInPandas "
        "block per cluster, pairs never leave their block); a member "
        "is dropped when a LOWER-id member of the same cluster sits "
        "above the cosine threshold (keep-lowest, same rule as "
        "dedup_exact_keep_first). Output is the per-cluster readout "
        "(members / dup pairs / dropped / kept) a curation run logs. "
        "At 100 TB the cluster count scales with the corpus (k ~ "
        "sqrt(N)), holding block sizes bounded — that bounding is the "
        "published method's point; this query pins the k=8 toy "
        "instance against the oracle. Reference keeps payloads "
        "engine-side (transform_scd2.py); dedup itself has no "
        "reference twin — LLM-pipeline extension.",
)
def dedup_semantic_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from change_data_capture_poc_spark.functions.vectors import (
        centroid_argmin_expr,
        collect_centroids,
    )
    from change_data_capture_poc_spark.functions.vectors_pandas import (
        label_blocked_semdedup_stats,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    ed = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("e"),
    )
    seeds = collect_centroids(ed, 8)
    asgn = ed.select(
        "vec_id",
        centroid_argmin_expr(seeds).getField("cid").alias("cid"),
        "e",
    )
    # The whole per-cluster readout comes out of the SAME
    # one-matmul-per-block pass that produced the pairs: every cluster
    # emits its (members, dup pairs, dropped) row directly, so the old
    # shape's pair re-label join (a replay of the corpus argmin), the
    # member-count replay, the pair-list double consumption and two
    # left joins all disappear (r13: 6 Exchange / 2 SortMergeJoin ->
    # the one block shuffle; no cluster lacks a row, so the old
    # COALESCE(_, 0) never fired differently).
    stats = label_blocked_semdedup_stats(
        asgn.select(
            "vec_id", F.col("cid").alias("label"), F.col("e").alias("v")
        ),
        threshold=0.30,
    )
    return stats.select(
        F.col("label").alias("cluster_id"),
        "n_members",
        "n_dup_pairs",
        "n_dropped",
        (F.col("n_members") - F.col("n_dropped")).alias("n_kept"),
    )


@register(
    "eval_quality_score_calibration",
    oracle=f"""
    WITH {QCLS_SCORE_SQL},
    {QF_RULE_SQL},
    binned AS (
        SELECT LEAST(CAST(FLOOR(qscore.score * 10) AS INT), 9) AS bin,
               qscore.score,
               CASE WHEN qrule.drop_reason IS NULL THEN 1.0
                    ELSE 0.0 END AS y
        FROM qscore JOIN qrule USING (doc_id)
    ),
    agg AS (
        SELECT bin,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               ROUND(AVG(score) + 1e-9, 6) AS mean_score,
               ROUND(AVG(y) + 1e-9, 6) AS rule_pass_rate
        FROM binned GROUP BY bin
    )
    SELECT bin, n_docs, mean_score, rule_pass_rate,
           ROUND(ABS(mean_score - rule_pass_rate) + 1e-9, 6) AS gap
    FROM agg
    """,
    doc="Calibration readout of the learned quality classifier "
        "(text_quality_classifier_score) against the Gopher-style "
        "rule filter (text_quality_filter): docs bucketed into ten "
        "score deciles, each bin reporting mean predicted score vs "
        "the rule-filter pass rate and the |gap| (the reliability-"
        "diagram rows an ECE sums) — the pre-flight check before a "
        "corpus swaps rule-filtering for model-filtering, catching a "
        "classifier that is discriminative but mis-calibrated. "
        "Composes the two existing map+agg plans with one doc_id "
        "join; output is <= 10 rows. Gap computed from the 1e-6-"
        "rounded bin aggregates on both engines (float-sign "
        "portability rule). Reference has no model-based filtering — "
        "LLM-pipeline extension.",
)
def eval_quality_score_calibration(spark, sf_dir):
    # Both inputs are row-wise functions of the same documents row
    # (the classifier score is map-only as of r13), so the old doc_id
    # join of the two registered plans was a self-join of two
    # projections over the same scan — compute both columns in ONE
    # scan instead (r13: 2 corpus scans + 1 corpus join -> 1 scan).
    d = load_table(spark, sf_dir, "documents")
    _n, score_c = qcls_cols(F.col("text"))
    keep_rule = quality_drop_reason(
        F.col("text"), F.col("n_chars")
    ).isNull()
    binned = d.select(
        score_c.alias("score"), keep_rule.alias("keep_rule")
    ).select(
        F.least(F.floor(F.col("score") * 10).cast("int"), F.lit(9)).alias(
            "bin"
        ),
        "score",
        F.when(F.col("keep_rule"), 1.0).otherwise(0.0).alias("y"),
    )
    agg = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.avg("score") + F.lit(1e-9), 6).alias("mean_score"),
        F.round(F.avg("y") + F.lit(1e-9), 6).alias("rule_pass_rate"),
    )
    return agg.select(
        "bin",
        "n_docs",
        "mean_score",
        "rule_pass_rate",
        F.round(
            F.abs(F.col("mean_score") - F.col("rule_pass_rate"))
            + F.lit(1e-9),
            6,
        ).alias("gap"),
    )
