"""Round-5 pipeline operators, part 2: LM-based corpus pruning,
contrastive-training data mining, and tokenizer diagnostics.

Extends the LLM-data-pipeline surface (SURVEY.md north-star) with
three operations a multilingual curation loop still reached for:

- ``corpus_perplexity_prune`` — CCNet-style (Wenzek et al. 2020,
  "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
  Data") per-language LM scoring banded into head/middle/tail
  terciles; the standard "keep the fluent two-thirds" pruning knob.
- ``ann_hard_negative_mining`` — DPR/SimCSE-style hard negatives: per
  query, the highest-cosine OTHER-label vectors below a near-dup
  ceiling — the retrieval-training data step between dedup and
  contrastive fine-tuning.
- ``tokenizer_fertility_by_lang`` — subword fertility (subword tokens
  per whitespace word) and bytes-per-token by language, the standard
  multilingual tokenizer-quality readout (e.g. XLM-R's fertility
  tables).

Same determinism rules as the rest of the surface: no rand(); every
cross-engine float rank is rounded at 1e-6 with id tie-breaks; integer
band keys go through ROUND(x, 0)-then-cast on both engines (DuckDB
casts round, Spark casts truncate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from change_data_capture_poc_spark.queries.pipeline4_q import EMBED_DIM
from change_data_capture_poc_spark.registry import register
from change_data_capture_poc_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# corpus_perplexity_prune
# ---------------------------------------------------------------------------


@register(
    "corpus_perplexity_prune",
    oracle="""
    WITH d AS (
        SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
    ),
    tok AS (
        SELECT doc_id, lang, len(w) AS n, unnest(w) AS tok FROM d
    ),
    c AS (
        SELECT lang, tok, COUNT(*) AS c FROM tok GROUP BY lang, tok
    ),
    t AS (SELECT lang, SUM(c) AS t FROM c GROUP BY lang),
    doc AS (
        SELECT k.doc_id, k.lang, k.n,
               ROUND(AVG(ln(c.c * 1.0 / t.t)) + 1e-9, 6) AS lp
        FROM tok k
        JOIN c ON k.lang = c.lang AND k.tok = c.tok
        JOIN t ON k.lang = t.lang
        GROUP BY k.doc_id, k.lang, k.n
    ),
    banded AS (
        SELECT lang,
               CAST(ROUND(-lp * 100 + 1e-9, 0) AS BIGINT) AS band,
               COUNT(*) AS nd, SUM(n) AS nt
        FROM doc GROUP BY lang, band
    ),
    tot AS (SELECT lang, SUM(nd) AS n_lang FROM banded GROUP BY lang),
    cum AS (
        SELECT lang, band, nd, nt,
               SUM(nd) OVER (
                   PARTITION BY lang ORDER BY band
               ) AS cm
        FROM banded
    ),
    cuts AS (
        SELECT cum.lang,
               MIN(CASE WHEN cm * 3 >= n_lang THEN band END) AS cut1,
               MIN(CASE WHEN cm * 3 >= 2 * n_lang THEN band END) AS cut2
        FROM cum JOIN tot USING (lang)
        GROUP BY cum.lang
    )
    SELECT lang, bucket,
           CAST(SUM(nd) AS BIGINT) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS n_tokens,
           bucket <> 'tail' AS kept
    FROM (
        SELECT b.lang, b.nd, b.nt,
               CASE WHEN b.band <= cuts.cut1 THEN 'head'
                    WHEN b.band <= cuts.cut2 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM banded b JOIN cuts ON b.lang = cuts.lang
    )
    GROUP BY lang, bucket
    """,
    doc="CCNet-style perplexity pruning (Wenzek et al. 2020): each "
        "doc scored by a per-language unigram LM trained on the "
        "corpus itself (avg ln p(tok|lang)); scores banded onto an "
        "integer centinat grid and split into head/middle/tail "
        "terciles per language by exact banded cumulative counts "
        "(cm*3 >= n integer arithmetic — no percentile_approx, no "
        "cross-engine quantile semantics). Keep = head+middle, the "
        "CCNet default. Scale shape: one token-count shuffle, the "
        "count-table join is AQE-decided (vocab grows with the "
        "corpus — never broadcast), the only windows run over the "
        "banded (lang x ~2000 centinat bands) summary, and the cut "
        "table is |langs| rows broadcast back. The per-doc score agg "
        "is doc-keyed and map-side combinable.",
)
def corpus_perplexity_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.split("text", " ").alias("w")
    )
    tok = d.select(
        "doc_id", "lang", F.size("w").alias("n"), F.explode("w").alias("tok")
    )
    c = tok.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("c"))
    t = c.groupBy("lang").agg(F.sum("c").alias("t"))

    # Count-table join: vocab grows with the corpus — AQE decides.
    # The per-language total is |langs| rows — broadcast.
    doc = (
        tok.join(c, ["lang", "tok"])
        # bounded: |langs| total rows
        .join(F.broadcast(t), "lang")
        .groupBy("doc_id", "lang", "n")
        .agg(
            F.round(
                F.avg(F.log(F.col("c") * 1.0 / F.col("t"))) + F.lit(1e-9), 6
            ).alias("lp")
        )
    )
    # Integer centinat band: ROUND(x, 0) then cast on BOTH engines
    # (DuckDB double->bigint casts round, Spark truncates).
    banded = doc.select(
        "lang",
        F.round(-F.col("lp") * 100 + F.lit(1e-9), 0)
        .cast("long")
        .alias("band"),
        "n",
    ).groupBy("lang", "band").agg(
        F.count(F.lit(1)).alias("nd"), F.sum("n").alias("nt")
    )

    # Bounded windows: one partition per language over the centinat
    # band summary (~hundreds of rows), never the corpus. The language
    # total and both tercile cuts are per-language aggregates of this
    # same frame, so they ride the one partitionBy(lang) exchange as
    # additional window expressions — the old shape re-ran the whole
    # corpus perplexity pipeline once for the totals branch and once
    # for the final cut join (r13: 18 exchanges -> 7, banded computed
    # once instead of three times).
    w_lang = Window.partitionBy("lang")
    cm = F.sum("nd").over(
        w_lang.orderBy("band").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
    )
    cum = banded.withColumn("cm", cm).withColumn(
        "n_lang", F.sum("nd").over(w_lang)
    )
    cut1 = F.min(
        F.when(F.col("cm") * 3 >= F.col("n_lang"), F.col("band"))
    ).over(w_lang)
    cut2 = F.min(
        F.when(F.col("cm") * 3 >= 2 * F.col("n_lang"), F.col("band"))
    ).over(w_lang)
    bucket = (
        F.when(F.col("band") <= F.col("cut1"), "head")
        .when(F.col("band") <= F.col("cut2"), "middle")
        .otherwise("tail")
    )
    return (
        cum.withColumn("cut1", cut1)
        .withColumn("cut2", cut2)
        .select("lang", bucket.alias("bucket"), "nd", "nt")
        .groupBy("lang", "bucket")
        .agg(
            F.sum("nd").cast("long").alias("n_docs"),
            F.sum("nt").cast("long").alias("n_tokens"),
        )
        .withColumn("kept", F.col("bucket") != "tail")
    )


# ---------------------------------------------------------------------------
# ann_hard_negative_mining
# ---------------------------------------------------------------------------

_HN_NQ = 8       # query set size (matches the other ANN evals)
_HN_K = 5        # hard negatives per query
_HN_CEIL = 0.95  # near-dup ceiling: candidates above this are assumed
                 # false negatives (mislabeled near-duplicates) and skipped
_HN_P = 3        # IVF probes: nearest OTHER-label partitions mined per query

# Per-dimension mean as an inline SQL list constructor (one avg expr
# per dimension) — same centroid construction as
# ann_ivf_multiprobe_recall's oracle.
_HN_CENTROID_LIST = (
    "[" + ", ".join(f"avg(v[{i + 1}])" for i in range(EMBED_DIM)) + "]"
)


@register(
    "ann_hard_negative_mining",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
               FROM embeddings),
    q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv
          FROM e WHERE vec_id < {_HN_NQ}),
    cent AS (SELECT label, {_HN_CENTROID_LIST} AS c FROM e GROUP BY label),
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
            FROM q JOIN cent ON cent.label <> q.q_label
        ) WHERE rk <= {_HN_P}
    ),
    scored AS (
        SELECT p.q_id, e.vec_id AS neighbor_id,
               e.label AS neighbor_label,
               ROUND(list_dot_product(e.v, q.qv) /
                   (sqrt(list_dot_product(e.v, e.v)) *
                    sqrt(list_dot_product(q.qv, q.qv))) + 1e-9, 6) AS cos
        FROM e
        JOIN probed p ON e.label = p.label
        JOIN q ON q.q_id = p.q_id
    ),
    ranked AS (
        SELECT q_id, neighbor_id, neighbor_label, cos,
               ROW_NUMBER() OVER (
                   PARTITION BY q_id ORDER BY cos DESC, neighbor_id
               ) AS rk
        FROM scored WHERE cos <= {_HN_CEIL}
    )
    SELECT q_id, CAST(rk AS BIGINT) AS hn_rank,
           neighbor_id, neighbor_label, cos
    FROM ranked WHERE rk <= {_HN_K}
    """,
    doc=f"DPR/SimCSE-style hard-negative mining, IVF-pooled: for each "
        f"of the {_HN_NQ} query vectors, the top-{_HN_K} highest-"
        f"cosine vectors mined from the query's {_HN_P} nearest "
        f"OTHER-label IVF partitions (per-label mean centroids — the "
        f"ann_ivf_multiprobe_recall machinery), excluding candidates "
        f"above cos {_HN_CEIL} (near-duplicates are presumed "
        f"mislabeled positives — the standard false-negative filter). "
        f"This is the training-pair construction step between dedup "
        f"and contrastive fine-tuning; mining from the ANN candidate "
        f"pool instead of exact full-corpus scoring is exactly how "
        f"production hard-negative mining runs (a full scan per "
        f"mining run does not survive 100 TB — the round-5 review's "
        f"one measured scale-killer, replaced here). Scale shape: "
        f"centroids from one posexplode aggregation; the query-"
        f"centroid ranking is |queries| x |labels| through "
        f"grouped_topk; candidate scoring touches ONLY the probed "
        f"partitions via a label equi-join (candidates shrink by "
        f"{_HN_P}/|labels|); the per-query cut is grouped_topk "
        f"(partial heaps + k-bounded merge), never a corpus window. "
        f"Ranks on 1e-6-rounded (+1e-9 pre-round) cosine with id "
        f"tie-breaks (float-portability rule).",
)
def ann_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from change_data_capture_poc_spark.functions.vectors import (
        dot_product,
        unit_normalize,
    )
    from change_data_capture_poc_spark.operators.topk import grouped_topk

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    en = e.select(
        "vec_id", "label", unit_normalize(F.col("v")).alias("nv")
    )
    q = en.where(F.col("vec_id") < _HN_NQ).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("nv").alias("qnv"),
    )

    # Per-label centroid via posexplode -> (label, pos) mean -> regroup
    # (two keyed shuffles over n x dim scalar rows; the vectors cross
    # the network once, decomposed) — shared shape with
    # ann_ivf_multiprobe_recall (queries/pipeline4_q.py).
    cent = (
        e.select("label", F.posexplode("v").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.avg("x").alias("m"))
        .groupBy("label")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "m"))),
                lambda s: s.getField("m"),
            ).alias("c")
        )
    )
    cn = cent.select("label", unit_normalize(F.col("c")).alias("cn"))

    # Rank OTHER labels per query on rounded query-centroid cosine;
    # |queries| x |labels| rows (grows with index size) -> grouped_topk.
    probed = grouped_topk(
        # bounded: |labels| centroid rows
        q.join(F.broadcast(cn), F.col("label") != F.col("q_label")).select(
            "q_id",
            "label",
            F.round(
                dot_product(F.col("qnv"), F.col("cn")) + F.lit(1e-9), 6
            ).alias("ccos"),
        ),
        ["q_id"],
        [("ccos", False), ("label", True)],
        _HN_P,
    ).select("q_id", "label")

    # Candidates = rows of the probed partitions only (label equi-join;
    # the corpus never meets queries it wasn't probed for).
    cand = (
        en.join(probed, "label")
        # bounded: query set capped rows
        .join(F.broadcast(q.select("q_id", "qnv")), "q_id")
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neighbor_label"),
            F.round(
                dot_product(F.col("nv"), F.col("qnv")) + F.lit(1e-9), 6
            ).alias("cos"),
        )
        .where(F.col("cos") <= _HN_CEIL)
    )
    top = grouped_topk(
        cand,
        ["q_id"],
        [("cos", False), ("neighbor_id", True)],
        _HN_K,
    )
    # Bounded window: ranks the <= NQ x K surviving rows (40 here) —
    # the corpus-sized candidate set was already cut by grouped_topk.
    rk = F.row_number().over(
        Window.partitionBy("q_id").orderBy(
            F.col("cos").desc(), F.col("neighbor_id")
        )
    )
    return top.select(
        "q_id",
        rk.cast("long").alias("hn_rank"),
        "neighbor_id",
        "neighbor_label",
        "cos",
    )


# ---------------------------------------------------------------------------
# tokenizer_fertility_by_lang
# ---------------------------------------------------------------------------

_FERT_V = 16        # pooled vocabulary size (top-V words, all langs)
_FERT_PIECE = 3     # chars per subword piece for OOV fragmentation


@register(
    "tokenizer_fertility_by_lang",
    oracle=f"""
    WITH w AS (
        SELECT lang, unnest(string_split(text, ' ')) AS word
        FROM documents
    ),
    vocab AS (
        SELECT word FROM (
            SELECT word, COUNT(*) AS c FROM w GROUP BY word
            ORDER BY c DESC, word LIMIT {_FERT_V}
        )
    ),
    costed AS (
        SELECT w.lang,
               CASE WHEN vocab.word IS NOT NULL THEN 1
                    ELSE greatest(1, (length(w.word) + {_FERT_PIECE - 1})
                                     // {_FERT_PIECE}) END AS cost,
               (vocab.word IS NULL) AS oov
        FROM w LEFT JOIN vocab ON w.word = vocab.word
    ),
    bytes AS (
        SELECT lang, COUNT(*) AS n_docs, SUM(strlen(text)) AS n_bytes
        FROM documents GROUP BY lang
    )
    SELECT c.lang,
           CAST(bytes.n_docs AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS words,
           CAST(SUM(c.cost) AS BIGINT) AS subword_tokens,
           CAST(SUM(CASE WHEN c.oov THEN 1 ELSE 0 END) AS BIGINT)
               AS oov_words,
           CAST(bytes.n_bytes AS BIGINT) AS total_bytes,
           ROUND(SUM(c.cost) * 1.0 / NULLIF(COUNT(*), 0) + 1e-9, 6)
               AS fertility,
           ROUND(bytes.n_bytes * 1.0 / NULLIF(SUM(c.cost), 0) + 1e-9, 6)
               AS bytes_per_token
    FROM costed c JOIN bytes ON c.lang = bytes.lang
    GROUP BY c.lang, bytes.n_docs, bytes.n_bytes
    """,
    doc=f"Subword fertility by language under a pooled top-{_FERT_V} "
        f"word vocabulary (ties broken count DESC, word ASC): "
        f"in-vocab words cost 1 token, OOV words fragment into "
        f"ceil(len/{_FERT_PIECE}) pieces — the mechanism behind real "
        f"multilingual fertility gaps (a shared vocab dominated by "
        f"high-resource languages fragments the rest; cf. XLM-R's "
        f"fertility tables). Reports fertility (tokens/word), OOV "
        f"word count, and bytes/token by language. Scale shape: one "
        f"word-count shuffle; the vocab cut is a global "
        f"TakeOrdered(V) — V is constant, so the vocab join "
        f"broadcasts; the per-language rollup is a |langs|-row "
        f"aggregate. JVM-side only, no Python in the hot path.",
)
def tokenizer_fertility_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = d.select("lang", F.explode(F.split("text", " ")).alias("word"))
    # Global top-V by (count DESC, word ASC): TakeOrderedAndProject —
    # one count shuffle, then a V-bounded global cut.
    vocab = (
        w.groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("word"))
        .limit(_FERT_V)
        .select("word", F.lit(True).alias("in_vocab"))
    )
    p = _FERT_PIECE
    cost = F.when(F.col("in_vocab").isNotNull(), F.lit(1)).otherwise(
        F.greatest(
            F.lit(1), F.expr(f"(length(word) + {p - 1}) div {p}")
        )
    )
    # bounded: vocab capped at _FERT_V rows (limit)
    costed = w.join(F.broadcast(vocab), "word", "left").select(
        "lang",
        cost.alias("cost"),
        F.col("in_vocab").isNull().alias("oov"),
    )
    by = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.octet_length("text")).alias("n_bytes"),
    )
    agg = costed.groupBy("lang").agg(
        F.count(F.lit(1)).alias("words"),
        F.sum("cost").alias("subword_tokens"),
        F.sum(F.when(F.col("oov"), 1).otherwise(0)).alias("oov_words"),
    )
    # bounded: |langs| rows
    return agg.join(F.broadcast(by), "lang").select(
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("words").cast("long").alias("words"),
        F.col("subword_tokens").cast("long").alias("subword_tokens"),
        F.col("oov_words").cast("long").alias("oov_words"),
        F.col("n_bytes").cast("long").alias("total_bytes"),
        F.round(
            F.col("subword_tokens") * 1.0
            / F.nullif(F.col("words"), F.lit(0))
            + F.lit(1e-9),
            6,
        ).alias("fertility"),
        F.round(
            F.col("n_bytes") * 1.0
            / F.nullif(F.col("subword_tokens"), F.lit(0))
            + F.lit(1e-9),
            6,
        ).alias("bytes_per_token"),
    )
