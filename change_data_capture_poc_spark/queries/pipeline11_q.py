"""Round-10 additions: CDC type-widening schema evolution and the
corpus data card rollup.

Reference semantics base: shalini-p16/change-data-capture-poc — the
REAL/NUMERIC/DOUBLE price discrepancy across its own layers
(postgres/01_init_schema.sql NUMERIC vs the DuckDB REAL cast in
duckdb/analytics/init_duckdb.sh) is exactly the upstream-type-widening
case ``cdc_schema_evolution_widening`` exercises end-to-end.

- ``cdc_schema_evolution_widening`` — the OTHER common upstream ALTER
  (cdc_schema_evolution_union covers an ADDED column): a type widening
  (INT -> BIGINT, REAL -> DOUBLE). Two writer generations land parquet
  files with genuinely different PHYSICAL types (Spark writes INT32 +
  FLOAT for the narrow generation, INT64 + DOUBLE for the wide one)
  and a single evolved read schema upcasts the narrow files in the
  scan itself — Spark 4's Parquet type-widening reader (SPARK-40876),
  no per-file rewrite, no UNION of two reads. The per-key backfill
  readout is what a migration decision reads.
- ``corpus_datacard_report`` — the one-stop data card a training run
  publishes (Datasheets for Datasets, Gebru et al. 1803.09010; the
  Pile/ROOTS-style corpus cards): per-source mix, token counts, exact
  + near dedup rates, quality-filter survival, language distribution,
  split sizes — composed from the registered building-block
  semantics, ~|sources| output rows.
- ``cdc_widening_precision_audit`` — the decision half of the widening
  story: per key, how many narrow-era float32 rows differ from the
  exact wide-era value and by how much — n_lossy = 0 means the era can
  be re-typed in place instead of rewritten.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from change_data_capture_poc_spark.functions.artifacts import persisted
from change_data_capture_poc_spark.operators.chunking import (
    CDC_CHUNK_CTES,
    cdc_chunks,
)
from change_data_capture_poc_spark.registry import register
from change_data_capture_poc_spark.sources.tables import load_table
from change_data_capture_poc_spark.operators.quality import (
    QF_RULE_SQL,
    quality_drop_reason,
)

# ---------------------------------------------------------------------------
# cdc_schema_evolution_widening — upstream ALTER TYPE tolerance
# ---------------------------------------------------------------------------

# The evolved (post-widening) read schema; the narrow generation's
# files carry INT32 id/v and FLOAT price and are upcast in the scan.
_WIDEN_SCHEMA = "lsn bigint, id bigint, v bigint, price double"


def _widen_gen_dir(spark: SparkSession, sf_dir: str) -> str:
    """Write the two writer generations (once per sf_dir) and return
    the landing directory. Narrow generation = even LSNs, physical
    INT32/FLOAT; wide generation = odd LSNs, INT64/DOUBLE. Content is
    a deterministic function of the events table, so the artifact
    marker (functions/artifacts.persisted) makes re-runs free. Price
    is derived from integers then quantized through float32 for the
    narrow generation — the exact value a REAL-era writer would have
    persisted, reproducible in DuckDB as CAST(... AS REAL)."""
    return persisted(
        "widen", sf_dir, "events", lambda d: _write_widen_gens(spark, sf_dir, d)
    )[0]


def _write_widen_gens(spark: SparkSession, sf_dir: str, d: str) -> None:
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select(
            F.col("event_id").alias("lsn"),
            F.col("user_id").alias("id"),
            (F.col("event_id") % 1000).alias("v"),
            ((F.col("event_id") % 10000) / F.lit(100.0)).alias("price"),
        )
    )
    # The narrow generation deliberately writes INT32 ids (the
    # pre-widening schema); the oracle keeps BIGINT. Guard the cast:
    # an id beyond INT32 would wrap (non-ANSI) or throw (ANSI) and
    # diverge from the oracle SILENTLY — fail loudly instead. One
    # tiny one-time agg, only on generation (marker-guarded).
    max_id = ev.agg(F.max("id")).first()[0]
    if max_id is not None and max_id > 2**31 - 1:
        raise ValueError(
            f"widening fixture: user_id {max_id} exceeds INT32 — the "
            "narrow generation cannot represent it; re-derive narrow "
            "ids (e.g. id % 2^31) before widening this scale factor"
        )
    narrow = ev.where(F.col("lsn") % 2 == 0).select(
        "lsn",
        F.col("id").cast("int").alias("id"),
        F.col("v").cast("int").alias("v"),
        F.col("price").cast("float").alias("price"),
    )
    wide = ev.where(F.col("lsn") % 2 == 1).select(
        "lsn",
        F.col("id").cast("long").alias("id"),
        F.col("v").cast("long").alias("v"),
        F.col("price").cast("double").alias("price"),
    )
    narrow.write.mode("overwrite").parquet(os.path.join(d, "gen_narrow"))
    wide.write.mode("overwrite").parquet(os.path.join(d, "gen_wide"))


@register(
    "cdc_schema_evolution_widening",
    oracle="""
    WITH env AS (
        SELECT event_id AS lsn, user_id AS id,
               event_id % 1000 AS v,
               CASE WHEN event_id % 2 = 0
                    THEN CAST(CAST((event_id % 10000) / 100.0 AS REAL)
                              AS DOUBLE)
                    ELSE (event_id % 10000) / 100.0 END AS price
        FROM events WHERE user_id IS NOT NULL
    )
    SELECT id AS user_id,
           CAST(COUNT(*) AS BIGINT) AS n_versions,
           CAST(COUNT(*) FILTER (lsn % 2 = 0) AS BIGINT) AS n_narrow,
           CAST(COUNT(*) FILTER (lsn % 2 = 1) AS BIGINT) AS n_wide,
           MIN(CASE WHEN lsn % 2 = 1 THEN lsn END) AS first_wide_lsn,
           CAST(SUM(v) AS BIGINT) AS sum_v,
           ROUND(MAX_BY(price, lsn) + 1e-9, 6) AS last_price
    FROM env GROUP BY id
    """,
    doc="CDC SCHEMA EVOLUTION, type-widening case — the upstream "
        "ALTER every long-lived pipeline eventually hits (the "
        "reference itself carries a NUMERIC-vs-REAL-vs-DOUBLE price "
        "discrepancy across its layers: postgres/01_init_schema.sql "
        "vs duckdb/analytics/init_duckdb.sh): two writer generations "
        "land parquet with genuinely different PHYSICAL types "
        "(INT32+FLOAT narrow era, INT64+DOUBLE wide era), and ONE "
        "evolved schema reads both — Spark 4's Parquet type-widening "
        "reader (SPARK-40876) upcasts the narrow files inside the "
        "scan: no rewrite, no dual read + UNION, pushdown and "
        "vectorization intact. The narrow era's float32 quantization "
        "is preserved exactly (the oracle replays it via CAST AS "
        "REAL), so the readout is bit-faithful to what that writer "
        "persisted — the honest input to a backfill decision "
        "(per-key era counts, first post-widening LSN, exact integer "
        "sum across eras, latest price). Scale shape: generation "
        "writes are one-time map-only jobs; the steady-state query "
        "is a single widened scan + one keyed agg shuffle.",
)
def cdc_schema_evolution_widening(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = _widen_gen_dir(spark, sf_dir)
    allgen = spark.read.schema(_WIDEN_SCHEMA).parquet(
        os.path.join(d, "gen_narrow"), os.path.join(d, "gen_wide")
    )
    return allgen.groupBy(F.col("id").alias("user_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_versions"),
        F.sum(F.when(F.col("lsn") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_narrow"),
        F.sum(F.when(F.col("lsn") % 2 == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_wide"),
        F.min(F.when(F.col("lsn") % 2 == 1, F.col("lsn"))).alias(
            "first_wide_lsn"
        ),
        F.sum("v").cast("long").alias("sum_v"),
        F.round(F.expr("max_by(price, lsn)") + F.lit(1e-9), 6).alias(
            "last_price"
        ),
    )


# ---------------------------------------------------------------------------
# corpus_datacard_report — the data card a training run publishes
# ---------------------------------------------------------------------------


def _datacard_oracle() -> str:
    return f"""
    WITH {CDC_CHUNK_CTES},
    {QF_RULE_SQL},
    dcbase AS (
        SELECT doc_id, source, lang, n_chars,
               len(list_filter(string_split(text, ' '), x -> x != ''))
                   AS n_words,
               md5(text) AS fp,
               md5(trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS nfp,
               ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                   ::BIGINT % 100 AS h
        FROM documents
    ),
    dckp AS (SELECT fp, MIN(doc_id) AS keeper FROM dcbase GROUP BY fp),
    dcnkp AS (SELECT nfp, MIN(doc_id) AS nkeeper
              FROM dcbase GROUP BY nfp),
    dclc AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS cnt
             FROM documents GROUP BY 1, 2),
    dctop AS (SELECT source, MIN({{'negc': -cnt, 'l': lang}}) AS m
              FROM dclc GROUP BY source),
    dcchf AS (SELECT chunk_fp, MIN({{'d': doc_id, 'i': chunk_idx}}) AS fk
              FROM chunks GROUP BY chunk_fp),
    dcchs AS (
        SELECT c.source,
               SUM(c.n_words) AS words_total,
               SUM(CASE WHEN c.doc_id <> f.fk.d OR c.chunk_idx <> f.fk.i
                        THEN c.n_words ELSE 0 END) AS dup_words
        FROM chunks c JOIN dcchf f USING (chunk_fp)
        GROUP BY c.source
    ),
    dcper AS (
        SELECT b.source,
               COUNT(*) AS n_docs,
               SUM(b.n_words) AS n_tokens,
               SUM(b.n_chars) AS n_chars,
               COUNT(DISTINCT b.lang) AS n_langs,
               SUM(CASE WHEN b.doc_id <> k.keeper
                        THEN 1 ELSE 0 END) AS n_exact_dup,
               SUM(CASE WHEN b.doc_id <> nk.nkeeper
                        THEN 1 ELSE 0 END) AS n_norm_dup,
               SUM(CASE WHEN q.drop_reason IS NULL
                        THEN 1 ELSE 0 END) AS n_quality_pass,
               SUM(CASE WHEN b.h < 80 THEN 1 ELSE 0 END) AS n_train,
               SUM(CASE WHEN b.h >= 80 AND b.h < 90
                        THEN 1 ELSE 0 END) AS n_val,
               SUM(CASE WHEN b.h >= 90 THEN 1 ELSE 0 END) AS n_test
        FROM dcbase b
        JOIN dckp k USING (fp)
        JOIN dcnkp nk USING (nfp)
        JOIN qrule q USING (doc_id)
        GROUP BY b.source
    )
    SELECT p.source,
           CAST(p.n_docs AS BIGINT) AS n_docs,
           CAST(p.n_tokens AS BIGINT) AS n_tokens,
           CAST(p.n_chars AS BIGINT) AS n_chars,
           CAST(p.n_langs AS BIGINT) AS n_langs,
           t.m.l AS top_lang,
           CAST(-t.m.negc AS BIGINT) AS top_lang_docs,
           ROUND(p.n_exact_dup * 1.0 / p.n_docs + 1e-9, 6)
               AS exact_dup_rate,
           ROUND(p.n_norm_dup * 1.0 / p.n_docs + 1e-9, 6)
               AS norm_dup_rate,
           ROUND(c.dup_words * 1.0 / c.words_total + 1e-9, 6)
               AS chunk_dup_word_ratio,
           ROUND(p.n_quality_pass * 1.0 / p.n_docs + 1e-9, 6)
               AS quality_pass_rate,
           CAST(p.n_train AS BIGINT) AS n_train,
           CAST(p.n_val AS BIGINT) AS n_val,
           CAST(p.n_test AS BIGINT) AS n_test
    FROM dcper p
    JOIN dctop t USING (source)
    JOIN dcchs c USING (source)
    """


@register(
    "corpus_datacard_report",
    oracle=_datacard_oracle(),
    doc="CORPUS DATA CARD — the one-table summary a training run "
        "publishes (Datasheets for Datasets, Gebru et al. 1803.09010; "
        "the Pile/ROOTS corpus-card practice), one row per source: "
        "volume (docs, whitespace tokens, chars), language profile "
        "(distinct langs, dominant lang by doc count with lang-asc "
        "tie-break via struct-min), THREE dedup tiers — exact "
        "(md5 keeper), normalized (casefold/strip-punct/collapse-ws "
        "md5 — the near tier), and substring-level (content-defined "
        "chunk dup word ratio, shared fragments with "
        "chunk_cdc_dedup_report) — Gopher quality-filter survival "
        "(the registered text_quality_filter plan), and hash-split "
        "sizes (the registered split_train_val_test assignment). The "
        "loader-facing sibling of corpus_shard_manifest: everything a "
        "consumer needs to judge the mix before training. Scale "
        "shape: three fingerprint-keyed aggs + one chunk-fp agg + "
        "one |sources|-row rollup; every joined frame is doc_id- or "
        "fp-keyed, output is |sources| rows.",
)
def corpus_datacard_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from change_data_capture_poc_spark.functions.caching import (
        persist_once,
    )
    from change_data_capture_poc_spark.queries.pipeline3_q import (
        split_assignment,
    )

    d = load_table(spark, sf_dir, "documents")
    # keep (the Gopher rule verdict) and split (a doc_id hash) are
    # pure row-wise functions, so they ride the base projection —
    # the old doc_id joins against the registered quality/split plans
    # replayed two full documents scans (r13: 3 corpus scans + 2
    # corpus joins -> 1 scan).
    base = d.select(
        "doc_id",
        "source",
        "lang",
        "n_chars",
        F.expr("size(filter(split(text, ' '), x -> x != ''))")
        .cast("long")
        .alias("n_words"),
        F.md5(F.col("text").cast("binary")).alias("fp"),
        F.md5(
            F.trim(
                F.regexp_replace(
                    F.regexp_replace(
                        F.lower(F.col("text")), "[^a-z0-9 ]", ""
                    ),
                    " +",
                    " ",
                )
            ).cast("binary")
        ).alias("nfp"),
        quality_drop_reason(F.col("text"), F.col("n_chars"))
        .isNull()
        .alias("keep"),
        split_assignment(F.col("doc_id")),
    ).transform(persist_once)

    from pyspark.sql import Window

    # keeper flags via fingerprint-partition windows: one shuffle of
    # the pinned base per fingerprint instead of a keeper-agg plus a
    # join back (which re-reads base once per keeper table and, at
    # scale, joins two corpus-sized frames)
    per = (
        base.withColumn(
            "keeper", F.min("doc_id").over(Window.partitionBy("fp"))
        )
        .withColumn(
            "nkeeper", F.min("doc_id").over(Window.partitionBy("nfp"))
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_tokens"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.sum((F.col("doc_id") != F.col("keeper")).cast("int")).alias(
                "n_exact_dup"
            ),
            F.sum(
                (F.col("doc_id") != F.col("nkeeper")).cast("int")
            ).alias("n_norm_dup"),
            F.sum(F.col("keep").cast("int")).alias("n_quality_pass"),
            F.sum((F.col("split") == "train").cast("int"))
            .cast("long")
            .alias("n_train"),
            F.sum((F.col("split") == "val").cast("int"))
            .cast("long")
            .alias("n_val"),
            F.sum((F.col("split") == "test").cast("int"))
            .cast("long")
            .alias("n_test"),
        )
    )

    top = (
        # base carries one row per document with source/lang — reuse
        # the pin instead of a second parquet scan
        base.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .groupBy("source")
        .agg(
            F.min(
                F.struct(
                    (-F.col("cnt")).alias("negc"), F.col("lang").alias("l")
                )
            ).alias("m")
        )
        .select(
            "source",
            F.col("m.l").alias("top_lang"),
            (-F.col("m.negc")).cast("long").alias("top_lang_docs"),
        )
    )

    ch = cdc_chunks(spark, sf_dir)
    fk = F.min(F.struct("doc_id", "chunk_idx")).over(
        Window.partitionBy("chunk_fp")
    )
    chdup = (
        (F.col("doc_id") != F.col("fk.doc_id"))
        | (F.col("chunk_idx") != F.col("fk.chunk_idx"))
    ).cast("int")
    chs = (
        ch.withColumn("fk", fk)
        .groupBy("source")
        .agg(
            F.sum("n_words").alias("words_total"),
            F.sum(chdup * F.col("n_words")).alias("dup_words"),
        )
    )

    return (
        per.join(top, "source")
        .join(chs, "source")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "n_chars",
            "n_langs",
            "top_lang",
            "top_lang_docs",
            F.round(
                F.col("n_exact_dup") * 1.0 / F.col("n_docs") + F.lit(1e-9),
                6,
            ).alias("exact_dup_rate"),
            F.round(
                F.col("n_norm_dup") * 1.0 / F.col("n_docs") + F.lit(1e-9),
                6,
            ).alias("norm_dup_rate"),
            F.round(
                F.col("dup_words") * 1.0 / F.col("words_total")
                + F.lit(1e-9),
                6,
            ).alias("chunk_dup_word_ratio"),
            F.round(
                F.col("n_quality_pass") * 1.0 / F.col("n_docs")
                + F.lit(1e-9),
                6,
            ).alias("quality_pass_rate"),
            "n_train",
            "n_val",
            "n_test",
        )
    )


# ---------------------------------------------------------------------------
# cdc_widening_precision_audit — what did the narrow era actually lose?
# ---------------------------------------------------------------------------


@register(
    "cdc_widening_precision_audit",
    oracle="""
    WITH env AS (
        SELECT user_id AS id, event_id AS lsn,
               (event_id % 10000) / 100.0 AS exact_price,
               CAST(CAST((event_id % 10000) / 100.0 AS REAL) AS DOUBLE)
                   AS stored_price
        FROM events
        WHERE user_id IS NOT NULL AND event_id % 2 = 0
    )
    SELECT id AS user_id,
           CAST(COUNT(*) AS BIGINT) AS n_narrow,
           CAST(COUNT(*) FILTER (stored_price <> exact_price) AS BIGINT)
               AS n_lossy,
           ROUND(MAX(ABS(stored_price - exact_price)) * 1e9 + 1e-9, 6)
               AS max_abs_err_ppb,
           ROUND(SUM(ABS(stored_price - exact_price)) * 1e9 + 1e-9, 6)
               AS sum_abs_err_ppb
    FROM env GROUP BY id
    """,
    doc="WIDENING PRECISION AUDIT — the second half of the migration "
        "decision cdc_schema_evolution_widening feeds: per key, how "
        "many narrow-era (REAL/float32) rows differ from the exact "
        "value the wide era would have stored, and by how much (max "
        "and summed absolute error, in parts-per-billion so the "
        "readout is integer-scaled and rounding-stable). The engine "
        "reads the ACTUAL persisted narrow-generation files through "
        "the widened schema and recomputes the exact price from the "
        "LSN (price is a deterministic function of the key — the "
        "audit needs no second copy of the data); the oracle replays "
        "the float32 quantization with CAST AS REAL. This is the "
        "query that decides whether a backfill must REWRITE history "
        "or can just re-type it: n_lossy = 0 means the era can be "
        "upcast in place. Scale shape: one widened scan of the "
        "narrow era + a map-side recompute + one keyed agg.",
)
def cdc_widening_precision_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = _widen_gen_dir(spark, sf_dir)
    narrow = spark.read.schema(_WIDEN_SCHEMA).parquet(
        os.path.join(d, "gen_narrow")
    )
    exact = (F.col("lsn") % 10000) / F.lit(100.0)
    err = F.abs(F.col("price") - exact)
    return narrow.groupBy(F.col("id").alias("user_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_narrow"),
        F.sum((F.col("price") != exact).cast("int"))
        .cast("long")
        .alias("n_lossy"),
        F.round(F.max(err) * F.lit(1e9) + F.lit(1e-9), 6).alias(
            "max_abs_err_ppb"
        ),
        F.round(F.sum(err) * F.lit(1e9) + F.lit(1e-9), 6).alias(
            "sum_abs_err_ppb"
        ),
    )
