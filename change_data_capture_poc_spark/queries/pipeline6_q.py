"""Round-6 pipeline operators.

Completes the dedup family (exact / near / semantic / span /
**substring**, detection AND removal), broadens curation hygiene, and
adds the portable-sketch / sampling / graph readouts a corpus loop
runs between passes:

- ``dedup_substring_suffix_runs`` / ``dedup_substring_removal`` — Lee
  et al. 2022 ("Deduplicating Training Data Makes Language Models
  Better") ExactSubstr semantics: overlapping suffix-grams find every
  duplicated window of length >= K at any alignment; gaps-and-islands
  merges them into maximal runs (detection), and the removal variant
  emits the cleaned corpus keeping each repeated passage's global
  first occurrence.
- ``text_pii_redact_classes`` — email / phone / IPv4 / URL / digit-run
  PII families (the ``text_pii_redact`` digit-only pass broadened),
  map-only portable regex, redacted-output checksums pinned.
- ``text_kneser_ney_bigram_score`` — interpolated Kneser-Ney bigram LM
  (Kneser & Ney 1995; the discounting the published quality-filter LMs
  use — CCNet scores with KenLM's modified-KN 5-grams) next to the
  Stupid Backoff scorer, same train/test hash split.
- ``agg_hll_portable`` — HyperLogLog built from md5-prefix hashes both
  engines compute identically, so the estimate itself is oracle-exact
  (the engine-native sketches stay rows-only by design).
- ``corpus_bottomk_consistent_sample`` — deterministic bottom-k-by-hash
  sampling per source stratum (growth-consistent, RNG-free).
- ``corpus_filter_funnel_attribution`` — FineWeb-style marginal gate
  attribution over the registered quality filters.
- ``text_knn_similarity_graph`` — per-doc Jaccard neighborhoods via a
  PPJoin prefix filter at the graph floor.

Stream twins live in ``streaming_q``: ``streaming_semdedup_assign_
drain``, ``streaming_suffixgram_dup_drain``, ``streaming_hll_register_
drain``.

Same determinism rules as the rest of the surface: no rand(); every
cross-engine float is rounded at 1e-6 with +1e-9 pre-round; shuffles
are keyed on hashes or count-table keys, never corpus text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from change_data_capture_poc_spark.registry import register
from change_data_capture_poc_spark.sources.tables import load_table
from change_data_capture_poc_spark.functions.caching import persist_once
from change_data_capture_poc_spark.functions.hashing import md5_mod, md5_prefix
# The span length is read as sketch.SPAN_K at call time (not bound by
# name at import) so tests can vary it through the shipped queries.
from change_data_capture_poc_spark.operators import sketch
from change_data_capture_poc_spark.operators.sketch import (
    HLL_M,
    HLL_REGISTERS_SQL,
    HLL_WBITS,
    hll_estimate,
    hll_estimate_sql,
    hll_raw_estimate,
    hll_registers,
    hll_sums,
    span_hash_sql,
    span_hashes,
)
from change_data_capture_poc_spark.operators.minhash import (
    GRAM_INTER_SQL,
    pair_grams,
    spark_grams,
)
from change_data_capture_poc_spark.operators.quality import (
    QCLS_SCORE_SQL,
    QF_RULE_SQL,
    qcls_cols,
    quality_drop_reason,
)

# ---------------------------------------------------------------------------
# dedup_substring_suffix_runs
# ---------------------------------------------------------------------------

# (doc_id, pos, gh) for every overlapping span: both ExactSubstr
# oracles start from this CTE pair.
_SPAN_GRAMS_SQL = (
    "WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),"
    f"""
    g AS (
        SELECT doc_id, s.pos,
               {span_hash_sql('s.pos', sketch.SPAN_K)}
                   AS gh
        FROM t, LATERAL (
            SELECT unnest(range(len(w) - {sketch.SPAN_K} + 1)) AS pos
        ) s
        WHERE len(w) >= {sketch.SPAN_K}
    ),"""
)


@register(
    "dedup_substring_suffix_runs",
    oracle=f"""
    {_SPAN_GRAMS_SQL}
    dup AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(*) > 1),
    d AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gh)),
    runs AS (
        SELECT doc_id, pos,
               CASE WHEN lag(pos) OVER (
                        PARTITION BY doc_id ORDER BY pos) = pos - 1
                    THEN 0 ELSE 1 END AS new_run
        FROM d
    ),
    rid AS (
        SELECT doc_id, pos,
               SUM(new_run) OVER (
                   PARTITION BY doc_id ORDER BY pos) AS run_id
        FROM runs
    ),
    agg AS (
        SELECT doc_id, run_id, MIN(pos) AS p0, MAX(pos) AS p1
        FROM rid GROUP BY doc_id, run_id
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_dup_runs,
           CAST(SUM(p1 - p0 + {sketch.SPAN_K}) AS BIGINT) AS dup_tokens,
           CAST(MAX(p1 - p0 + {sketch.SPAN_K}) AS BIGINT) AS max_run_tokens
    FROM agg GROUP BY doc_id
    """,
    doc=f"Exact-substring dedup semantics (Lee et al. 2022's "
        f"ExactSubstr): every OVERLAPPING {sketch.SPAN_K}-token window "
        f"(suffix-gram, stride 1) that occurs more than once anywhere "
        f"in the corpus marks its start position as duplicated; "
        f"consecutive duplicated positions in a document merge into "
        f"maximal runs (gaps-and-islands), so a duplicated substring "
        f"of any length >= {sketch.SPAN_K} is reported ONCE with its true "
        f"token extent (run span + {sketch.SPAN_K} - 1) — the suffix-array "
        f"result re-expressed relationally. Per-doc readout: run "
        f"count, duplicated-token total, longest duplicated "
        f"substring. Scale shape: gram TEXT never travels — the "
        f"duplicate test shuffles md5 keys once; run-merging is two "
        f"windows KEYED BY doc_id (high-cardinality partitions, never "
        f"global) over only the duplicated positions. Compare "
        f"text_span_dedup_c4 (non-overlapping spans, removal "
        f"semantics): overlapping grams are what let a duplicate be "
        f"found at ANY alignment, the property the suffix-array "
        f"method exists for.",
)
def dedup_substring_suffix_runs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    k = sketch.SPAN_K
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("w")).where(
        F.size("w") >= k
    )
    # Overlapping K-grams, hashed in the map stage: (doc_id, pos, gh).
    grams = toks.select(
        "doc_id", F.posexplode(span_hashes(k)).alias("pos", "gh")
    )
    # Duplicate test as ONE gh-keyed window count (r14): the old
    # agg-then-self-join shape executed the gram explode + md5 pass
    # twice and shuffled the gram table twice (once into the count agg,
    # once into the join); a count() over an unordered gh window finds
    # the same duplicated positions with a single pass and a single
    # exchange (guide §2.4 — two operations keyed the same way share
    # one exchange). Partition-size bound: a window partition is one
    # gram hash's occurrence list, exactly the group the old agg built.
    dpos = (
        grams.withColumn(
            "occ", F.count(F.lit(1)).over(Window.partitionBy("gh"))
        )
        .where(F.col("occ") > 1)
        .select("doc_id", "pos")
    )
    # Gaps-and-islands run merge: both windows keyed by doc_id.
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = dpos.withColumn(
        "new_run",
        F.when(F.lag("pos").over(w) == F.col("pos") - 1, 0).otherwise(1),
    ).withColumn(
        "run_id",
        F.sum("new_run").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    agg = runs.groupBy("doc_id", "run_id").agg(
        F.min("pos").alias("p0"), F.max("pos").alias("p1")
    )
    return agg.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_runs"),
        F.sum(F.col("p1") - F.col("p0") + k)
        .cast("long")
        .alias("dup_tokens"),
        F.max(F.col("p1") - F.col("p0") + k)
        .cast("long")
        .alias("max_run_tokens"),
    )


# ---------------------------------------------------------------------------
# text_pii_redact_classes
# ---------------------------------------------------------------------------

# Portable (Java regex AND RE2) patterns: no lookaround, no backrefs,
# [0-9] instead of \\d so the literal strings are engine-identical.
_PII_CLASSES = (
    ("email", r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"),
    ("phone", r"[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"),
    ("ipv4", r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"),
    ("url", r"https?://[a-z0-9./_-]+"),
    ("digit_run", r"[0-9]{6,}"),
)

# Deterministic contact blob built from customer columns — the
# documents corpus is digit-free (and this testdata customer table
# carries no phone column), so each PII family is exercised on
# synthesized-but-deterministic text BOTH engines construct identically
# (same pattern as dedup_exact_normalized's reformatted twin).
_PII_PHONE_SQL = (
    "CAST(c_custkey % 90 + 10 AS VARCHAR) || '-' || "
    "lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '-' || "
    "lpad(CAST(c_nationkey % 1000 AS VARCHAR), 3, '0') || '-' || "
    "lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')"
)
_PII_BLOB_SQL = (
    "c_name || ' reach user' || CAST(c_custkey AS VARCHAR) || "
    f"'@example.com or ' || {_PII_PHONE_SQL} || ' host 10.0.' || "
    "CAST(c_custkey % 256 AS VARCHAR) || '.' || "
    "CAST(c_custkey % 100 AS VARCHAR) || ' via https://ex.com/u/' || "
    "CAST(c_custkey AS VARCHAR)"
)


def _pii_oracle() -> str:
    parts = []
    for name, pat in _PII_CLASSES:
        parts.append(f"""
    SELECT '{name}' AS pii_class,
           CAST(COUNT(*) FILTER (
               WHERE len(regexp_extract_all(blob, '{pat}')) > 0
           ) AS BIGINT) AS n_rows_hit,
           CAST(SUM(len(regexp_extract_all(blob, '{pat}')))
               AS BIGINT) AS n_matches,
           CAST(SUM(strlen(array_to_string(
               regexp_extract_all(blob, '{pat}'), ''))) AS BIGINT)
               AS matched_chars,
           CAST(SUM(('0x' || substring(md5(
               regexp_replace(blob, '{pat}', '[{name.upper()}]', 'g')
           ), 1, 8))::BIGINT) AS BIGINT) AS redacted_checksum
    FROM b""")
    return (
        f"WITH b AS (SELECT {_PII_BLOB_SQL} AS blob FROM customer)"
        + " UNION ALL ".join(parts)
    )


@register(
    "text_pii_redact_classes",
    oracle=_pii_oracle(),
    doc="Multi-class PII redaction readout — email, phone "
        "(II-NNN-NNN-NNNN), IPv4, URL, and long-digit-run families "
        "(the text_pii_redact digit-only pass broadened to what a "
        "real curation gate scrubs; cf. the PII step in every "
        "published web-corpus pipeline). Counts rows hit, match "
        "count, and matched characters per class over a "
        "deterministic contact blob synthesized from customer "
        "columns (the documents corpus is digit-free by "
        "construction; both engines build the identical blob — the "
        "dedup_exact_normalized perturbation pattern). Patterns "
        "avoid lookaround/backrefs so the same literal runs on Java "
        "regex and RE2. The redaction output itself is pinned: "
        "redacted_checksum sums a 32-bit md5 prefix of each row's "
        "regexp_replace-to-typed-placeholder text, so placeholder "
        "position and surrounding bytes must match across engines, "
        "not just match counts. Scale shape: pure map stage at scan "
        "bandwidth — per-class counts are map-side partial "
        "aggregates; the only exchanges are the five 1-row-per-"
        "partition global-agg merges (nothing corpus-sized moves).",
)
def text_pii_redact_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    blob = F.expr(_PII_BLOB_SQL.replace("VARCHAR", "STRING")).alias("blob")
    b = c.select(blob)
    per_class = []
    for name, pat in _PII_CLASSES:
        matches = F.regexp_extract_all("blob", F.lit(pat), F.lit(0))
        # The redaction itself, pinned per row: an order-insensitive
        # 32-bit md5-prefix checksum over the REDACTED text proves the
        # replacement output (placeholder position + surrounding text),
        # not just match counts, is engine-identical.
        redacted = F.regexp_replace(
            "blob", F.lit(pat), F.lit(f"[{name.upper()}]")
        )
        row_sum = md5_prefix(redacted)
        per_class.append(
            b.select(
                matches.alias("m"), row_sum.alias("rc")
            ).agg(
                F.lit(name).alias("pii_class"),
                F.sum((F.size("m") > 0).cast("long"))
                .cast("long")
                .alias("n_rows_hit"),
                F.sum(F.size("m")).cast("long").alias("n_matches"),
                F.sum(F.length(F.array_join("m", "")))
                .cast("long")
                .alias("matched_chars"),
                F.sum("rc").cast("long").alias("redacted_checksum"),
            )
        )
    out = per_class[0]
    for df in per_class[1:]:
        out = out.unionByName(df)
    return out


# ---------------------------------------------------------------------------
# text_kneser_ney_bigram_score
# ---------------------------------------------------------------------------

_KN_D = 0.75  # absolute discount (the standard KN default)


@register(
    "text_kneser_ney_bigram_score",
    oracle=f"""
    WITH split AS (
        SELECT doc_id, text,
               ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                   ::BIGINT % 100 AS h
        FROM documents
    ),
    trbg AS (
        SELECT w[i+1] AS w1, w[i+2] AS w2
        FROM (SELECT string_split(text, ' ') AS w FROM split
              WHERE h < 80 AND len(string_split(text, ' ')) >= 2),
             unnest(range(len(w) - 1)) AS u(i)
    ),
    c2 AS (SELECT w1, w2, COUNT(*) AS c FROM trbg GROUP BY w1, w2),
    hist AS (SELECT w1, SUM(c) AS ch, COUNT(*) AS nf
             FROM c2 GROUP BY w1),
    cont AS (SELECT w2, COUNT(*) AS np FROM c2 GROUP BY w2),
    bv AS (SELECT COUNT(*) AS b, COUNT(DISTINCT w2) AS v FROM c2),
    tebg AS (
        SELECT doc_id, w[i+1] AS w1, w[i+2] AS w2
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM split
              WHERE h >= 90 AND len(string_split(text, ' ')) >= 2),
             unnest(range(len(w) - 1)) AS u(i)
    ),
    scored AS (
        SELECT t.doc_id,
               hist.ch IS NULL AS unseen_hist,
               c2.c IS NULL AS unseen_bigram,
               CASE WHEN hist.ch IS NOT NULL THEN
                   ln(GREATEST(COALESCE(c2.c, 0) - {_KN_D}, 0) / hist.ch
                      + {_KN_D} * hist.nf / hist.ch
                        * ((COALESCE(cont.np, 0) + 1.0) / (bv.b + bv.v)))
               ELSE
                   ln((COALESCE(cont.np, 0) + 1.0) / (bv.b + bv.v))
               END AS lp
        FROM tebg t
        LEFT JOIN c2 ON t.w1 = c2.w1 AND t.w2 = c2.w2
        LEFT JOIN hist ON t.w1 = hist.w1
        LEFT JOIN cont ON t.w2 = cont.w2, bv
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(CASE WHEN unseen_hist THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unseen_hist,
           CAST(SUM(CASE WHEN unseen_bigram THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unseen_bigram,
           ROUND(AVG(lp) + 1e-9, 6) AS avg_logprob
    FROM scored GROUP BY doc_id
    """,
    doc=f"Interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995) — "
        f"the discounting family the published quality-filter LMs "
        f"actually use (CCNet prunes on KenLM's modified-KN 5-gram "
        f"perplexity), next to the Stupid Backoff scorer and on the "
        f"same train(<80)/test(>=90) hash split: seen history -> "
        f"max(c12-D,0)/c(w1,.) + D*N1+(w1,.)/c(w1,.) * Pcont(w2); "
        f"unseen history -> Pcont(w2); Pcont = add-one-smoothed "
        f"continuation count (N1+(.,w2)+1)/(B+V) so OOV successors "
        f"stay finite (documented choice — textbook KN leaves OOV "
        f"undefined). D={_KN_D}. History mass is SUM of outgoing "
        f"bigram counts (not the unigram count), so the "
        f"interpolation weights are exactly the leftover discount "
        f"mass — the property that distinguishes KN from backoff. "
        f"Scale shape: identical to text_stupid_backoff_score — all "
        f"model state is count tables built in one bigram shuffle, "
        f"AQE-joined onto the test stream (corpus-growing tables, "
        f"never force-broadcast); only the 1-row (B, V) aggregate "
        f"broadcasts; the continuation/history tables are "
        f"vocabulary-sized.",
)
def text_kneser_ney_bigram_score(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
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
    c2 = bigrams(train).groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("c")
    )
    hist = c2.groupBy("w1").agg(
        F.sum("c").alias("ch"), F.count(F.lit(1)).alias("nf")
    )
    cont = c2.groupBy("w2").agg(F.count(F.lit(1)).alias("np"))
    bv = c2.agg(
        F.count(F.lit(1)).alias("b"),
        F.countDistinct("w2").alias("v"),
    )
    pcont = (F.coalesce(F.col("np"), F.lit(0)) + 1.0) / (
        F.col("b") + F.col("v")
    )
    scored = (
        bigrams(test)
        .join(c2, ["w1", "w2"], "left")
        .join(hist, "w1", "left")
        .join(cont, "w2", "left")
        # bounded: 1-row vocab-total scalar
        .crossJoin(F.broadcast(bv))
        .select(
            "doc_id",
            F.col("ch").isNull().alias("unseen_hist"),
            F.col("c").isNull().alias("unseen_bigram"),
            F.when(
                F.col("ch").isNotNull(),
                F.log(
                    F.greatest(
                        F.coalesce(F.col("c"), F.lit(0)) - _KN_D, F.lit(0.0)
                    )
                    / F.col("ch")
                    + F.lit(_KN_D) * F.col("nf") / F.col("ch") * pcont
                ),
            )
            .otherwise(F.log(pcont))
            .alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum(F.when(F.col("unseen_hist"), 1).otherwise(0))
        .cast("long")
        .alias("n_unseen_hist"),
        F.sum(F.when(F.col("unseen_bigram"), 1).otherwise(0))
        .cast("long")
        .alias("n_unseen_bigram"),
        F.round(F.avg("lp") + F.lit(1e-9), 6).alias("avg_logprob"),
    )


# ---------------------------------------------------------------------------
# agg_hll_portable — cross-engine-exact HyperLogLog
# ---------------------------------------------------------------------------

@register(
    "agg_hll_portable",
    oracle=f"""
    WITH reg AS ({HLL_REGISTERS_SQL}),
    fin AS ({hll_estimate_sql('reg', 'event_type')}),
    ex AS (SELECT event_type,
                  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
           FROM events WHERE user_id IS NOT NULL GROUP BY event_type)
    SELECT fin.event_type, ex.exact_distinct,
           fin.hit AS registers_hit, fin.zero_regs,
           ROUND(fin.e + 1e-9, 6) AS hll_estimate,
           ROUND(ABS(fin.e - ex.exact_distinct) * 1.0
                 / ex.exact_distinct + 1e-9, 6) AS rel_error
    FROM fin JOIN ex USING (event_type)
    """,
    doc=f"PORTABLE HyperLogLog ({HLL_M} registers, Flajolet et al. "
        f"2007 formula incl. the linear-counting small-range "
        f"correction): unlike agg_approx_sketches (engine-native "
        f"HLL++/t-digest, whose internals legitimately differ across "
        f"engines — rows-only check), this sketch is built from the "
        f"md5-prefix hash BOTH engines compute identically, so the "
        f"ESTIMATE itself is oracle-exact: register index = h mod "
        f"{HLL_M}, rank = first-1-bit position of the remaining "
        f"{HLL_WBITS} bits via lpad(bin(w)) string search (pure "
        f"integer — no float log2 boundary risk), and the register "
        f"sum is kept in scaled INTEGERS (sum of 2^(27-rho), one "
        f"division at the end) so no cross-engine float summation "
        f"order can perturb it. Emits estimate vs exact distinct + "
        f"relative error per event_type — the calibration readout "
        f"that justifies replacing exact distinct at 100 TB. Scale "
        f"shape: one (event_type, register) shuffle over "
        f"{HLL_M}-bounded keys per group; registers merge "
        f"associatively (MAX), the distributed-sketch property.",
)
def agg_hll_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    s = hll_sums(hll_registers(ev), "event_type")
    ex = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct")
    )
    zero_regs, e_raw = hll_raw_estimate(F.col("hit"), F.col("isum"))
    est = s.select(
        "event_type",
        "hit",
        zero_regs.alias("zero_regs"),
        e_raw.alias("e_raw"),
    )
    fin = est.select(
        "event_type",
        F.col("hit").alias("registers_hit"),
        "zero_regs",
        hll_estimate(F.col("zero_regs"), F.col("e_raw")).alias("e"),
    )
    return fin.join(ex, "event_type").select(
        "event_type",
        "exact_distinct",
        "registers_hit",
        "zero_regs",
        F.round(F.col("e") + F.lit(1e-9), 6).alias("hll_estimate"),
        F.round(
            F.abs(F.col("e") - F.col("exact_distinct"))
            * 1.0
            / F.col("exact_distinct")
            + F.lit(1e-9),
            6,
        ).alias("rel_error"),
    )


# ---------------------------------------------------------------------------
# corpus_bottomk_consistent_sample
# ---------------------------------------------------------------------------

_BK_K = 20  # sample size per source stratum


@register(
    "corpus_bottomk_consistent_sample",
    oracle=f"""
    WITH h AS (
        SELECT source, doc_id,
               ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                   ::BIGINT AS sample_hash
        FROM documents
    )
    SELECT source, doc_id, sample_hash,
           CAST(rk AS BIGINT) AS sample_rank
    FROM (
        SELECT source, doc_id, sample_hash,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY sample_hash, doc_id) AS rk
        FROM h
    ) WHERE rk <= {_BK_K}
    """,
    doc=f"Consistent (bottom-k) sampling: each source stratum keeps "
        f"the {_BK_K} docs with the SMALLEST md5-prefix hash of their "
        f"id — the deterministic, engine-independent sample every "
        f"curation loop needs for eyeballing and regression-diffing a "
        f"corpus across pipeline versions (same ids in = same sample "
        f"out, no RNG state, and a grown corpus only ever swaps "
        f"members in/out by hash order — MinHash's bottom-k estimator "
        f"applied as a sampler). Scale shape: hashing is map-side; "
        f"the per-source cut is grouped_topk (partial heaps + "
        f"k-bounded merge) because source cardinality is small and "
        f"constant — a window would funnel the corpus into "
        f"\\|sources\\| hot reducers; the final rank window runs over "
        f"<= {_BK_K} x \\|sources\\| rows.",
)
def corpus_bottomk_consistent_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from change_data_capture_poc_spark.operators.topk import grouped_topk

    d = load_table(spark, sf_dir, "documents")
    h = d.select(
        "source",
        "doc_id",
        md5_prefix(F.col("doc_id")).alias("sample_hash"),
    )
    top = grouped_topk(
        h, ["source"], [("sample_hash", True), ("doc_id", True)], _BK_K
    )
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy("sample_hash", "doc_id")
    )
    return top.select(
        "source", "doc_id", "sample_hash", rk.cast("long").alias("sample_rank")
    )


# ---------------------------------------------------------------------------
# dedup_substring_removal — ExactSubstr removal semantics
# ---------------------------------------------------------------------------


@register(
    "dedup_substring_removal",
    oracle=f"""
    {_SPAN_GRAMS_SQL}
    keeper AS (
        SELECT gh, MIN(doc_id * 1000000 + pos) AS keep_key,
               COUNT(*) AS occ
        FROM g GROUP BY gh
    ),
    -- every token position covered by a NON-KEEPER duplicated gram
    drop_pos AS (
        SELECT DISTINCT g.doc_id, g.pos + o.i AS tok_pos
        FROM g
        JOIN keeper k USING (gh),
             LATERAL (SELECT unnest(range({sketch.SPAN_K})) AS i) o
        WHERE k.occ > 1
          AND g.doc_id * 1000000 + g.pos != k.keep_key
    ),
    toks AS (
        SELECT doc_id, u.tok, u.i - 1 AS tok_pos
        FROM t, LATERAL (
            SELECT unnest(w) AS tok,
                   generate_subscripts(w, 1) AS i
        ) u
    )
    SELECT toks.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(drop_pos.tok_pos) AS BIGINT) AS n_removed,
           COALESCE(array_to_string(
               list(toks.tok ORDER BY toks.tok_pos)
                   FILTER (WHERE drop_pos.tok_pos IS NULL), ' '), '')
               AS text_kept
    FROM toks
    LEFT JOIN drop_pos
      ON toks.doc_id = drop_pos.doc_id
     AND toks.tok_pos = drop_pos.tok_pos
    GROUP BY toks.doc_id
    """,
    doc=f"ExactSubstr REMOVAL (Lee et al. 2022 §4: 'remove all but one "
        f"occurrence'): a token is dropped iff some duplicated "
        f"{sketch.SPAN_K}-gram occurrence covering it is NOT that gram's "
        f"global first occurrence (min (doc_id, pos)) — the first "
        f"copy of any repeated passage survives intact, every later "
        f"copy loses exactly the repeated tokens, and unique text is "
        f"untouched. Companion to dedup_substring_suffix_runs (the "
        f"detection readout); this emits the CLEANED corpus (per-doc "
        f"kept text reassembled in position order + removal counts). "
        f"Scale shape: gram keys are md5 (text never travels to the "
        f"keeper agg); coverage expansion is a map-side K-fold "
        f"position explode; the kept-text reassembly is one "
        f"doc_id-keyed shuffle. The keeper join is AQE-decided "
        f"(gram table grows with the corpus).",
)
def dedup_substring_removal(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    k = sketch.SPAN_K
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.split("text", " ").alias("w"))
    grams = t.where(F.size("w") >= k).select(
        "doc_id", F.posexplode(span_hashes(k)).alias("pos", "gh")
    )
    # Keeper resolution as gh-keyed window functions (r14): the old
    # agg-then-self-join shape executed the gram explode + md5 pass
    # twice and shuffled the gram table twice (the suite's largest
    # shuffle); count+min over an unordered gh window compute the same
    # occ/keep_key per occurrence row in ONE pass and ONE exchange
    # (guide §2.3/§2.4). Partition-size bound: one gram hash's
    # occurrence list — the identical group the old agg built.
    wgh = Window.partitionBy("gh")
    drop_pos = (
        grams.withColumn(
            "keep_key",
            F.min(F.col("doc_id") * 1000000 + F.col("pos")).over(wgh),
        )
        .withColumn("occ", F.count(F.lit(1)).over(wgh))
        .where(
            (F.col("occ") > 1)
            & (
                F.col("doc_id") * 1000000 + F.col("pos")
                != F.col("keep_key")
            )
        )
        .select(
            "doc_id",
            F.explode(
                F.expr(f"transform(sequence(0, {k - 1}), i -> pos + i)")
            ).alias("tok_pos"),
        )
        .distinct()
    )
    toks = t.select(
        "doc_id", F.posexplode("w").alias("tok_pos", "tok")
    )
    joined = toks.join(
        drop_pos.withColumn("dropped", F.lit(True)),
        ["doc_id", "tok_pos"],
        "left",
    )
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("dropped"), 1).otherwise(0))
        .cast("long")
        .alias("n_removed"),
        F.array_join(
            F.expr(
                "transform("
                "  array_sort(collect_list(CASE WHEN dropped IS NULL THEN "
                "    struct(tok_pos, tok) END)),"
                "  s -> s.tok)"
            ),
            " ",
        ).alias("text_kept"),
    )


# ---------------------------------------------------------------------------
# corpus_filter_funnel_attribution
# ---------------------------------------------------------------------------

_FUNNEL_STAGES = ("length", "gopher_rules", "exact_dup", "classifier")


@register(
    "corpus_filter_funnel_attribution",
    oracle=f"""
    WITH {QF_RULE_SQL},
    {QCLS_SCORE_SQL},
    fp AS (SELECT doc_id, md5(text) AS fp FROM documents),
    kp AS (SELECT fp, MIN(doc_id) AS keeper FROM fp GROUP BY fp),
    st AS (
        SELECT d.doc_id,
               CASE WHEN qrule.drop_reason IN ('too_short', 'too_long')
                    THEN 1
                    WHEN qrule.drop_reason IS NOT NULL THEN 2
                    WHEN d.doc_id != kp.keeper THEN 3
                    WHEN COALESCE(qscore.score, 0.0) < 0.5 THEN 4
                    ELSE 0 END AS stage
        FROM documents d
        JOIN qrule ON d.doc_id = qrule.doc_id
        JOIN fp ON d.doc_id = fp.doc_id
        JOIN kp ON fp.fp = kp.fp
        LEFT JOIN qscore ON d.doc_id = qscore.doc_id
    ),
    c AS (SELECT stage, COUNT(*) AS n FROM st WHERE stage > 0
          GROUP BY stage),
    tot AS (SELECT COUNT(*) AS t FROM st),
    stages AS (SELECT unnest([1, 2, 3, 4]) AS stage),
    j AS (SELECT s.stage, COALESCE(c.n, 0) AS n_dropped
          FROM stages s LEFT JOIN c ON s.stage = c.stage),
    cum AS (SELECT stage, n_dropped,
                   SUM(n_dropped) OVER (ORDER BY stage) AS cumdrop
            FROM j)
    SELECT CAST(cum.stage AS INT) AS stage,
           CASE cum.stage WHEN 1 THEN 'length'
                          WHEN 2 THEN 'gopher_rules'
                          WHEN 3 THEN 'exact_dup'
                          ELSE 'classifier' END AS stage_name,
           CAST(tot.t - (cumdrop - n_dropped) AS BIGINT) AS n_in,
           CAST(n_dropped AS BIGINT) AS n_dropped,
           CAST(tot.t - cumdrop AS BIGINT) AS n_out,
           ROUND(n_dropped * 1.0
                 / NULLIF(tot.t - (cumdrop - n_dropped), 0) + 1e-9, 6)
               AS drop_rate
    FROM cum, tot
    """,
    doc="Filter-funnel attribution (the FineWeb-style ablation "
        "readout): the corpus flows through the quality gates IN "
        "ORDER — length bounds, remaining Gopher rules, exact dedup "
        "(keep-lowest doc_id per md5 fingerprint), classifier score "
        "< 0.5 — and each stage reports docs in, docs dropped AT that "
        "stage (marginal attribution: a doc counts against the FIRST "
        "gate that rejects it), docs surviving, and the stage drop "
        "rate. This is the decision table behind every pipeline-order "
        "debate (is the classifier redundant after the rules? how "
        "much does dedup cost after quality filtering?). Composes the "
        "REGISTERED text_quality_filter and "
        "text_quality_classifier_score plans plus one fingerprint "
        "keeper-agg — per-doc stage assignment is map-side after "
        "three doc_id-keyed joins; the funnel arithmetic runs on a "
        "4-row frame (global_window over stages, the documented "
        "bounded-frame case).",
)
def corpus_filter_funnel_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from change_data_capture_poc_spark.functions.windows import global_window

    # drop_reason, fp and score are all pure row-wise functions of the
    # documents row (classifier score is map-only as of r13), so the
    # old three doc_id joins against the registered plans were
    # self-joins replaying a corpus scan each; the only cross-row
    # signal is the exact-dup keeper, attached with ONE fp-partition
    # window instead of the keeper-agg + fp join (r13: 4 corpus scans
    # + 4 joins -> 1 scan + 1 window shuffle).
    d = load_table(spark, sf_dir, "documents")
    _n, score_c = qcls_cols(F.col("text"))
    st = (
        d.select(
            "doc_id",
            quality_drop_reason(F.col("text"), F.col("n_chars")).alias(
                "drop_reason"
            ),
            F.md5(F.col("text").cast("binary")).alias("fp"),
            score_c.alias("score"),
        )
        .withColumn(
            "keeper", F.min("doc_id").over(Window.partitionBy("fp"))
        )
        .select(
            "doc_id",
            F.when(
                F.col("drop_reason").isin("too_short", "too_long"), 1
            )
            .when(F.col("drop_reason").isNotNull(), 2)
            .when(F.col("doc_id") != F.col("keeper"), 3)
            .when(F.coalesce(F.col("score"), F.lit(0.0)) < 0.5, 4)
            .otherwise(0)
            .alias("stage"),
        )
    )
    # r13 negative result: pinning an unfiltered per-stage count table
    # and deriving the total from it (avoiding the second replay of the
    # funnel join tree) measured ~8% SLOWER within-session (old med
    # 1.99s vs new 2.25s at sf0.1) — the tiny cache's fill job
    # serializes ahead of both consumers, while the duplicate branch
    # runs fully pipelined. Keep the two-branch shape.
    c = st.where(F.col("stage") > 0).groupBy("stage").agg(
        F.count(F.lit(1)).alias("n")
    )
    # st is one row per document (projection + window preserve
    # cardinality), so the total is a bare count of the scan — the
    # st.agg(count) form kept the fp window in the branch because
    # stage's lineage references the keeper (verified in the captured
    # plan: the window was NOT pruned).
    tot = d.agg(F.count(F.lit(1)).alias("t"))
    stages = spark.createDataFrame(
        [(i + 1, name) for i, name in enumerate(_FUNNEL_STAGES)],
        "stage int, stage_name string",
    )
    j = stages.join(c, "stage", "left").select(
        "stage",
        "stage_name",
        F.coalesce("n", F.lit(0)).alias("n_dropped"),
    )
    w = global_window("stage").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = j.withColumn("cumdrop", F.sum("n_dropped").over(w))
    # bounded: 1-row total scalar
    return cum.crossJoin(F.broadcast(tot)).select(
        F.col("stage").cast("int").alias("stage"),
        "stage_name",
        (F.col("t") - (F.col("cumdrop") - F.col("n_dropped")))
        .cast("long")
        .alias("n_in"),
        F.col("n_dropped").cast("long").alias("n_dropped"),
        (F.col("t") - F.col("cumdrop")).cast("long").alias("n_out"),
        F.round(
            F.col("n_dropped")
            * 1.0
            / F.nullif(
                F.col("t") - (F.col("cumdrop") - F.col("n_dropped")),
                F.lit(0),
            )
            + F.lit(1e-9),
            6,
        ).alias("drop_rate"),
    )


# ---------------------------------------------------------------------------
# text_knn_similarity_graph
# ---------------------------------------------------------------------------

_KNN_K = 3      # neighbors per document
_KNN_T = 0.2    # similarity floor (graph sparsifier)


@register(
    "text_knn_similarity_graph",
    oracle=f"""
    WITH {GRAM_INTER_SQL},
    pairs AS (
        SELECT doc_id_a, doc_id_b,
               ROUND(c * 1.0 / (sa.n + sb.n - c) + 1e-9, 6) AS jaccard
        FROM inter
        JOIN sizes sa ON inter.doc_id_a = sa.doc_id
        JOIN sizes sb ON inter.doc_id_b = sb.doc_id
        WHERE c * 1.0 / (sa.n + sb.n - c) >= {_KNN_T}
    ),
    sym AS (
        SELECT doc_id_a AS doc_id, doc_id_b AS neighbor_id, jaccard
        FROM pairs
        UNION ALL
        SELECT doc_id_b, doc_id_a, jaccard FROM pairs
    )
    SELECT doc_id, neighbor_id, jaccard,
           CAST(rk AS BIGINT) AS knn_rank
    FROM (
        SELECT doc_id, neighbor_id, jaccard,
               ROW_NUMBER() OVER (
                   PARTITION BY doc_id
                   ORDER BY jaccard DESC, neighbor_id) AS rk
        FROM sym
    ) WHERE rk <= {_KNN_K}
    """,
    doc=f"Document kNN similarity graph: each doc's top-{_KNN_K} "
        f"neighbors by word-4-gram Jaccard above a {_KNN_T} floor — "
        f"the graph-construction step feeding clustering, curation "
        f"triage, and near-dup audit UIs (the dedup families emit "
        f"PAIRS above a high threshold; this emits the per-doc "
        f"neighborhood). Candidates come from the inverted-index "
        f"shared-gram join (zero-overlap pairs never materialize — "
        f"the only pairs that exist share a posting list), the pair "
        f"set is computed once with doc_id_a < doc_id_b and mirrored, "
        f"and the per-doc cut is a doc_id-keyed window — doc_id is "
        f"corpus-cardinality, so the window partitions ARE the "
        f"parallelism (contrast the constant-key ANN cuts, which "
        f"need grouped_topk). At 100 TB the candidate join rides the "
        f"same posting-list bounds as dedup_ngram_jaccard; an "
        f"LSH-banded prefilter (dedup_minhash_lsh) composes in front "
        f"when vocabularies skew. Ranks on 1e-6-rounded (+1e-9) "
        f"Jaccard with id tie-breaks.",
)
def text_knn_similarity_graph(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    g = spark_grams(d)
    # PPJoin prefix filter at t = 1/5 (the graph floor): a pair with
    # J >= t must collide within each side's first n - ceil(t*n) + 1
    # canonically-ordered grams, so only prefixes enter the inverted-
    # index join and candidates verify exactly via array_intersect —
    # the same machinery as dedup_ngram_jaccard at its 4/5 threshold
    # (a full shared-gram join + per-pair count measured ~8x slower
    # at sf0.1). ceil in exact integer arithmetic; length filter
    # t|a| <= |b| <= |a|/t in cross-multiplied integer form.
    ordered = g.select(
        "doc_id", F.array_sort("grams").alias("grams")
    ).transform(persist_once)
    n = F.size("grams")
    ceil_tn = F.expr("(size(grams) + 4) div 5")
    prefix_len = (n - ceil_tn + 1).cast("int")
    prefixes = ordered.select(
        "doc_id", n.alias("n"),
        F.explode(F.slice("grams", 1, prefix_len)).alias("gram"),
    )
    a = prefixes.alias("a")
    b = prefixes.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.n") <= 5 * F.col("a.n"))
            & (F.col("a.n") <= 5 * F.col("b.n")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .distinct()
    )
    ga, gb = pair_grams(ordered)
    c = F.size(F.array_intersect("grams_a", "grams_b"))
    j_raw = c * 1.0 / (F.size("grams_a") + F.size("grams_b") - c)
    jac = (
        cand.join(ga, "doc_id_a")
        .join(gb, "doc_id_b")
        .where(j_raw >= _KNN_T)
        .select(
            "doc_id_a",
            "doc_id_b",
            F.round(j_raw + F.lit(1e-9), 6).alias("jaccard"),
        )
        # accepted-pair table, consumed twice by the symmetrization
        # union — pin so the candidate join + exact array_intersect
        # verification runs once, not once per direction
        .transform(persist_once)
    )
    sym = jac.select(
        F.col("doc_id_a").alias("doc_id"),
        F.col("doc_id_b").alias("neighbor_id"),
        "jaccard",
    ).unionByName(
        jac.select(
            F.col("doc_id_b").alias("doc_id"),
            F.col("doc_id_a").alias("neighbor_id"),
            "jaccard",
        )
    )
    rk = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(
            F.col("jaccard").desc(), F.col("neighbor_id")
        )
    )
    return sym.withColumn("rk", rk).where(F.col("rk") <= _KNN_K).select(
        "doc_id", "neighbor_id", "jaccard",
        F.col("rk").cast("long").alias("knn_rank"),
    )
