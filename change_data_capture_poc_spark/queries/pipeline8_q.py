"""Round-8 pipeline operators.

Completes the portable-sketch family and closes the round-7 audit
edges:

- ``agg_histogram_quantile_portable`` — fixed-grid histogram quantile
  sketch: the QUANTILE companion to the portable HLL (distinct), CMS
  (frequency), and Bloom (membership) sketches. Integer bucket counts
  are the only summary state; they merge associatively by SUM (the
  distributed-sketch property, pytest-pinned) and the interpolated
  rank estimate is one division — oracle-exact on both engines.
  Stream twin: ``streaming_histogram_register_drain``.
- ``eval_ann_recall_sampled_truth`` — the recall eval gate with a
  HASH-SAMPLED truth pool: at 100 TB the exact brute-force truth scan
  is the biggest job in the pipeline; a consistent bottom-k sample of
  the corpus bounds the gate's cost while the binomial CI quantifies
  what the sampling costs in confidence. Reported next to the exact
  recall at test scale (the agreement pytest is the calibration).
- ``scd2_recompute_evolved_schema`` — SCD2 recompute over a
  TWO-GENERATION envelope log whose after-image gained a column
  mid-stream (the backfill that cdc_schema_evolution_union's readout
  exists to decide): one evolved union schema parses both
  generations, pre-migration versions carry NULL for the new
  attribute, and a change in the new column alone must open a new
  version.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from change_data_capture_poc_spark.functions.hashing import md5_mod, md5_prefix
from change_data_capture_poc_spark.operators.sketch import (
    HIST_B,
    HIST_ORACLE_CORE,
    HIST_QS,
    HIST_W,
    HLL_REGISTERS_SQL,
    hist_quantile_readout,
    hist_register_exprs,
    hll_estimate,
    hll_estimate_sql,
    hll_raw_estimate,
    hll_registers,
    hll_sums,
)
from change_data_capture_poc_spark.registry import register
from change_data_capture_poc_spark.sources.tables import load_table
from change_data_capture_poc_spark.functions.caching import persist_once
from change_data_capture_poc_spark.operators.ann import (
    SAMPLE_MOD,
    SAMPLE_Z,
    embeddings_and_queries,
    rounded_cos,
    sample_pred_duck,
    sample_pred_spark,
    sampled_recall,
    variant_tag,
)
from change_data_capture_poc_spark.operators.minhash import (
    MINHASH_K,
    MINHASH_PAIRS_SQL,
    pair_grams,
    sig_agreement_sql,
    spark_grams,
    spark_sigs,
)


# ---------------------------------------------------------------------------
# agg_histogram_quantile_portable — cross-engine-exact quantile sketch
# ---------------------------------------------------------------------------

@register(
    "agg_histogram_quantile_portable",
    oracle=f"""
    WITH {HIST_ORACLE_CORE},
    ex AS (
        SELECT event_type,
               quantile_cont(value,
                   [{", ".join(str(q) for q in HIST_QS)}]) AS xs
        FROM e GROUP BY event_type
    ),
    exu AS (
        SELECT event_type,
               generate_subscripts(xs, 1) AS qi,
               unnest(xs) AS exact_raw
        FROM ex
    ),
    exq AS (
        SELECT event_type,
               CAST([{", ".join(str(q) for q in HIST_QS)}][qi]
                    AS DOUBLE) AS q,
               exact_raw
        FROM exu
    )
    SELECT r.event_type, r.q, r.n_rows, r.n_clipped, r.registers_hit,
           r.hist_estimate,
           ROUND(x.exact_raw + 1e-9, 6) AS exact_value,
           ROUND(ABS(r.hist_estimate - x.exact_raw) + 1e-9, 6)
               AS abs_error
    FROM readout r JOIN exq x ON r.event_type = x.event_type
                             AND r.q = x.q
    """,
    doc=f"PORTABLE QUANTILE SKETCH — the quantile member completing "
        f"the portable-sketch family (HLL=distinct, CMS=frequency, "
        f"Bloom=membership): a fixed {HIST_B}-bucket width-{HIST_W} "
        f"histogram whose integer bucket counts are the entire "
        f"summary. Unlike agg_approx_sketches' engine-native t-digest "
        f"(internals legitimately differ across engines — rows-only "
        f"check), the grid is fixed a priori, bucketing is "
        f"floor(value/width) (IEEE-exact ops, no transcendental "
        f"boundary risk), and the quantile readout is integer rank "
        f"arithmetic + ONE division — so the ESTIMATE itself is "
        f"oracle-exact. Registers merge associatively by SUM "
        f"(pytest-pinned; a KLL/t-digest needs compaction logic for "
        f"the same bound — the fixed grid buys mergeability with a "
        f"known width/2 max error instead). Emits estimate vs exact "
        f"quantile_cont + abs error at q in {HIST_QS}, plus the "
        f"clip count that tells an operator the grid domain was "
        f"adequate. Scale shape: one (event_type, bucket) shuffle "
        f"over {HIST_B}-bounded keys per group; readout windows run "
        f"over <= {HIST_B}-row summary frames; the exact side is the "
        f"eval gate this sketch exists to replace at 100 TB.",
)
def agg_histogram_quantile_portable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull()
    )
    bucket, clipped = hist_register_exprs()
    marked = ev.select("event_type", "value", bucket, clipped)
    reg = marked.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    clip = marked.groupBy("event_type").agg(
        F.sum("clipped").cast("long").alias("n_clipped")
    )
    readout = hist_quantile_readout(reg, clip)

    q_lits = ", ".join(str(q) for q in HIST_QS)
    ex = ev.groupBy("event_type").agg(
        F.expr(f"percentile(value, array({q_lits}))").alias("xs")
    )
    exq = ex.select(
        "event_type", F.posexplode("xs").alias("qi", "exact_raw")
    ).select(
        "event_type",
        F.expr(f"element_at(array({q_lits}), qi + 1)").alias("q"),
        "exact_raw",
    )
    # bounded: |event_type| x |quantiles| exact grid
    return readout.join(F.broadcast(exq), ["event_type", "q"]).select(
        "event_type",
        "q",
        "n_rows",
        "n_clipped",
        "registers_hit",
        "hist_estimate",
        F.round(F.col("exact_raw") + F.lit(1e-9), 6).alias("exact_value"),
        F.round(
            F.abs(F.col("hist_estimate") - F.col("exact_raw"))
            + F.lit(1e-9),
            6,
        ).alias("abs_error"),
    )


# ---------------------------------------------------------------------------
# eval_ann_recall_sampled_truth — the recall gate with a bounded truth scan
# ---------------------------------------------------------------------------

_AST_K = 5    # recall@k (matches eval_ann_recall's _ANN_K)
_AST_NQ = 8   # query set (vec_id < 8, the repo's bounded query ids)


@register(
    "eval_ann_recall_sampled_truth",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
               FROM embeddings),
    q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv
          FROM e WHERE vec_id < {_AST_NQ}),
    s AS (SELECT * FROM e
          WHERE {sample_pred_duck('vec_id')}),
    gt AS (
        SELECT q_id, neighbor_id FROM (
            SELECT q.q_id, s.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.q_id
                       ORDER BY ROUND(list_dot_product(s.v, q.qv) /
                           (sqrt(list_dot_product(s.v, s.v)) *
                            sqrt(list_dot_product(q.qv, q.qv))) + 1e-9, 6)
                           DESC, s.vec_id) AS rk
            FROM s, q WHERE s.vec_id != q.q_id
        ) WHERE rk <= {_AST_K}
    ),
    ivf AS (
        SELECT q_id, neighbor_id FROM (
            SELECT q.q_id, s.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.q_id
                       ORDER BY ROUND(list_dot_product(s.v, q.qv) /
                           (sqrt(list_dot_product(s.v, s.v)) *
                            sqrt(list_dot_product(q.qv, q.qv))) + 1e-9, 6)
                           DESC, s.vec_id) AS rk
            FROM s JOIN q ON s.label = q.q_label AND s.vec_id != q.q_id
        ) WHERE rk <= {_AST_K}
    ),
    agg AS (
        SELECT gt.q_id,
               CAST(COUNT(*) AS BIGINT) AS n_truth,
               CAST(COUNT(ivf.neighbor_id) AS BIGINT) AS hits
        FROM gt LEFT JOIN ivf USING (q_id, neighbor_id)
        GROUP BY gt.q_id
    )
    SELECT q_id, n_truth, hits,
           ROUND(hits * 1.0 / n_truth + 1e-9, 6) AS recall_sampled,
           ROUND({SAMPLE_Z} * sqrt((hits * 1.0 / n_truth)
                     * (1 - hits * 1.0 / n_truth) / n_truth)
                 + 1e-9, 6) AS ci95_halfwidth
    FROM agg
    """,
    doc=f"ANN recall gate with a HASH-SAMPLED truth pool — the scale "
        f"path for eval_ann_recall: the exact gate brute-forces the "
        f"FULL corpus per query, which at 100 TB makes the evaluation "
        f"itself the biggest job in the pipeline. Here the truth pool "
        f"is a consistent md5 bottom-sample of the corpus (~1/"
        f"{SAMPLE_MOD} of vectors, the same deterministic-hash device "
        f"as corpus_bottomk_consistent_sample — NOT rand(): the "
        f"sample is reproducible across engines and runs), exact "
        f"top-{_AST_K} runs only within the sample, and the IVF "
        f"prediction is scored against it with a {SAMPLE_Z}-sigma "
        f"normal-approx CI half-width quantifying what sampling cost "
        f"in confidence (sqrt is IEEE correctly-rounded, so the CI is "
        f"cross-engine exact). tests/test_pipeline8.py pins that "
        f"sampled and exact recall agree at test scale — the "
        f"calibration that licenses the cheap gate. Scale shape: the "
        f"sample predicate is map-side; the truth scan touches "
        f"1/{SAMPLE_MOD} of the corpus (tune the modulus to budget); "
        f"cuts via grouped_topk, comparison join {_AST_NQ}x{_AST_K} "
        f"rows.",
)
def eval_ann_recall_sampled_truth(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    _, en, q = embeddings_and_queries(spark, sf_dir, _AST_NQ, True)
    s = en.where(sample_pred_spark("vec_id"))
    # Fused dual ranking (r14): within the sampled pool the IVF
    # candidates (label == q_label) are a subset of the exact
    # candidates — one variant-tagged scan feeds both top-ks instead of
    # two pool joins each re-evaluating the dot fold (guide §1.2/§4).
    scored = (
        # bounded: query set capped at _N_QUERIES rows
        s.join(F.broadcast(q), F.col("vec_id") != F.col("q_id")).select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            rounded_cos("nv", "qnv").alias("cos"),
            variant_tag(F.col("label") == F.col("q_label")),
        )
    )
    return sampled_recall(scored, _AST_K)


# ---------------------------------------------------------------------------
# scd2_recompute_evolved_schema — SCD2 over a two-generation envelope log
# ---------------------------------------------------------------------------

_EVO2_BASE_MS = 1_700_000_000_000  # deterministic event-time base


@register(
    "scd2_recompute_evolved_schema",
    oracle=f"""
    WITH env AS (
        SELECT CAST(json_object(
                   'op', 'u', 'lsn', event_id,
                   'after', CASE WHEN event_id % 2 = 1
                       THEN json_object('id', user_id,
                                        'v', event_id % 1000,
                                        'tier', event_type)
                       ELSE json_object('id', user_id,
                                        'v', event_id % 1000) END
               ) AS VARCHAR) AS raw
        FROM events WHERE user_id IS NOT NULL
    ),
    p AS (
        SELECT CAST(json_extract(raw, '$.after.id') AS BIGINT) AS id,
               CAST(json_extract(raw, '$.after.v') AS BIGINT) AS v,
               json_extract_string(raw, '$.after.tier') AS tier,
               json_extract_string(raw, '$.op') AS operation_type,
               CAST(json_extract(raw, '$.lsn') AS BIGINT) AS lsn
        FROM env
    ),
    ranked AS (
        SELECT id, v, tier, operation_type,
               ROW_NUMBER() OVER (PARTITION BY id ORDER BY lsn)
                   AS version_number,
               make_timestamp(({_EVO2_BASE_MS} + lsn) * 1000)
                   AS row_valid_start_timestamp,
               LEAD(make_timestamp(({_EVO2_BASE_MS} + lsn) * 1000))
                   OVER (PARTITION BY id ORDER BY lsn)
                   AS next_change_timestamp
        FROM p
    )
    SELECT id, v, tier, operation_type, version_number,
           row_valid_start_timestamp,
           COALESCE(next_change_timestamp,
                    TIMESTAMP '9999-01-01 00:00:00')
               AS row_valid_expiration_timestamp
    FROM ranked
    """,
    doc="SCD2 RECOMPUTE OVER AN EVOLVED SCHEMA — the backfill that "
        "cdc_schema_evolution_union's readout exists to decide, run "
        "end-to-end: the same two-generation envelope log (even LSNs "
        "pre-migration with no `tier` key, odd post-migration — the "
        "upstream-ALTER-TABLE case) parses through ONE evolved union "
        "schema and feeds cdc/scd2.scd2_recompute with attr_fields "
        "extended to the NEW column. Pre-migration versions carry "
        "NULL tier (from_json's missing-key contract), post-migration "
        "versions carry it, and the per-key version chain interleaves "
        "both generations under the same lsn ordering + 9999-01-01 "
        "open-row sentinel as the primary path "
        "(transform_scd2.py:41-60 parity, generalized attr schema — "
        "cdc/scd2.py:63's default list is a default, not a limit). "
        "Scale shape: parse is map-side; the one shuffle is the "
        "recompute's own partitionBy(id) window exchange.",
)
def scd2_recompute_evolved_schema(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from change_data_capture_poc_spark.cdc.scd2 import scd2_recompute

    evo_schema = (
        "struct<op string, lsn bigint, "
        "after struct<id bigint, v bigint, tier string>>"
    )
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    raw = ev.select(
        F.to_json(
            F.struct(
                F.lit("u").alias("op"),
                F.col("event_id").alias("lsn"),
                F.struct(
                    F.col("user_id").alias("id"),
                    (F.col("event_id") % 1000).alias("v"),
                    F.when(
                        F.col("event_id") % 2 == 1, F.col("event_type")
                    ).alias("tier"),
                ).alias("after"),
            )
        ).alias("raw")
    )
    cdc = raw.select(F.from_json("raw", evo_schema).alias("e")).select(
        F.col("e.after.id").alias("id"),
        F.col("e.after").alias("after_row_value"),
        F.col("e.op").alias("operation_type"),
        F.col("e.lsn").alias("log_seq_num"),
        F.timestamp_millis(
            F.lit(_EVO2_BASE_MS) + F.col("e.lsn")
        ).alias("source_timestamp"),
    )
    return scd2_recompute(cdc, attr_fields=["v", "tier"])


# ---------------------------------------------------------------------------
# agg_selfjoin_size_f2_sketch — join-size / skew moment estimation
# ---------------------------------------------------------------------------

_F2_B = 1024  # hash buckets for the sketched moment


@register(
    "agg_selfjoin_size_f2_sketch",
    oracle=f"""
    WITH e AS (SELECT user_id FROM events WHERE user_id IS NOT NULL),
    c AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
          FROM e GROUP BY user_id),
    ex AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(c * c) AS BIGINT) AS f2_exact,
               CAST(MAX(c) AS BIGINT) AS max_key_count
        FROM c
    ),
    b AS (
        SELECT ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))
                   ::BIGINT % {_F2_B} AS bucket,
               CAST(COUNT(*) AS BIGINT) AS cb
        FROM e GROUP BY bucket
    ),
    sk AS (
        SELECT CAST(SUM(cb * cb) AS BIGINT) AS f2_sketch,
               CAST(COUNT(*) AS BIGINT) AS buckets_hit
        FROM b
    )
    SELECT ex.n_rows, ex.n_keys, ex.max_key_count, ex.f2_exact,
           sk.f2_sketch, sk.buckets_hit,
           ROUND(sk.f2_sketch * 1.0 / ex.f2_exact + 1e-9, 6)
               AS overestimate_ratio
    FROM ex, sk
    """,
    doc=f"SELF-JOIN SIZE / SECOND FREQUENCY MOMENT estimation — the "
        f"skew diagnostic that DECIDES salting and skew-join hints "
        f"before the join runs: |R joinR on k| = sum over keys of "
        f"c(k)^2 (the F2 moment), the quantity that explodes when one "
        f"hot key dominates. The sketched path buckets keys by md5 "
        f"hash into {_F2_B} cells and sums squared bucket counts — a "
        f"deterministic upper bound (collisions only ADD cross terms; "
        f"never underestimates, so a salting decision made on it is "
        f"safe), computed with a {_F2_B}-bounded-key shuffle with "
        f"map-side combine instead of the full key-cardinality "
        f"shuffle. Emits sketch vs exact moment + the overestimate "
        f"ratio (collision bias calibration) and max key count (the "
        f"hot key itself). At 100 TB run ONLY the sketch; the exact "
        f"side here is the eval gate. md5 bucketing — not hash() — so "
        f"both engines bucket identically and the sketch value itself "
        f"is oracle-exact.",
)
def agg_selfjoin_size_f2_sketch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    c = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    ex = c.agg(
        F.sum("c").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("f2_exact"),
        F.max("c").cast("long").alias("max_key_count"),
    )
    bucket = md5_mod(F.col("user_id"), _F2_B)
    b = ev.select(bucket.alias("bucket")).groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("cb")
    )
    sk = b.agg(
        F.sum(F.col("cb") * F.col("cb")).cast("long").alias("f2_sketch"),
        F.count(F.lit(1)).cast("long").alias("buckets_hit"),
    )
    # bounded: 1-row sketch summary
    return ex.crossJoin(F.broadcast(sk)).select(
        "n_rows",
        "n_keys",
        "max_key_count",
        "f2_exact",
        "f2_sketch",
        "buckets_hit",
        F.round(
            F.col("f2_sketch") * 1.0 / F.col("f2_exact") + F.lit(1e-9), 6
        ).alias("overestimate_ratio"),
    )


# ---------------------------------------------------------------------------
# agg_hll_set_ops — sketch set algebra (audience overlap without raw keys)
# ---------------------------------------------------------------------------

_HSO_A = "click"
_HSO_B = "purchase"


def _hso_oracle() -> str:
    return f"""
    WITH h AS (
        SELECT event_type, user_id
        FROM events
        WHERE user_id IS NOT NULL
          AND event_type IN ('{_HSO_A}', '{_HSO_B}')
    ),
    reg AS ({HLL_REGISTERS_SQL}),
    regt AS (
        SELECT 'a' AS t, j, m FROM reg WHERE event_type = '{_HSO_A}'
        UNION ALL
        SELECT 'b' AS t, j, m FROM reg WHERE event_type = '{_HSO_B}'
        UNION ALL
        SELECT 'u' AS t, j, MAX(m) AS m FROM reg
        WHERE event_type IN ('{_HSO_A}', '{_HSO_B}') GROUP BY j
    ),
    e3 AS ({hll_estimate_sql('regt', 't')}),
    est AS (
        SELECT MAX(e) FILTER (WHERE t = 'a') AS ea,
               MAX(e) FILTER (WHERE t = 'b') AS eb,
               MAX(e) FILTER (WHERE t = 'u') AS eu
        FROM e3
    ),
    exact AS (
        SELECT CAST(COUNT(DISTINCT user_id)
                    FILTER (WHERE event_type = '{_HSO_A}')
                    AS BIGINT) AS a_exact,
               CAST(COUNT(DISTINCT user_id)
                    FILTER (WHERE event_type = '{_HSO_B}')
                    AS BIGINT) AS b_exact,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS union_exact
        FROM h
    )
    SELECT x.a_exact, x.b_exact, x.union_exact,
           x.a_exact + x.b_exact - x.union_exact AS overlap_exact,
           ROUND(e.ea + 1e-9, 6) AS hll_a,
           ROUND(e.eb + 1e-9, 6) AS hll_b,
           ROUND(e.eu + 1e-9, 6) AS hll_union,
           ROUND(GREATEST(e.ea + e.eb - e.eu, 0) + 1e-9, 6)
               AS hll_intersection,
           ROUND(GREATEST(e.ea + e.eb - e.eu, 0) / e.eu + 1e-9, 6)
               AS jaccard_est,
           ROUND((x.a_exact + x.b_exact - x.union_exact) * 1.0
                 / x.union_exact + 1e-9, 6) AS jaccard_exact
    FROM exact x, est e
    """


@register(
    "agg_hll_set_ops",
    oracle=_hso_oracle(),
    doc=f"HLL SET ALGEBRA — sketch-space union/intersection/Jaccard "
        f"(the audience-overlap readout computed WITHOUT co-shuffling "
        f"raw keys): per-set registers merge by MAX into the union "
        f"sketch (HLL's defining algebraic property — the union "
        f"estimate is EXACTLY the sketch of the union, not an "
        f"approximation of one), and intersection falls out of "
        f"inclusion-exclusion (clamped at 0 — IE can go negative at "
        f"small overlap; the clamp is applied identically on both "
        f"engines). Compares every estimate against exact distinct "
        f"counts over '{_HSO_A}' vs '{_HSO_B}' users. Built on the "
        f"same md5-prefix registers as agg_hll_portable, so all "
        f"estimates are oracle-exact. Scale shape: one (event_type, "
        f"register) shuffle bounded at 2x64 keys; union merge and all "
        f"set arithmetic run on 64-row register frames — two 100 TB "
        f"populations overlap-compared through 1 KB of state each, "
        f"the entire point of sketch set algebra.",
)
def agg_hll_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
        & F.col("event_type").isin(_HSO_A, _HSO_B)
    )
    # Persisted: rega/regb/regu each filter this <=128-row register
    # table differently, and pushdown makes their subtrees
    # non-identical — without the cache the corpus register build runs
    # three times (exchange reuse never fires on differing plans).
    reg = hll_registers(ev).transform(persist_once)
    rega = reg.where(F.col("event_type") == _HSO_A).select("j", "m")
    regb = reg.where(F.col("event_type") == _HSO_B).select("j", "m")
    regu = reg.groupBy("j").agg(F.max("m").alias("m"))

    # One tagged pass over the cached registers computes all three
    # estimates (a / b / union) — the old three _hso_estimate branches
    # each ran their own aggregation + broadcast build. Same per-tag
    # integer (hit, isum) pairs, same estimator expression.
    tagged = (
        rega.select(F.lit("a").alias("t"), "m")
        .unionByName(regb.select(F.lit("b").alias("t"), "m"))
        .unionByName(regu.select(F.lit("u").alias("t"), "m"))
    )
    s3 = hll_sums(tagged, "t")
    e_col = hll_estimate(*hll_raw_estimate(F.col("hit"), F.col("isum")))
    est = (
        s3.select("t", e_col.alias("e"))
        .groupBy()
        .agg(
            F.max(F.when(F.col("t") == "a", F.col("e"))).alias("ea"),
            F.max(F.when(F.col("t") == "b", F.col("e"))).alias("eb"),
            F.max(F.when(F.col("t") == "u", F.col("e"))).alias("eu"),
        )
    )

    exact = ev.agg(
        F.countDistinct(
            F.when(F.col("event_type") == _HSO_A, F.col("user_id"))
        ).cast("long").alias("a_exact"),
        F.countDistinct(
            F.when(F.col("event_type") == _HSO_B, F.col("user_id"))
        ).cast("long").alias("b_exact"),
        F.countDistinct("user_id").cast("long").alias("union_exact"),
    )
    inter = F.greatest(
        F.col("ea") + F.col("eb") - F.col("eu"), F.lit(0.0)
    )
    return (
        # bounded: 1-row estimate triple
        exact.crossJoin(F.broadcast(est))
        .select(
            "a_exact",
            "b_exact",
            "union_exact",
            (
                F.col("a_exact") + F.col("b_exact") - F.col("union_exact")
            ).alias("overlap_exact"),
            F.round(F.col("ea") + F.lit(1e-9), 6).alias("hll_a"),
            F.round(F.col("eb") + F.lit(1e-9), 6).alias("hll_b"),
            F.round(F.col("eu") + F.lit(1e-9), 6).alias("hll_union"),
            F.round(inter + F.lit(1e-9), 6).alias("hll_intersection"),
            F.round(inter / F.col("eu") + F.lit(1e-9), 6).alias(
                "jaccard_est"
            ),
            F.round(
                (F.col("a_exact") + F.col("b_exact") - F.col("union_exact"))
                * 1.0
                / F.col("union_exact")
                + F.lit(1e-9),
                6,
            ).alias("jaccard_exact"),
        )
    )


# ---------------------------------------------------------------------------
# corpus_data_constrained_epochs — repeat-with-diminishing-returns planner
# ---------------------------------------------------------------------------

_DCE_RSTAR = 15.39   # fitted repetition half-life (Muennighoff 2023)
_DCE_BUDGET_X = 4    # token budget = 4x the corpus (forces repeats)


@register(
    "corpus_data_constrained_epochs",
    oracle=f"""
    WITH tok AS (
        SELECT source,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS u
        FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(u) AS BIGINT) AS t,
                   CAST(COUNT(*) AS BIGINT) AS k FROM tok),
    plan AS (
        SELECT tok.source, tok.u,
               CAST(({_DCE_BUDGET_X} * tot.t) // tot.k AS BIGINT)
                   AS budget_alloc
        FROM tok, tot
    ),
    eff AS (
        SELECT source, u, budget_alloc,
               GREATEST(budget_alloc * 1.0 / u - 1, 0) AS repeats,
               u + u * {_DCE_RSTAR}
                 * (1 - exp(-GREATEST(budget_alloc * 1.0 / u - 1, 0)
                            / {_DCE_RSTAR})) AS effective
        FROM plan
    )
    SELECT source, u AS n_tokens_available, budget_alloc,
           ROUND(repeats + 1e-9, 6) AS repeats,
           ROUND(effective + 1e-9, 2) AS effective_tokens,
           ROUND(effective / budget_alloc + 1e-9, 6) AS utilization
    FROM eff
    """,
    doc=f"DATA-CONSTRAINED EPOCH PLANNER (Muennighoff et al. 2023, "
        f"'Scaling Data-Constrained Language Models'): when the token "
        f"budget exceeds the corpus, repeated epochs still help but "
        f"with exponentially diminishing returns — effective data "
        f"D'' = U + U*R*(1 - exp(-repeats/R*)) with the paper's "
        f"fitted half-life R* = {_DCE_RSTAR}. A uniform "
        f"{_DCE_BUDGET_X}x-corpus budget split across sources makes "
        f"small sources repeat hard and exposes the utilization "
        f"cliff — the readout that tells a data planner WHICH source "
        f"to go acquire more of rather than re-epoch (the allocation "
        f"complement to corpus_unimax_allocation's epoch CAP: UniMax "
        f"clips repeats, this prices them). Scale shape: one "
        f"token-count shuffle keyed by source; all planner arithmetic "
        f"on the |sources|-row frame with the grand total broadcast.",
)
def corpus_data_constrained_epochs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("u")
    )
    # totals over the |sources|-row frame via the bounded
    # single-partition window — no broadcast branch replaying the
    # per-source corpus token count
    from change_data_capture_poc_spark.functions.windows import (
        global_agg_window,
    )

    gw = global_agg_window()
    alloc = F.expr(f"CAST(({_DCE_BUDGET_X} * t) DIV k AS BIGINT)")
    plan = (
        tok.withColumn("t", F.sum("u").over(gw).cast("long"))
        .withColumn("k", F.count(F.lit(1)).over(gw))
        .select("source", "u", alloc.alias("budget_alloc"))
    )
    repeats = F.greatest(
        F.col("budget_alloc") * 1.0 / F.col("u") - 1, F.lit(0.0)
    )
    effective = F.col("u") + F.col("u") * F.lit(_DCE_RSTAR) * (
        1 - F.exp(-repeats / F.lit(_DCE_RSTAR))
    )
    return plan.select(
        "source",
        F.col("u").alias("n_tokens_available"),
        "budget_alloc",
        F.round(repeats + F.lit(1e-9), 6).alias("repeats"),
        F.round(effective + F.lit(1e-9), 2).alias("effective_tokens"),
        F.round(
            effective / F.col("budget_alloc") + F.lit(1e-9), 6
        ).alias("utilization"),
    )


# ---------------------------------------------------------------------------
# events_welch_ttest — parametric A/B comparison readout
# ---------------------------------------------------------------------------

_TT_A = "click"
_TT_B = "purchase"


@register(
    "events_welch_ttest",
    oracle=f"""
    WITH g AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               AVG(value) AS mu,
               var_samp(value) AS v
        FROM events
        WHERE value IS NOT NULL
          AND event_type IN ('{_TT_A}', '{_TT_B}')
        GROUP BY event_type
    ),
    a AS (SELECT n AS na, mu AS ma, v AS va FROM g
          WHERE event_type = '{_TT_A}'),
    b AS (SELECT n AS nb, mu AS mb, v AS vb FROM g
          WHERE event_type = '{_TT_B}')
    SELECT a.na, b.nb,
           ROUND(a.ma + 1e-9, 6) AS mean_a,
           ROUND(b.mb + 1e-9, 6) AS mean_b,
           ROUND((a.ma - b.mb)
                 / sqrt(a.va / a.na + b.vb / b.nb) + 1e-9, 6)
               AS t_stat,
           ROUND(POW(a.va / a.na + b.vb / b.nb, 2)
                 / (POW(a.va / a.na, 2) / (a.na - 1)
                    + POW(b.vb / b.nb, 2) / (b.nb - 1)) + 1e-9, 2)
               AS welch_df
    FROM a, b
    """,
    doc=f"WELCH'S T-TEST between '{_TT_A}' and '{_TT_B}' values — the "
        f"parametric A/B readout (unequal variances, Welch-"
        f"Satterthwaite degrees of freedom), the experiment-analysis "
        f"companion to events_ks_drift_halves' nonparametric drift "
        f"check: KS asks 'did the distribution move', the t-test asks "
        f"'did the MEAN move and by how many standard errors'. Two "
        f"aggregate rows (count/mean/var per arm) are the entire "
        f"reduction — one grouped-agg shuffle with map-side partials, "
        f"then 1-row arithmetic; df rounded at 2 (variance "
        f"accumulation order differs across engines in the last ulps "
        f"and df's pow-heavy formula amplifies it; t itself is "
        f"stable at 6).",
)
def events_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull()
        & F.col("event_type").isin(_TT_A, _TT_B)
    )
    # Both groups' (n, mean, variance) in ONE conditional aggregation
    # (count/avg/var_samp skip the NULLs the when() produces, so each
    # column sees exactly its group's rows) — the old per-group filter
    # branches replayed the corpus aggregation twice and cross-joined.
    va_ = F.when(F.col("event_type") == _TT_A, F.col("value"))
    vb_ = F.when(F.col("event_type") == _TT_B, F.col("value"))
    stats = ev.agg(
        F.count(va_).cast("long").alias("na"),
        F.avg(va_).alias("ma"),
        F.var_samp(va_).alias("va"),
        F.count(vb_).cast("long").alias("nb"),
        F.avg(vb_).alias("mb"),
        F.var_samp(vb_).alias("vb"),
    )
    se2 = F.col("va") / F.col("na") + F.col("vb") / F.col("nb")
    df_w = F.pow(se2, 2) / (
        F.pow(F.col("va") / F.col("na"), 2) / (F.col("na") - 1)
        + F.pow(F.col("vb") / F.col("nb"), 2) / (F.col("nb") - 1)
    )
    return stats.select(
        "na",
        "nb",
        F.round(F.col("ma") + F.lit(1e-9), 6).alias("mean_a"),
        F.round(F.col("mb") + F.lit(1e-9), 6).alias("mean_b"),
        F.round(
            (F.col("ma") - F.col("mb")) / F.sqrt(se2) + F.lit(1e-9), 6
        ).alias("t_stat"),
        F.round(df_w + F.lit(1e-9), 2).alias("welch_df"),
    )


# ---------------------------------------------------------------------------
# privacy_dp_noisy_counts — Laplace-mechanism release calibration
# ---------------------------------------------------------------------------

_DP_EPS = 0.5  # privacy budget for the released histogram


@register(
    "privacy_dp_noisy_counts",
    oracle=f"""
    WITH c AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS true_count
        FROM events GROUP BY event_type
    ),
    u AS (
        SELECT event_type, true_count,
               (('0x' || substring(md5(event_type), 1, 8))::BIGINT
                % 4294967296) / 4294967296.0 AS uni
        FROM c
    ),
    n AS (
        SELECT event_type, true_count,
               -(1.0 / {_DP_EPS})
                 * CASE WHEN uni - 0.5 < 0 THEN -1
                        WHEN uni - 0.5 > 0 THEN 1 ELSE 0 END
                 * ln(GREATEST(1 - 2 * ABS(uni - 0.5), 2.3283064365386963e-10))
                 AS noise
        FROM u
    )
    SELECT event_type, true_count,
           CAST({_DP_EPS} AS DOUBLE) AS epsilon,
           ROUND(GREATEST(true_count + noise, 0) + 1e-9, 6)
               AS noisy_count,
           ROUND(ABS(noise) + 1e-9, 6) AS abs_noise
    FROM n
    """,
    doc=f"DIFFERENTIALLY-PRIVATE count release (Laplace mechanism, "
        f"Dwork et al. 2006: count + Lap(sensitivity/epsilon) noise, "
        f"sensitivity 1 for a disjoint histogram, epsilon={_DP_EPS}) — "
        f"the privacy-layer op a shared-analytics deployment puts in "
        f"front of raw counts. Noise comes from an md5-derived uniform "
        f"through the Laplace inverse CDF, so the draw is reproducible "
        f"AND oracle-exact (a rand()-seeded draw would differ per "
        f"engine/run — the same determinism device as every portable "
        f"sketch here; production rotates the hashed seed per "
        f"release). true_count is emitted NEXT TO the noisy release "
        f"because this is the calibration gate run at test scale — "
        f"the production view exposes only (event_type, noisy_count, "
        f"epsilon). Negative releases clamp at 0 identically on both "
        f"engines. Scale shape: one grouped-count shuffle; the "
        f"mechanism is |groups|-row map-side arithmetic.",
)
def privacy_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("true_count")
    )
    uni = (
        md5_prefix(F.col("event_type")) % F.lit(4294967296)
    ) / F.lit(4294967296.0)
    centered = uni - 0.5
    # Floor the ln argument at 2^-32: a uniform landing EXACTLY on 0
    # or 1 makes it ln(0), where Spark's log returns NULL but DuckDB
    # returns -inf — the cross-engine divergence class the round-7
    # advice flagged for the margin denominator. The floor caps |noise|
    # at b*ln(2^32), which the mechanism test also pins.
    noise = (
        F.lit(-1.0 / _DP_EPS)
        * F.signum(centered)
        * F.log(
            F.greatest(
                1 - 2 * F.abs(centered), F.lit(2.3283064365386963e-10)
            )
        )
    )
    return c.select(
        "event_type",
        "true_count",
        F.lit(float(_DP_EPS)).alias("epsilon"),
        F.round(
            F.greatest(F.col("true_count") + noise, F.lit(0.0))
            + F.lit(1e-9),
            6,
        ).alias("noisy_count"),
        F.round(F.abs(noise) + F.lit(1e-9), 6).alias("abs_noise"),
    )


# ---------------------------------------------------------------------------
# privacy_k_anonymity_audit — quasi-identifier re-identification risk
# ---------------------------------------------------------------------------

_KA_K = 5  # the k in k-anonymity


@register(
    "privacy_k_anonymity_audit",
    oracle=f"""
    WITH g AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS grp
        FROM customer GROUP BY c_nationkey, c_mktsegment
    )
    SELECT CAST({_KA_K} AS BIGINT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(MIN(grp) AS BIGINT) AS min_group_size,
           CAST(SUM(CASE WHEN grp < {_KA_K} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_groups_below_k,
           CAST(SUM(CASE WHEN grp < {_KA_K} THEN grp ELSE 0 END)
                AS BIGINT) AS n_rows_at_risk,
           ROUND(SUM(CASE WHEN grp < {_KA_K} THEN grp ELSE 0 END) * 1.0
                 / SUM(grp) + 1e-9, 6) AS pct_rows_at_risk
    FROM g
    """,
    doc=f"K-ANONYMITY AUDIT (Sweeney 2002) over the quasi-identifier "
        f"pair (nation, market segment): a release is k-anonymous when "
        f"every QI combination covers >= k={_KA_K} individuals; rows "
        f"in smaller groups are re-identifiable by linkage. Emits the "
        f"group census (count, minimum size, groups below k, rows at "
        f"risk and their fraction) — the gate a privacy review runs "
        f"BEFORE publishing any per-segment cut, and the companion to "
        f"gdpr_erasure_audit (erasure = the subject's right; "
        f"k-anonymity = everyone else's). Scale shape: one QI-keyed "
        f"grouped count with map-side partials, then a 1-row fold of "
        f"the |QI-combinations|-sized census — no row-level data "
        f"leaves the first aggregation.",
)
def privacy_k_anonymity_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    g = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("grp")
    )
    below = F.when(F.col("grp") < _KA_K, F.col("grp")).otherwise(0)
    return g.agg(
        F.lit(_KA_K).cast("long").alias("k"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.min("grp").cast("long").alias("min_group_size"),
        F.sum(F.when(F.col("grp") < _KA_K, 1).otherwise(0))
        .cast("long")
        .alias("n_groups_below_k"),
        F.sum(below).cast("long").alias("n_rows_at_risk"),
        F.round(
            F.sum(below) * 1.0 / F.sum("grp") + F.lit(1e-9), 6
        ).alias("pct_rows_at_risk"),
    )


# ---------------------------------------------------------------------------
# eval_bbit_minhash_compression — 1-bit minhash vs full signature vs exact
# ---------------------------------------------------------------------------


@register(
    "eval_bbit_minhash_compression",
    oracle=f"""
    WITH {MINHASH_PAIRS_SQL},
    m AS (
        SELECT p.pa AS doc_id_a, p.pb AS doc_id_b,
               CAST({sig_agreement_sql(' % 2')} AS BIGINT) AS bits_match,
               CAST({sig_agreement_sql()} AS BIGINT) AS mins_match,
               len(list_intersect(ga.grams, gb.grams)) AS inter,
               len(ga.grams) + len(gb.grams)
                   - len(list_intersect(ga.grams, gb.grams)) AS uni
        FROM pairs p
        JOIN sig sa ON sa.doc_id = p.pa
        JOIN sig sb ON sb.doc_id = p.pb
        JOIN g ga ON ga.doc_id = p.pa
        JOIN g gb ON gb.doc_id = p.pb
    )
    SELECT doc_id_a, doc_id_b, bits_match, mins_match,
           ROUND(GREATEST(2.0 * bits_match / {MINHASH_K} - 1, 0) + 1e-9, 6)
               AS jaccard_bbit_est,
           ROUND(mins_match * 1.0 / {MINHASH_K} + 1e-9, 6) AS jaccard_minhash_est,
           ROUND(inter * 1.0 / uni + 1e-9, 6) AS jaccard_exact
    FROM m
    """,
    doc="b-BIT MINHASH compression calibration (Li & Konig 2010): keep "
        "only the LOWEST BIT of each min-hash value — a 12-permutation "
        "signature shrinks from 12x64 bits to 12 bits, the storage "
        "path that makes signature indexes viable at 100 TB — and "
        "recover Jaccard from the bit-match fraction via the b=1 "
        "unbiasing J ~ 2*match - 1 (a random non-equal minimum still "
        "matches the bit half the time; clamped at 0 identically on "
        "both engines). Reports the compressed estimate NEXT TO the "
        "full-signature estimate and the exact Jaccard per LSH "
        "candidate pair — the readout that prices the 64x compression "
        "in estimator variance before switching the index over. Scale "
        "shape: signatures/bits are map-side folds; every join is on "
        "LSH survivors only (never all pairs); integer bit arithmetic "
        "+ one division, oracle-exact.",
)
def eval_bbit_minhash_compression(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from change_data_capture_poc_spark.queries.datapipe import (
        dedup_minhash_lsh,
    )

    from change_data_capture_poc_spark.functions.caching import (
        persist_once,
    )

    k = MINHASH_K
    pairs = dedup_minhash_lsh(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    # grams feed both gram sides AND the signature fold; sigs feed both
    # signature sides — pin each so the shingle/minhash computation
    # runs once instead of four gram passes (sa/sb/ga/gb branches).
    g = spark_grams(d).transform(persist_once)
    sig = spark_sigs(g).transform(persist_once)
    sa = sig.select(
        F.col("doc_id").alias("doc_id_a"), F.col("sig").alias("sig_a")
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_id_b"), F.col("sig").alias("sig_b")
    )
    ga, gb = pair_grams(g)
    bits_match = F.aggregate(
        F.zip_with(
            "sig_a",
            "sig_b",
            lambda x, y: ((x % 2) == (y % 2)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    mins_match = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    uni = F.size("grams_a") + F.size("grams_b") - inter
    return (
        pairs.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .join(ga, "doc_id_a")
        .join(gb, "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            bits_match.alias("bits_match"),
            mins_match.alias("mins_match"),
            F.round(
                F.greatest(
                    2.0 * bits_match / k - 1, F.lit(0.0)
                )
                + F.lit(1e-9),
                6,
            ).alias("jaccard_bbit_est"),
            F.round(mins_match * 1.0 / k + F.lit(1e-9), 6).alias(
                "jaccard_minhash_est"
            ),
            F.round(inter * 1.0 / uni + F.lit(1e-9), 6).alias(
                "jaccard_exact"
            ),
        )
    )


# ---------------------------------------------------------------------------
# cdc_envelope_key_census — schema-drift discovery over a raw JSON lake
# ---------------------------------------------------------------------------


@register(
    "cdc_envelope_key_census",
    oracle="""
    WITH env AS (
        SELECT CAST(json_object(
                   'op', 'u', 'lsn', event_id,
                   'after', CASE WHEN event_id % 2 = 1
                       THEN json_object('id', user_id,
                                        'v', event_id % 1000,
                                        'tier', event_type)
                       ELSE json_object('id', user_id,
                                        'v', event_id % 1000) END
               ) AS VARCHAR) AS raw
        FROM events WHERE user_id IS NOT NULL
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM env),
    k AS (
        SELECT unnest(json_keys(raw, '$.after')) AS key_name,
               raw
        FROM env
    ),
    c AS (
        SELECT key_name,
               CAST(COUNT(*) AS BIGINT) AS n_present,
               MIN(REPLACE(json_type(raw, '$.after.' || key_name),
                           'UBIGINT', 'BIGINT')) AS json_type_min,
               MAX(REPLACE(json_type(raw, '$.after.' || key_name),
                           'UBIGINT', 'BIGINT')) AS json_type_max
        FROM k GROUP BY key_name
    )
    SELECT c.key_name, c.n_present, n.total,
           ROUND(c.n_present * 1.0 / n.total + 1e-9, 6) AS presence,
           (c.n_present = n.total) AS is_universal,
           LOWER(c.json_type_min) AS type_min,
           LOWER(c.json_type_max) AS type_max,
           (c.json_type_min = c.json_type_max) AS type_stable
    FROM c, n
    """,
    doc="ENVELOPE KEY CENSUS — schema-drift discovery over a raw JSON "
        "log (the question a CDC operator asks BEFORE declaring the "
        "evolved union schema that cdc_schema_evolution_union then "
        "parses with): for every key observed under the after-image, "
        "its presence count/fraction, whether it is universal (a "
        "missing-in-some-generations key = an upstream ALTER TABLE), "
        "and whether its JSON type is stable across all appearances "
        "(min==max over the per-row type names — a type flip is the "
        "drift that silently NULLs under a fixed from_json schema). "
        "Runs on the same two-generation synthetic envelope log as "
        "the evolution queries, so the expected readout is visible: "
        "id/v universal and stable, tier at ~50% presence. Scale "
        "shape: key explosion and typeof are map-side "
        "(json_object_keys + get_json_object); one shuffle on the "
        "tiny key namespace; the row count broadcasts.",
)
def cdc_envelope_key_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    raw = ev.select(
        F.to_json(
            F.struct(
                F.lit("u").alias("op"),
                F.col("event_id").alias("lsn"),
                F.struct(
                    F.col("user_id").alias("id"),
                    (F.col("event_id") % 1000).alias("v"),
                    F.when(
                        F.col("event_id") % 2 == 1, F.col("event_type")
                    ).alias("tier"),
                ).alias("after"),
            )
        ).alias("raw")
    )
    n = raw.agg(F.count(F.lit(1)).cast("long").alias("total"))
    # One regex pass pulls every `"key":token` pair out of the
    # after-image WITH its raw token (quotes intact) — quoting is the
    # type signal the map-parse approach destroyed, and the former
    # recovery (per-appearance locate() back into the serialized
    # image, round 8) re-scanned the document once per key; measured
    # 1.9x the round-7 cost at sf0.1. Sound for this flat to_json
    # object — no spaces around ':', and a `"key":` sequence can't
    # occur inside a string value because to_json escapes embedded
    # quotes as \".
    k = raw.select(
        F.explode(
            F.expr(
                r"""regexp_extract_all(
                    get_json_object(raw, '$.after'),
                    '"([^"]+)":("[^"]*"|[^,}]+)', 0)"""
            )
        ).alias("pair")
    ).select(
        F.regexp_extract("pair", '^"([^"]+)"', 1).alias("key_name"),
        # The raw token starts right after `"key":` — position
        # len(key)+4 (quote + key + quote + colon, 1-based).
        F.expr(
            "substr(pair, length(regexp_extract(pair,"
            " '^\"([^\"]+)\"', 1)) + 4)"
        ).alias("tok"),
    )
    # Per-appearance JSON type from the RAW token, named the way
    # DuckDB's json_type names them (lowercased for parity): a leading
    # quote is a string no matter how numeric the content looks.
    jtype = (
        F.when(F.substring("tok", 1, 1) == '"', F.lit("varchar"))
        .when(F.col("tok").rlike("^-?[0-9]+$"), F.lit("bigint"))
        .when(
            F.col("tok").rlike("^-?[0-9]*\\.[0-9]+$"), F.lit("double")
        )
        .when(F.col("tok").isin("true", "false"), F.lit("boolean"))
        .otherwise(F.lit("varchar"))
    )
    c = k.select("key_name", jtype.alias("jt")).groupBy("key_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_present"),
        F.min("jt").alias("type_min"),
        F.max("jt").alias("type_max"),
    )
    # bounded: 1-row envelope count
    return c.crossJoin(F.broadcast(n)).select(
        "key_name",
        "n_present",
        "total",
        F.round(
            F.col("n_present") * 1.0 / F.col("total") + F.lit(1e-9), 6
        ).alias("presence"),
        (F.col("n_present") == F.col("total")).alias("is_universal"),
        "type_min",
        "type_max",
        (F.col("type_min") == F.col("type_max")).alias("type_stable"),
    )


# ---------------------------------------------------------------------------
# agg_histogram_quantile_hourly — the sketch keyed by event-time window
# ---------------------------------------------------------------------------


@register(
    "agg_histogram_quantile_hourly",
    oracle=f"""
    WITH e AS (
        SELECT date_trunc('hour', ts) AS hour, value
        FROM events WHERE value IS NOT NULL
    ),
    r AS (
        SELECT hour,
               LEAST({HIST_B - 1},
                     GREATEST(0, CAST(floor(value / {HIST_W}) AS INTEGER)))
                   AS bucket
        FROM e
    ),
    reg AS (
        SELECT hour, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM r GROUP BY hour, bucket
    ),
    cum AS (
        SELECT hour, bucket, cnt,
               CAST(SUM(cnt) OVER (PARTITION BY hour
                                   ORDER BY bucket) AS BIGINT) AS cum,
               CAST(SUM(cnt) OVER (PARTITION BY hour) AS BIGINT) AS n
        FROM reg
    ),
    sel AS (
        SELECT hour, n, bucket, cnt, cum,
               CAST(ceil(0.95 * n) AS BIGINT) AS target
        FROM cum
        WHERE cum >= CAST(ceil(0.95 * n) AS BIGINT)
          AND cum - cnt < CAST(ceil(0.95 * n) AS BIGINT)
    ),
    ex AS (
        SELECT hour, quantile_cont(value, 0.95) AS exact_raw
        FROM e GROUP BY hour
    )
    SELECT s.hour, s.n AS n_rows,
           ROUND((s.bucket + (s.target - (s.cum - s.cnt)) * 1.0 / s.cnt)
                 * {HIST_W} + 1e-9, 6) AS p95_estimate,
           ROUND(x.exact_raw + 1e-9, 6) AS p95_exact,
           ROUND(ABS((s.bucket
                      + (s.target - (s.cum - s.cnt)) * 1.0 / s.cnt)
                     * {HIST_W} - x.exact_raw) + 1e-9, 6) AS abs_error
    FROM sel s JOIN ex x USING (hour)
    """,
    doc=f"TIME-WINDOWED p95 from the fixed-grid histogram sketch — the "
        f"operations-dashboard shape (per-hour latency/value p95): the "
        f"same {HIST_B}x{HIST_W} registers as "
        f"agg_histogram_quantile_portable, keyed by event-time hour "
        f"instead of category. This is what the sketch's mergeability "
        f"buys at 100 TB: per-window register tables are additive, so "
        f"late data folds in by SUM, hourly tables roll up to daily by "
        f"re-summing registers (no raw re-scan), and a streaming "
        f"deployment keeps windows x {HIST_B} counts of state — "
        f"exactly the streaming_histogram_register_drain state keyed "
        f"by window. Estimate arithmetic identical to the portable "
        f"sketch (integer ranks, one division); exact quantile_cont "
        f"sits beside it as the per-window calibration. Scale shape: "
        f"one (hour, bucket) register shuffle; readout windows run "
        f"over <= {HIST_B}-row frames per hour (hour cardinality = "
        f"parallelism, grows with time not data rate).",
)
def agg_histogram_quantile_hourly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            F.date_trunc("hour", F.col("ts")).alias("hour"), "value"
        )
    )
    bucket, _clipped = hist_register_exprs()
    reg = ev.select("hour", bucket).groupBy("hour", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    clip = ev.groupBy("hour").agg(
        F.lit(0).cast("long").alias("n_clipped")
    )
    readout = hist_quantile_readout(
        reg, clip, group_cols=("hour",), quantiles=(0.95,)
    )
    p95 = readout.select(
        "hour", "n_rows", F.col("hist_estimate").alias("p95_estimate")
    )
    ex = ev.groupBy("hour").agg(
        F.expr("percentile(value, 0.95)").alias("exact_raw")
    )
    return p95.join(ex, "hour").select(
        "hour",
        "n_rows",
        "p95_estimate",
        F.round(F.col("exact_raw") + F.lit(1e-9), 6).alias("p95_exact"),
        F.round(
            F.abs(F.col("p95_estimate") - F.col("exact_raw"))
            + F.lit(1e-9),
            6,
        ).alias("abs_error"),
    )


# ---------------------------------------------------------------------------
# events_psi_drift_halves — Population Stability Index over fixed buckets
# ---------------------------------------------------------------------------

_PSI_B = 16      # coarse drift buckets (width 64 over [0, 1024))
_PSI_W = 64.0
_PSI_FLAG = 0.2  # the industry-standard "investigate" threshold


@register(
    "events_psi_drift_halves",
    oracle=f"""
    WITH b AS (SELECT max(event_id) // 2 AS mid FROM events),
    e AS (
        SELECT event_type,
               CASE WHEN event_id <= b.mid THEN 0 ELSE 1 END AS half,
               LEAST({_PSI_B - 1},
                     GREATEST(0, CAST(floor(value / {_PSI_W})
                                      AS INTEGER))) AS bucket
        FROM events, b WHERE value IS NOT NULL
    ),
    c AS (
        SELECT event_type, bucket,
               CAST(COUNT(*) FILTER (WHERE half = 0) AS BIGINT) AS c0,
               CAST(COUNT(*) FILTER (WHERE half = 1) AS BIGINT) AS c1
        FROM e GROUP BY event_type, bucket
    ),
    grid AS (
        SELECT t.event_type, CAST(g.g AS INTEGER) AS bucket
        FROM (SELECT DISTINCT event_type FROM e) t,
             (SELECT unnest(range({_PSI_B})) AS g) g
    ),
    f AS (
        SELECT grid.event_type, grid.bucket,
               COALESCE(c.c0, 0) AS c0, COALESCE(c.c1, 0) AS c1
        FROM grid LEFT JOIN c
          ON grid.event_type = c.event_type AND grid.bucket = c.bucket
    ),
    n AS (SELECT event_type, SUM(c0) AS n0, SUM(c1) AS n1
          FROM f GROUP BY event_type),
    terms AS (
        SELECT f.event_type, n.n0, n.n1,
               ((f.c0 + 0.5) / (n.n0 + {_PSI_B} * 0.5)
                - (f.c1 + 0.5) / (n.n1 + {_PSI_B} * 0.5))
               * ln(((f.c0 + 0.5) / (n.n0 + {_PSI_B} * 0.5))
                    / ((f.c1 + 0.5) / (n.n1 + {_PSI_B} * 0.5))) AS term
        FROM f JOIN n USING (event_type)
    )
    SELECT event_type,
           CAST(MIN(n0) AS BIGINT) AS n_first,
           CAST(MIN(n1) AS BIGINT) AS n_second,
           ROUND(SUM(term) + 1e-9, 6) AS psi,
           (SUM(term) > {_PSI_FLAG}) AS drift_flag
    FROM terms GROUP BY event_type
    """,
    doc=f"POPULATION STABILITY INDEX per event_type between the first "
        f"and second half of the stream (split at max(event_id)/2, "
        f"the events_ks_drift_halves convention): PSI = sum over "
        f"fixed buckets of (p-q)*ln(p/q) with Laplace-smoothed shares "
        f"— THE standard production model-monitoring drift metric "
        f"(flag at {_PSI_FLAG}), complementing KS (sample-statistic, "
        f"needs sorted data) with a register-only formula: PSI reads "
        f"NOTHING but the same kind of fixed-grid bucket counts the "
        f"histogram-quantile sketch maintains, so a streaming "
        f"deployment gets drift monitoring from state it already "
        f"keeps ({_PSI_B} coarse buckets here; empty buckets "
        f"participate via the grid completion + smoothing, which is "
        f"what makes PSI finite when a bucket empties out). Scale "
        f"shape: one (type, bucket) register shuffle; the grid "
        f"completion joins |types| x {_PSI_B} rows; the half split "
        f"broadcasts a 1-row max.",
)
def events_psi_drift_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull()
    )
    # Integer floor division (`div`), matching the oracle's `// 2`:
    # `/ 2` goes through double and loses exactness above 2^53.
    mid = load_table(spark, sf_dir, "events").agg(
        F.expr("max(event_id) div 2").alias("mid")
    )
    bucket = F.least(
        F.lit(_PSI_B - 1),
        F.greatest(F.lit(0), F.floor(F.col("value") / _PSI_W).cast("int")),
    )
    # bounded: 1-row split scalar
    e = ev.crossJoin(F.broadcast(mid)).select(
        "event_type",
        F.when(F.col("event_id") <= F.col("mid"), 0).otherwise(1).alias(
            "half"
        ),
        bucket.alias("bucket"),
    )
    c = e.groupBy("event_type", "bucket").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
        .cast("long")
        .alias("c0"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
        .cast("long")
        .alias("c1"),
    )
    # type domain from the bounded count table, not a second corpus
    # distinct (every event lands in some bucket, so the sets agree)
    types = c.select("event_type").distinct()
    grid = types.crossJoin(
        # bounded: literal _PSI_B bucket range
        F.broadcast(
            spark.range(_PSI_B).select(F.col("id").cast("int").alias("bucket"))
        )
    )
    f = grid.join(c, ["event_type", "bucket"], "left").select(
        "event_type",
        "bucket",
        F.coalesce("c0", F.lit(0)).alias("c0"),
        F.coalesce("c1", F.lit(0)).alias("c1"),
    )
    # Per-type totals as window sums over the bounded |types| x 16
    # grid — the former groupBy+join branch replayed the whole grid
    # subtree (including the corpus bucket counts) a second time.
    w_type = Window.partitionBy("event_type")
    smooth = _PSI_B * 0.5
    p = (F.col("c0") + 0.5) / (F.col("n0") + smooth)
    q = (F.col("c1") + 0.5) / (F.col("n1") + smooth)
    terms = (
        f.withColumn("n0", F.sum("c0").over(w_type).cast("long"))
        .withColumn("n1", F.sum("c1").over(w_type).cast("long"))
        .select(
            "event_type",
            "n0",
            "n1",
            ((p - q) * F.log(p / q)).alias("term"),
        )
    )
    return terms.groupBy("event_type").agg(
        F.min("n0").alias("n_first"),
        F.min("n1").alias("n_second"),
        F.round(F.sum("term") + F.lit(1e-9), 6).alias("psi"),
        (F.sum("term") > _PSI_FLAG).alias("drift_flag"),
    )


# ---------------------------------------------------------------------------
# eval_histogram_width_sensitivity — the sketch's state-vs-accuracy curve
# ---------------------------------------------------------------------------

_QWS_WIDTHS = (2.0, 8.0, 32.0)  # grid widths over the same [0,1024) domain
_QWS_Q = 0.99                   # the tail quantile that stresses the grid


@register(
    "eval_histogram_width_sensitivity",
    oracle=f"""
    WITH e AS (
        SELECT event_type, value FROM events WHERE value IS NOT NULL
    ),
    ws AS (SELECT CAST(unnest([{", ".join(str(w) for w in _QWS_WIDTHS)}])
                       AS DOUBLE) AS w),
    r AS (
        SELECT ws.w, e.event_type,
               LEAST(CAST(1024 / ws.w AS INTEGER) - 1,
                     GREATEST(0, CAST(floor(e.value / ws.w) AS INTEGER)))
                   AS bucket
        FROM e, ws
    ),
    reg AS (
        SELECT w, event_type, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM r GROUP BY w, event_type, bucket
    ),
    cum AS (
        SELECT w, event_type, bucket, cnt,
               CAST(SUM(cnt) OVER (PARTITION BY w, event_type
                                   ORDER BY bucket) AS BIGINT) AS cum,
               CAST(SUM(cnt) OVER (PARTITION BY w, event_type)
                    AS BIGINT) AS n,
               CAST(COUNT(*) OVER (PARTITION BY w, event_type)
                    AS BIGINT) AS registers_hit
        FROM reg
    ),
    sel AS (
        SELECT w, event_type, n, registers_hit, bucket, cnt, cum,
               CAST(ceil({_QWS_Q} * n) AS BIGINT) AS target
        FROM cum
        WHERE cum >= CAST(ceil({_QWS_Q} * n) AS BIGINT)
          AND cum - cnt < CAST(ceil({_QWS_Q} * n) AS BIGINT)
    ),
    ex AS (
        SELECT event_type, quantile_cont(value, {_QWS_Q}) AS exact_raw
        FROM e GROUP BY event_type
    )
    SELECT s.w AS grid_width, s.event_type, s.registers_hit,
           ROUND((s.bucket + (s.target - (s.cum - s.cnt)) * 1.0 / s.cnt)
                 * s.w + 1e-9, 6) AS p99_estimate,
           ROUND(x.exact_raw + 1e-9, 6) AS p99_exact,
           ROUND(ABS((s.bucket
                      + (s.target - (s.cum - s.cnt)) * 1.0 / s.cnt)
                     * s.w - x.exact_raw) + 1e-9, 6) AS abs_error
    FROM sel s JOIN ex x USING (event_type)
    """,
    doc=f"GRID-WIDTH SENSITIVITY for the histogram-quantile sketch — "
        f"the tuning harness in the dedup_threshold_sensitivity mold: "
        f"p{int(_QWS_Q * 100)} estimate + abs error + live register "
        f"count at widths {_QWS_WIDTHS} over the same domain, read "
        f"off ONE pipeline (width is a broadcast column, so all "
        f"curves share the single corpus scan). This is the curve an "
        f"operator reads before sizing per-group sketch state at "
        f"100 TB: error grows ~linearly with width while state "
        f"shrinks 1/width, and the tail quantile (p99) is where a "
        f"too-coarse grid bites first. Same integer rank + one "
        f"division arithmetic as the sketch itself — oracle-exact. "
        f"Scale shape: one (width, group, bucket) register shuffle "
        f"(3x the registers, not 3x the scans); readout windows over "
        f"bounded register frames.",
)
def eval_histogram_width_sensitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull()
    )
    ws = spark.createDataFrame(
        [(w,) for w in _QWS_WIDTHS], "w double"
    )
    bucket = F.least(
        (F.lit(1024) / F.col("w")).cast("int") - 1,
        F.greatest(
            F.lit(0), F.floor(F.col("value") / F.col("w")).cast("int")
        ),
    )
    # bounded: literal width table (_QWS_WIDTHS)
    r = ev.crossJoin(F.broadcast(ws)).select(
        "w", "event_type", bucket.alias("bucket")
    )
    reg = r.groupBy("w", "event_type", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wg = Window.partitionBy("w", "event_type")
    cum = reg.select(
        "w",
        "event_type",
        "bucket",
        "cnt",
        F.sum("cnt")
        .over(wg.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("cum"),
        F.sum("cnt").over(wg).cast("long").alias("n"),
        F.count(F.lit(1)).over(wg).cast("long").alias("registers_hit"),
    )
    target = F.ceil(F.lit(_QWS_Q) * F.col("n")).cast("long")
    sel = cum.withColumn("target", target).where(
        (F.col("cum") >= F.col("target"))
        & (F.col("cum") - F.col("cnt") < F.col("target"))
    )
    est = (
        F.col("bucket")
        + (F.col("target") - (F.col("cum") - F.col("cnt")))
        * 1.0
        / F.col("cnt")
    ) * F.col("w")
    ex = ev.groupBy("event_type").agg(
        F.expr(f"percentile(value, {_QWS_Q})").alias("exact_raw")
    )
    # bounded: |event_type| percentile rows
    return sel.join(F.broadcast(ex), "event_type").select(
        F.col("w").alias("grid_width"),
        "event_type",
        "registers_hit",
        F.round(est + F.lit(1e-9), 6).alias("p99_estimate"),
        F.round(F.col("exact_raw") + F.lit(1e-9), 6).alias("p99_exact"),
        F.round(
            F.abs(est - F.col("exact_raw")) + F.lit(1e-9), 6
        ).alias("abs_error"),
    )
