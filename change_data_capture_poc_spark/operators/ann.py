"""Approximate-nearest-neighbour index and recall-gate building blocks.

The one home for the ANN algorithms the queries share:

- **IVF over per-label centroids** — ``label_centroids`` builds the
  index side (one mean vector per label), ``probe_labels`` picks each
  query's top-P partitions. ``CENTROID_LIST_SQL`` is the oracles' twin
  of the centroid aggregation.
- **Product quantization with asymmetric distance (PQ/ADC, Jegou et
  al. 2011)** — ``pq_codebook`` / ``pq_code_cols`` encode each vector
  as ``PQ_M`` codes by map-side argmin over literal codewords;
  ``pq_adc_parts`` scores coded vectors through a literal lookup
  table. ``ivfpq_qprobe`` adds the coarse-partition probe of the
  composed IVF-PQ index; ``ivfpq_cte`` is its DuckDB restatement.
- **Recall gates** — every gate grades an index against exact truth
  from ONE variant-tagged candidate scan (``variant_tag`` /
  ``variant_scores`` feeding ``operators.topk.variant_topk_hits``);
  ``recall_at_k`` and ``sampled_recall`` read the hit counts out. The
  sampled gates draw their truth pool with the consistent md5 sample
  ``sample_pred_spark`` (DuckDB twin ``sample_pred_duck``).

Query modules keep their own knobs (k, query-set size, probe count)
and pass them in; the constants here are the ones several queries
share.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from change_data_capture_poc_spark.functions.hashing import md5_mod
from change_data_capture_poc_spark.functions.vectors import (
    dot_product,
    rounded_l2_sql,
    unit_normalize,
)
from change_data_capture_poc_spark.operators.topk import (
    grouped_topk,
    variant_topk_hits,
)
from change_data_capture_poc_spark.sources.tables import load_table

# Width of every ``embeddings.embedding`` vector; the engine's
# per-dimension centroid columns and the oracles' SQL lists share it.
EMBED_DIM = 64

# Per-label centroid as an inline DuckDB list constructor (one avg expr
# per dimension) — the oracle twin of ``label_centroids``.
CENTROID_LIST_SQL = (
    "[" + ", ".join(f"avg(v[{i + 1}])" for i in range(EMBED_DIM)) + "]"
)

# Multiprobe IVF gate, shared by the exact-truth and sampled-truth
# variants so both grade the same index.
MP_K = 5   # final top-k
MP_P = 2   # probed partitions per query
MP_NQ = 8  # query set size

# Sampled-truth pool.
SAMPLE_MOD = 2  # keep vec_ids whose md5 prefix is even -> ~50% sample
SAMPLE_Z = 1.96  # 95% normal-approx CI

_COS_ORDER = [("cos", False), ("neighbor_id", True)]


# ---------------------------------------------------------------------------
# Cosine inputs and the IVF centroid index
# ---------------------------------------------------------------------------


def embeddings_and_queries(
    spark: SparkSession, sf_dir: str, nq: int, with_label: bool
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(e, en, q) for a cosine ANN query.

    ``e`` = (vec_id, label, v) raw vectors; ``en`` = (vec_id, label, nv)
    unit-normalised once behind a select boundary, so each candidate
    pair costs one dot fold instead of dot + two norms; ``q`` = the
    query set ``vec_id < nq`` as (q_id, [q_label,] qnv).
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    en = e.select("vec_id", "label", unit_normalize(F.col("v")).alias("nv"))
    q_label = [F.col("label").alias("q_label")] if with_label else []
    q = en.where(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("q_id"), *q_label, F.col("nv").alias("qnv")
    )
    return e, en, q


def rounded_cos(a: str, b: str) -> Column:
    """Cosine of two unit vectors as ``round(dot(a, b) + 1e-9, 6)``.

    The float-portability rule every ANN rank follows: the engine
    computes normalize-then-dot, the DuckDB oracles dot/(norm*norm),
    and the two differ in the last ulps — an unrounded rank can flip
    at the k boundary. Ranking on the 1e-6-rounded value with an id
    tie-break makes both engines rank identically. The +1e-9 pre-round
    epsilon keeps a cosine an ulp from a 0.5e-6 boundary rounding the
    same way on both paths.
    """
    return F.round(dot_product(F.col(a), F.col(b)) + F.lit(1e-9), 6)


def label_centroids(e: DataFrame) -> DataFrame:
    """(label, cn): the unit-normalised per-label mean vector of ``e``.

    ONE map-side-partial aggregation with EMBED_DIM per-dimension avg
    columns — the oracles' ``CENTROID_LIST_SQL`` formulation. Only
    |labels| x dim partial sums cross the exchange; decomposing the
    vectors with posexplode instead shuffles n x dim scalar rows twice.
    """
    cent = e.groupBy("label").agg(
        F.array(*[F.avg(F.col("v")[i]) for i in range(EMBED_DIM)]).alias("c")
    )
    return cent.select("label", unit_normalize(F.col("c")).alias("cn"))


def probe_labels(pairs: DataFrame, p: int) -> DataFrame:
    """(q_id, label): each query's ``p`` nearest centroid partitions.

    ``pairs`` holds the candidate (q_id, qnv, label, cn) rows. They
    number |queries| x |labels|, which grows with the index, so the
    cut is grouped_topk, never a window. Ties break on label.
    """
    return grouped_topk(
        pairs.select("q_id", "label", rounded_cos("qnv", "cn").alias("cos")),
        ["q_id"],
        [("cos", False), ("label", True)],
        p,
    ).select("q_id", "label")


# ---------------------------------------------------------------------------
# Recall gates
# ---------------------------------------------------------------------------


def variant_tag(in_pred: Column) -> Column:
    """The ``variant`` explode for a cosine gate whose prediction
    ranks a subset of the exact candidates: every row enters the
    ground truth (0), rows where ``in_pred`` holds also enter the
    prediction (1). See ``operators.topk.variant_topk_hits``."""
    return F.explode(
        F.when(in_pred, F.array(F.lit(0), F.lit(1))).otherwise(
            F.array(F.lit(0))
        )
    ).alias("variant")


def variant_scores(
    pairs: DataFrame,
    metric: str,
    truth: Column,
    pred: Column,
    in_pred: Column | None = None,
) -> DataFrame:
    """(q_id, neighbor_id, <metric>, variant) for a gate whose truth and
    prediction score the SAME (q_id, vec_id) pairs under different
    measures: one scan emits a truth row (variant 0, ``truth``) and a
    prediction row (variant 1, ``pred``) per pair — the prediction row
    only where ``in_pred`` holds, when given."""
    both = F.array(
        F.struct(F.lit(0).alias("variant"), truth.alias(metric)),
        F.struct(F.lit(1).alias("variant"), pred.alias(metric)),
    )
    if in_pred is not None:
        both = F.when(in_pred, both).otherwise(
            F.array(F.struct(F.lit(0).alias("variant"), truth.alias(metric)))
        )
    return pairs.select(
        "q_id",
        F.col("vec_id").alias("neighbor_id"),
        F.explode(both).alias("vc"),
    ).select(
        "q_id",
        "neighbor_id",
        F.col(f"vc.{metric}").alias(metric),
        F.col("vc.variant").alias("variant"),
    )


def recall_at_k(scored: DataFrame, k: int, name: str) -> DataFrame:
    """(q_id, hits, <name>) of a variant-tagged cosine scan: top-k by
    (cos DESC, neighbor_id) per ranking, hits = |truth ∩ prediction|,
    recall = hits / k rounded at 1e-6."""
    return variant_topk_hits(scored, k, _COS_ORDER).select(
        "q_id",
        "hits",
        F.round(F.col("hits") * 1.0 / k + 1e-9, 6).alias(name),
    )


def sampled_recall(scored: DataFrame, k: int) -> DataFrame:
    """(q_id, n_truth, hits, recall_sampled, ci95_halfwidth) of a
    variant-tagged cosine scan over the sampled truth pool: recall is
    hits over the truth rows the pool holds, with a SAMPLE_Z-sigma
    normal-approx binomial CI half-width (sqrt is IEEE correctly
    rounded, so the CI is cross-engine exact)."""
    p = F.col("hits") * 1.0 / F.col("n_truth")
    return variant_topk_hits(scored, k, _COS_ORDER).select(
        "q_id",
        "n_truth",
        "hits",
        F.round(p + F.lit(1e-9), 6).alias("recall_sampled"),
        F.round(
            F.lit(SAMPLE_Z) * F.sqrt(p * (1 - p) / F.col("n_truth"))
            + F.lit(1e-9),
            6,
        ).alias("ci95_halfwidth"),
    )


def sample_pred_duck(col: str) -> str:
    """DuckDB twin of ``sample_pred_spark``."""
    return (
        f"('0x' || substring(md5(CAST({col} AS VARCHAR)), 1, 8))"
        f"::BIGINT % {SAMPLE_MOD} = 0"
    )


def sample_pred_spark(col: str) -> Column:
    """The consistent md5 sample predicate that draws the sampled
    gates' truth pool — deterministic, so every gate and both engines
    sample the identical pool."""
    return md5_mod(F.col(col), SAMPLE_MOD) == 0


# ---------------------------------------------------------------------------
# Product quantization + asymmetric distance, and the IVF-PQ probe
# ---------------------------------------------------------------------------

PQ_M = 4     # subspaces
PQ_SUB = 16  # dims per subspace (4 x 16 = the 64-dim embeddings)
PQ_C = 8     # codewords per subspace (= slices of vectors id < 8)
PQ_NQ = 8    # queries: vec_id in [8, 16)
PQ_K = 5     # recall@k
IVFPQ_PROBES = 2  # coarse partitions probed per query


def pq_l2_duck(a: str, b: str) -> str:
    return (
        f"ROUND(list_reduce(list_transform(list_zip({a}, {b}), "
        f"p -> (p[1] - p[2]) * (p[1] - p[2])), (x, y) -> x + y) "
        f"+ 1e-9, 6)"
    )


def rounded_l2(a: str, b: str) -> Column:
    """Exact squared L2 distance, 1e-6-rounded (+1e-9 pre-round) — the
    truth side of the PQ gates, matching ``pq_l2_duck``."""
    return F.round(
        F.aggregate(
            F.zip_with(F.col(a), F.col(b), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        + F.lit(1e-9),
        6,
    )


def pq_oracle() -> str:
    m_tbl = f"(SELECT unnest(range({PQ_M})) AS m) mm"
    sub = f"e.v[mm.m * {PQ_SUB} + 1 : mm.m * {PQ_SUB} + {PQ_SUB}]"
    return f"""
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    sub AS (SELECT e.vec_id, mm.m, {sub} AS s FROM e, {m_tbl}),
    cb AS (SELECT vec_id AS cid, m, s AS cs FROM sub
           WHERE vec_id < {PQ_C}),
    enc AS (
        SELECT vec_id, m, cid AS code FROM (
            SELECT s.vec_id, s.m, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY s.vec_id, s.m
                       ORDER BY {pq_l2_duck('s.s', 'c.cs')}, c.cid
                   ) AS rn
            FROM sub s JOIN cb c USING (m)
        ) WHERE rn = 1
    ),
    lut AS (
        SELECT s.vec_id AS q_id, s.m, c.cid,
               {pq_l2_duck('s.s', 'c.cs')} AS pdist
        FROM sub s JOIN cb c USING (m)
        WHERE s.vec_id >= {PQ_C} AND s.vec_id < {PQ_C + PQ_NQ}
    ),
    adc AS (
        SELECT l.q_id, en.vec_id AS neighbor_id,
               ROUND(SUM(l.pdist) + 1e-9, 6) AS adc_dist
        FROM enc en JOIN lut l ON en.m = l.m AND en.code = l.cid
        WHERE en.vec_id != l.q_id
        GROUP BY l.q_id, en.vec_id
    ),
    pred AS (
        SELECT q_id, neighbor_id FROM adc
        QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
                                   ORDER BY adc_dist, neighbor_id)
                <= {PQ_K}
    ),
    truth AS (
        SELECT q_id, neighbor_id FROM (
            SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {pq_l2_duck('e.v', 'q.v')}, e.vec_id
                   ) AS rn
            FROM e, e q
            WHERE q.vec_id >= {PQ_C} AND q.vec_id < {PQ_C + PQ_NQ}
              AND e.vec_id != q.vec_id
        ) WHERE rn <= {PQ_K}
    ),
    hits AS (
        SELECT t.q_id,
               CAST(COUNT(p.neighbor_id) AS BIGINT) AS n_hits
        FROM truth t LEFT JOIN pred p
            ON t.q_id = p.q_id AND t.neighbor_id = p.neighbor_id
        GROUP BY t.q_id
    )
    SELECT q_id, n_hits,
           ROUND(n_hits / {PQ_K}.0 + 1e-9, 6) AS recall
    FROM hits
    """


def pq_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )


def pq_codebook(e: DataFrame) -> list[tuple[int, list[float]]]:
    """The PQ_C codeword source vectors — bounded collect.

    cids must be EXACTLY 0..PQ_C-1: the oracle ties break on the raw
    cid and pq_adc_parts indexes its flat literal LUT by
    ``(q_idx*M + m)*C + code``, which is only a position when the ids
    are contiguous from 0. A dataset missing any of the first PQ_C
    vec_ids would otherwise surface as an opaque KeyError at
    plan-build — fail with the actual gap instead."""
    cb = sorted(
        (int(r["vec_id"]), [float(x) for x in r["v"]])
        for r in e.where(F.col("vec_id") < PQ_C).collect()
    )
    got = [cid for cid, _ in cb]
    if got != list(range(PQ_C)):
        missing = sorted(set(range(PQ_C)) - set(got))
        raise ValueError(
            f"PQ codebook needs contiguous vec_ids 0..{PQ_C - 1} "
            f"(they are both the codeword ids and the LUT positions); "
            f"embeddings table has {got}, missing {missing}"
        )
    return cb


def _pq_sub_l2(vec: list[float], m: int) -> str:
    """Rounded L2 between ``v``'s m-th subvector and ``vec``'s."""
    return rounded_l2_sql(
        f"slice(v, {m * PQ_SUB + 1}, {PQ_SUB})",
        vec[m * PQ_SUB : (m + 1) * PQ_SUB],
    )


def pq_code_cols(cb: list[tuple[int, list[float]]]) -> list[Column]:
    """Map-side PQ encoding: per-subspace argmin over literal
    codewords (zero shuffles), 1e-6-rounded dist + lowest-cid tie."""

    def code_expr(m: int) -> Column:
        cands = ", ".join(
            f"struct({_pq_sub_l2(vec, m)} AS dist, {cid} AS cid)"
            for cid, vec in cb
        )
        return F.expr(f"least({cands}).cid")

    return [code_expr(m).alias(f"code_{m}") for m in range(PQ_M)]


def pq_queries(e: DataFrame) -> DataFrame:
    return e.where(
        (F.col("vec_id") >= PQ_C) & (F.col("vec_id") < PQ_C + PQ_NQ)
    )


def pq_adc_parts(
    qe: DataFrame, cb: list[tuple[int, list[float]]]
) -> tuple[DataFrame, Column]:
    """(q_meta frame, ADC distance column) for scoring coded vectors.

    The LUT is computed IN-ENGINE (query-subvector x codeword
    distances, same rounded arithmetic as encoding), then collected —
    bounded at NQ*M*C rows by construction — and folded back in as a
    literal array indexed by (q_idx, m, code)."""
    lut_parts = [
        F.struct(
            F.lit(m).alias("m"),
            F.lit(cid).alias("cid"),
            F.expr(_pq_sub_l2(vec, m)).alias("pdist"),
        )
        for m in range(PQ_M)
        for cid, vec in cb
    ]
    lut_rows = (
        qe.select("vec_id", F.explode(F.array(*lut_parts)).alias("p"))
        .select("vec_id", "p.m", "p.cid", "p.pdist")
        .collect()
    )
    lut = {(int(r["vec_id"]), int(r["m"]), int(r["cid"])): float(r["pdist"])
           for r in lut_rows}
    q_ids = sorted({k[0] for k in lut})
    flat = [
        lut[(q, m, c)]
        for q in q_ids
        for m in range(PQ_M)
        for c in range(PQ_C)
    ]
    lut_sql = "array(" + ", ".join(
        f"CAST('{x!r}' AS DOUBLE)" for x in flat
    ) + ")"
    q_meta = qe.sparkSession.createDataFrame(
        [(q, i) for i, q in enumerate(q_ids)], "q_id bigint, q_idx int"
    )
    adc = F.expr(
        "round("
        + " + ".join(
            f"element_at({lut_sql}, (q_idx * {PQ_M} + {m}) * {PQ_C} "
            f"+ code_{m} + 1)"
            for m in range(PQ_M)
        )
        + " + 1e-9, 6)"
    )
    return q_meta, adc


def ivfpq_qprobe(
    qe: DataFrame, cents: list[tuple[int, list[float]]]
) -> DataFrame:
    """Probe set: top-IVFPQ_PROBES nearest coarse centroids per query
    — ranked over an NQ x C frame (bounded by construction). Shared by
    the composed recall query and the serve-from-index paths (where
    ``qe`` comes from the persisted request batch)."""
    from pyspark.sql import Window

    cand_structs = ", ".join(
        f"struct({rounded_l2_sql('v', cv)} AS dist, "
        f"CAST({ccid} AS BIGINT) AS ccid)"
        for ccid, cv in cents
    )
    wq = Window.partitionBy("q_id").orderBy("dist", "ccid")
    return (
        qe.select(
            F.col("vec_id").alias("q_id"),
            F.explode(F.expr(f"array({cand_structs})")).alias("dc"),
        )
        .select("q_id", F.col("dc.dist").alias("dist"),
                F.col("dc.ccid").alias("ccid"))
        .withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= IVFPQ_PROBES)
        .select("q_id", "ccid")
    )


def ivfpq_cte() -> str:
    """Shared WITH-prefix through the ADC scores — reused by the
    composed recall oracle (tail: pred/truth/hits) and the index
    build/serve oracles (tails: the persisted code table / the ranked
    serving answer)."""
    m_tbl = f"(SELECT unnest(range({PQ_M})) AS m) mm"
    sub = f"e.v[mm.m * {PQ_SUB} + 1 : mm.m * {PQ_SUB} + {PQ_SUB}]"
    cl2 = pq_l2_duck("x.v", "c.cv")
    return f"""
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    sub AS (SELECT e.vec_id, mm.m, {sub} AS s FROM e, {m_tbl}),
    cb AS (SELECT vec_id AS cid, m, s AS cs FROM sub
           WHERE vec_id < {PQ_C}),
    enc AS (
        SELECT vec_id, m, cid AS code FROM (
            SELECT s.vec_id, s.m, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY s.vec_id, s.m
                       ORDER BY {pq_l2_duck('s.s', 'c.cs')}, c.cid
                   ) AS rn
            FROM sub s JOIN cb c USING (m)
        ) WHERE rn = 1
    ),
    lut AS (
        SELECT s.vec_id AS q_id, s.m, c.cid,
               {pq_l2_duck('s.s', 'c.cs')} AS pdist
        FROM sub s JOIN cb c USING (m)
        WHERE s.vec_id >= {PQ_C} AND s.vec_id < {PQ_C + PQ_NQ}
    ),
    cent AS (SELECT vec_id AS ccid, v AS cv FROM e
             WHERE vec_id < {PQ_C}),
    asgn AS (
        SELECT vec_id, ccid FROM (
            SELECT x.vec_id, c.ccid,
                   ROW_NUMBER() OVER (PARTITION BY x.vec_id
                                      ORDER BY {cl2}, c.ccid) AS rn
            FROM e x, cent c
        ) WHERE rn = 1
    ),
    qprobe AS (
        SELECT q_id, ccid FROM (
            SELECT x.vec_id AS q_id, c.ccid,
                   ROW_NUMBER() OVER (PARTITION BY x.vec_id
                                      ORDER BY {cl2}, c.ccid) AS rn
            FROM e x, cent c
            WHERE x.vec_id >= {PQ_C} AND x.vec_id < {PQ_C + PQ_NQ}
        ) WHERE rn <= {IVFPQ_PROBES}
    ),
    cand AS (
        SELECT p.q_id, a.vec_id AS neighbor_id
        FROM qprobe p JOIN asgn a ON a.ccid = p.ccid
        WHERE a.vec_id != p.q_id
    ),
    adc AS (
        SELECT c.q_id, c.neighbor_id,
               ROUND(SUM(l.pdist) + 1e-9, 6) AS adc_dist
        FROM cand c
        JOIN enc en ON en.vec_id = c.neighbor_id
        JOIN lut l ON l.q_id = c.q_id AND en.m = l.m AND en.code = l.cid
        GROUP BY c.q_id, c.neighbor_id
    )"""


def ivfpq_oracle() -> str:
    return ivfpq_cte() + f""",
    nc AS (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_candidates
           FROM cand GROUP BY q_id),
    pred AS (
        SELECT q_id, neighbor_id FROM adc
        QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
                                   ORDER BY adc_dist, neighbor_id)
                <= {PQ_K}
    ),
    truth AS (
        SELECT q_id, neighbor_id FROM (
            SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {pq_l2_duck('e.v', 'q.v')}, e.vec_id
                   ) AS rn
            FROM e, e q
            WHERE q.vec_id >= {PQ_C} AND q.vec_id < {PQ_C + PQ_NQ}
              AND e.vec_id != q.vec_id
        ) WHERE rn <= {PQ_K}
    ),
    hits AS (
        SELECT t.q_id, CAST(COUNT(p.neighbor_id) AS BIGINT) AS n_hits
        FROM truth t LEFT JOIN pred p
            ON t.q_id = p.q_id AND t.neighbor_id = p.neighbor_id
        GROUP BY t.q_id
    )
    SELECT h.q_id, nc.n_candidates, h.n_hits,
           ROUND(h.n_hits / {PQ_K}.0 + 1e-9, 6) AS recall
    FROM hits h JOIN nc USING (q_id)
    """
