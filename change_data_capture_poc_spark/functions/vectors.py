"""Vector math over ``array<double>`` columns — the similarity-search
primitives (north-star ANN / embedding dedup).

Sequential-order folds: ``F.aggregate`` accumulates left-to-right, so
double-precision results are bit-compatible with DuckDB's
``list_dot_product`` path — required for oracle-exact comparisons
after rounding.

At scale these stay inside whole-stage codegen; for very high
dimensions a vectorized Pandas-UDF matmul over Arrow batches wins —
see ``queries/datapipe.py`` for where each is used.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot_product(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
        )
    )


def safe_l2_norm(a: Column) -> Column:
    """L2 norm with the zero-norm substitution (norm 0 -> 1).

    Dividing by a zero norm throws DIVIDE_BY_ZERO under Spark 4 ANSI
    mode (or yields NULL cosines, which descending grouped_topk ranks
    NULLS FIRST — diverging from the window form's DESC NULLS LAST).
    A zero vector has cosine 0 to everything by convention: substitute
    norm 1 so its dots (all 0) pass through well-defined — the same
    guard the Arrow paths apply (functions/vectors_pandas.py) and the
    SemDeDup oracle encodes as CASE WHEN sqrt(...) = 0.
    """
    n = l2_norm(a)
    return F.when(n == F.lit(0.0), F.lit(1.0)).otherwise(n)


def unit_normalize(a: Column) -> Column:
    """Unit-normalize an array<double> column, zero-norm-guarded.

    The shared normalize-once projection every ANN path puts behind a
    select boundary so each candidate pair costs one dot fold instead
    of dot + two norms.
    """
    n = safe_l2_norm(a)
    return F.transform(a, lambda x: x / n)


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot_product(a, b) / (safe_l2_norm(a) * safe_l2_norm(b))


def collect_centroids(ed, k: int, id_col: str = "vec_id",
                      vec_col: str = "e") -> list[tuple[int, list[float]]]:
    """Collect the k seed centroids (rows with id < k) driver-side.

    Bounded at k rows by construction — the one collect() the Lloyd /
    SemDeDup assignment shape is allowed. Sorted by centroid id so
    downstream first-minimum tiebreaks are deterministic.
    """
    return sorted(
        (int(r["cid"]), [float(x) for x in r["c"]])
        for r in ed.where(F.col(id_col) < k)
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("c"))
        .collect()
    )


def rounded_l2_sql(vec_sql: str, lits: list[float]) -> str:
    """Squared L2 distance from an array<double> SQL expression to a
    literal vector, 1e-6-rounded with the +1e-9 pre-round epsilon — the
    SQL text every literal-codeword argmin and lookup table is built
    from. One SQL string instead of column objects: the column form
    costs one py4j round-trip per literal, which dominates wall clock
    at 8 codewords x 64 dims. ``repr`` keeps every double exact."""
    return (
        f"round(aggregate(zip_with({vec_sql}, array("
        + ", ".join(f"CAST('{x!r}' AS DOUBLE)" for x in lits)
        + "), (x, y) -> (x - y) * (x - y)), 0D, (a, b) -> a + b)"
        + " + 1e-9, 6)"
    )


def centroid_argmin_expr(
    centroids: list[tuple[int, list[float]]], vec_col: str = "e"
) -> Column:
    """Map-side argmin over collected centroids.

    One struct(dist, cid) candidate per centroid; lexicographic
    ``least`` == ORDER BY dist, cid LIMIT 1 — the same 1e-6-rounded
    distance and lowest-cid tiebreak as the DuckDB oracles'
    ROW_NUMBER, with ZERO shuffles (the corpus never crosses the
    network to be assigned).
    """
    cands = ", ".join(
        f"struct({rounded_l2_sql(vec_col, c)} AS dist, "
        f"CAST({cid} AS BIGINT) AS cid)"
        for cid, c in centroids
    )
    return F.expr(f"least({cands})")


# Shared seed-argmin assignment CTE chain, ending at
# asgn(vec_id, cid, e): nearest of the 8 deterministic seed centroids
# (vec_id < 8), 1e-6-rounded distance, lowest-cid tiebreak. The Spark
# twin is collect_centroids + centroid_argmin_expr above —
# keep the two in lockstep (kmeans_one_iter and dedup_semantic_semdedup
# both pin this block against their oracles).
SEED_ASSIGN_SQL = """ed AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    seeds AS (SELECT vec_id AS cid, e AS c FROM ed WHERE vec_id < 8),
    d AS (
        SELECT ed.vec_id, s.cid,
               ROUND(list_reduce(list_transform(list_zip(ed.e, s.c),
                         p -> (p[1] - p[2]) * (p[1] - p[2])),
                     (a, b) -> a + b) + 1e-9, 6) AS dist
        FROM ed, seeds s
    ),
    a AS (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cid) AS rn
        FROM d
    ),
    asgn AS (SELECT a.vec_id, a.cid, ed.e
             FROM a JOIN ed USING (vec_id) WHERE rn = 1)"""


# Johnson-Lindenstrauss sign matrix (8 components x 64 dims), generated
# by a fixed LCG and inlined as literals into BOTH engines' expressions
# (shared-literal rule: no engine-specific RNG can diverge).
def _jl_signs() -> list[list[int]]:
    s, out = 12345, []
    for _ in range(8):
        row = []
        for _ in range(64):
            s = (1103515245 * s + 12345) % (1 << 31)
            row.append(1 if (s >> 16) & 1 else -1)
        out.append(row)
    return out


JL = _jl_signs()
JL_SCALE = "0.35355339059327373"  # 1/sqrt(8), shared literal
