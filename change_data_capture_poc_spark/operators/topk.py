"""Two-phase grouped top-k — the scale-safe replacement for
``row_number() OVER (PARTITION BY key ORDER BY ...) <= k`` when the
partition key has tiny, constant cardinality (ANN query ids, corpus
sources).

The window form shuffles EVERY candidate row into one reducer per
distinct key; each reducer then sorts its whole slice just to keep k
rows. With a constant key count that is a fixed number of hot tasks
sorting ~N/keys rows each while the rest of the cluster idles — the
shape flagged weak in the round-4 review. The two-phase form:

  phase 1 (map-side, zero shuffle): an Arrow ``mapInPandas`` pass folds
      each input partition batch-by-batch into a bounded per-key
      accumulator (candidate rows never exceed k per key plus one
      in-flight batch) and emits at most k rows per (key, partition) —
      a partial top-k "heap";
  phase 2 (one tiny shuffle): the <= k x n_partitions survivors per
      key merge via collect_list -> sort_array -> slice -> explode —
      a map-side-combinable aggregation over k-bounded data instead of
      a corpus-sized window sort.

The result is row-identical to the window form whenever the
(order_by + tie-break) ordering is total over the input, which every
caller guarantees with an id tie-break column. Orderings must also be
NaN-free: pandas and the JVM disagree on NaN placement. NULL order
values are allowed and sort FIRST in both directions (phase 2's struct
comparison treats a null field as smallest, and negation keeps NULL
NULL; phase 1 mirrors it with na_position='first') — note this matches
the window form's ASC NULLS FIRST default but NOT its DESC NULLS LAST
default, so callers ranking a nullable column descending must filter
or coalesce NULLs to keep window-form parity.

This is the grouped analogue of what ``orderBy().limit(k)`` already
gets from TakeOrderedAndProject for the global case.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from change_data_capture_poc_spark.functions.hashing import md5_prefix


def grouped_topk(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[tuple[str, bool]],
    k: int,
) -> DataFrame:
    """Top-k rows per distinct ``keys`` value under ``order_by``.

    ``order_by`` is [(column, ascending), ...]; descending columns must
    be numeric (they are negated to build the JVM merge sort key —
    strings cannot be negated, so rank strings ascending or pre-map
    them). The combined ordering must be total (add an id tie-break)
    and NaN-free, or partial and full top-k may disagree.

    Returns the same columns as ``df`` (column order preserved), at
    most k rows per key group, in no guaranteed row order.
    """
    keys = list(keys)
    names = df.columns
    sort_cols = [c for c, _ in order_by]
    ascending = [a for _, a in order_by]

    def partial(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        state: pd.DataFrame | None = None
        for pdf in it:
            if pdf.empty:
                continue
            cur = pdf if state is None else pd.concat(
                [state, pdf], ignore_index=True
            )
            # mergesort = stable, so equal-key rows keep concat order;
            # the caller's total ordering makes that irrelevant, but
            # stability keeps behavior deterministic regardless.
            # na_position='first': NULL order values must win the
            # partial cut exactly as they win phase 2's sort_array
            # (struct comparison treats a null field as smallest, and
            # negation keeps NULL NULL, so NULLs sort first in BOTH
            # directions there). pandas' default na_position='last'
            # would cut NULL rows in phase 1 that phase 2 ranks first,
            # making survival depend on partitioning.
            cur = cur.sort_values(
                sort_cols, ascending=ascending, kind="mergesort",
                na_position="first",
            )
            # dropna=False: NULL keys form a group exactly as they do
            # in Spark's groupBy / window partitioning and in the
            # DuckDB oracles — pandas' default would silently drop
            # those rows and break window-form equivalence.
            state = cur.groupby(keys, sort=False, dropna=False).head(k)
        if state is not None:
            yield state[names]

    part = df.mapInPandas(partial, schema=df.schema)

    ord_fields = []
    for i, (c, asc) in enumerate(order_by):
        col = F.col(c) if asc else (-F.col(c))
        ord_fields.append(col.alias(f"_o{i}"))
    row_struct = F.struct(
        *ord_fields,
        F.struct(*[F.col(n) for n in names]).alias("_p"),
    )
    return (
        part.groupBy(*keys)
        .agg(
            F.slice(F.sort_array(F.collect_list(row_struct)), 1, k).alias(
                "_top"
            )
        )
        .select(F.explode("_top").alias("_t"))
        .select("_t._p.*")
    )


def variant_topk_hits(
    scored: DataFrame,
    k: int,
    order_by: Sequence[tuple[str, bool]],
) -> DataFrame:
    """Ground-truth vs prediction hit counts from ONE fused top-k pass.

    ``scored``: (q_id, neighbor_id, <order columns>, variant) where
    ``variant`` tags each candidate row with the ranking it enters —
    0 = exact/ground truth, 1 = the index's prediction. Callers build
    the tags with one explode over the SHARED scored scan (a candidate
    eligible for both rankings emits two tagged rows), so the corpus
    scan, the candidate join and the similarity/distance fold all run
    once where the two-pass eval shape ran them once PER ranking, and
    the Arrow partial-top-k boundary (grouped_topk's mapInPandas) is
    crossed once instead of twice (r14; guide §1.2 "don't compute
    things twice", §4 fewer Python boundaries).

    Returns (q_id, n_truth, hits): n_truth = ground-truth rows kept
    (= k whenever the query has >= k candidates), hits = |gt ∩ pred|.
    Row-identical to the two-pass form's
    ``gt.join(pred, ["q_id", "neighbor_id"], "left").groupBy("q_id")``
    readout: top-k rows are distinct per (q_id, variant) by
    construction, so the pair-flag max() below is exactly the old
    left-join hit flag.
    """
    top = grouped_topk(scored, ["q_id", "variant"], order_by, k)
    return (
        top.groupBy("q_id", "neighbor_id")
        .agg(
            F.max(F.when(F.col("variant") == 0, 1).otherwise(0)).alias(
                "_gt"
            ),
            F.max(F.when(F.col("variant") == 1, 1).otherwise(0)).alias(
                "_pr"
            ),
        )
        .where(F.col("_gt") == 1)
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_truth"),
            F.sum("_pr").cast("long").alias("hits"),
        )
    )


# ---------------------------------------------------------------------------
# A-Res weighted sampling (Efraimidis & Spirakis 2006) — ranked by
# grouped_topk on the priority column
# ---------------------------------------------------------------------------

WPS_K = 20          # sample size per source stratum
WPS_U_DEN = 4294967297.0  # 2^32 + 1: md5-prefix -> u in (0, 1)


def wps_pri_sql(docs_cte: str) -> str:
    """DuckDB CTE chain computing A-Res priorities from a relation
    ``docs_cte(source, doc_id, n_chars)`` — ends in ``wps_p(source,
    doc_id, n_chars, priority)``. Shared by the standalone sampler,
    the composed weighted build, and the streaming reservoir so the
    three oracles cannot drift."""
    return f"""
    wps_h AS (
        SELECT source, doc_id, n_chars,
               (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                   ::BIGINT + 1) / {WPS_U_DEN} AS u
        FROM {docs_cte} WHERE n_chars > 0
    ),
    wps_p AS (
        SELECT source, doc_id, n_chars,
               ROUND(ln(u) / n_chars + 1e-9, 6) AS priority
        FROM wps_h
    )"""


def wps_scored(docs: DataFrame) -> DataFrame:
    """Spark twin of ``wps_pri_sql``: (source, doc_id, n_chars,
    priority) for every doc with n_chars > 0, priority u^(1/w) as
    ln(u)/n_chars from the deterministic md5-prefix uniform. Rank it
    with ``grouped_topk`` (batch) or the stateful reservoir (stream)."""
    u = (md5_prefix(F.col("doc_id")) + 1) / F.lit(WPS_U_DEN)
    return docs.where(F.col("n_chars") > 0).select(
        "source",
        "doc_id",
        "n_chars",
        F.round(F.log(u) / F.col("n_chars") + F.lit(1e-9), 6).alias(
            "priority"
        ),
    )


# The per-source A-Res sample: the oracle of the batch sampler and of
# its stream twin (the reservoir drain's readout equals it).
WPS_ORACLE = f"""
    WITH d AS (SELECT source, doc_id, n_chars FROM documents),
    {wps_pri_sql('d')}
    SELECT source, doc_id, n_chars, priority
    FROM wps_p
    QUALIFY ROW_NUMBER() OVER (PARTITION BY source
                               ORDER BY priority DESC, doc_id)
            <= {WPS_K}
    """
