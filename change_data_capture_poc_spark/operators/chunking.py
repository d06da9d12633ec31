"""Document chunking: the one home for the sliding-window chunker and
the content-defined chunker, each beside its DuckDB twin.

The sliding-window chunker cuts every document into ``CHUNK_W``-token
windows at stride ``CHUNK_S``; the chunk count is closed-form, so the
plan is one map-side sequence+explode per document. The content-defined
chunker ends a chunk at every word whose md5 prefix is divisible by
``CDC_MASK``, so boundaries depend on content alone; the engine runs the
running cut count as a map-only left fold, the oracle as a window. Both
chunkers are stateless maps, so each batch query and its stream twin
run the same plan and check against the same oracle:
``corpus_chunk_sliding_window`` and ``streaming_chunk_drain`` share
``CHUNK_ORACLE``; ``chunk_content_defined`` and
``streaming_chunk_cdc_drain`` share ``CDC_CHUNK_ORACLE``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from change_data_capture_poc_spark.functions.hashing import md5_prefix_sql
from change_data_capture_poc_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# sliding-window chunking
# ---------------------------------------------------------------------------

CHUNK_W = 32  # tokens per chunk
CHUNK_S = 24  # stride (overlap = W - S = 8)


def chunk_sliding_window(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, text) → (doc_id, chunk_idx, n_tokens, chunk_text).

    Pure map-stage transform (split → closed-form chunk count →
    sequence+explode → slice): no shuffle, no UDF, no state — which is
    also why the identical plan runs unmodified on a STREAMING frame
    (streaming_chunk_drain proves it through the streaming engine).
    """
    W, S = CHUNK_W, CHUNK_S
    d = df.select("doc_id", F.split(text_col, " ").alias("w")).select(
        "doc_id",
        "w",
        F.size("w").alias("n"),
        F.expr(f"1 + (greatest(size(w) - {W}, 0) + {S - 1}) div {S}").alias(
            "nc"
        ),
    )
    return d.select(
        "doc_id",
        "w",
        "n",
        F.explode(F.sequence(F.lit(0), F.col("nc") - 1)).alias("chunk_idx"),
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.least(F.lit(W), F.col("n") - F.col("chunk_idx") * S)
        .cast("long")
        .alias("n_tokens"),
        F.concat_ws(
            " ", F.slice(F.col("w"), F.col("chunk_idx") * S + 1, W)
        ).alias("chunk_text"),
    )


# Shared by corpus_chunk_sliding_window and streaming_chunk_drain —
# one oracle string, two execution engines (batch and streaming run
# the identical chunk_sliding_window plan).
CHUNK_ORACLE = f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    x AS (
        SELECT doc_id, w, len(w) AS n,
               1 + (greatest(len(w) - {CHUNK_W}, 0) + {CHUNK_S - 1})
                   // {CHUNK_S} AS nc
        FROM t
    ),
    y AS (
        SELECT doc_id, w, n, unnest(range(nc)) AS i FROM x
    )
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_idx,
           CAST(least({CHUNK_W}, n - i * {CHUNK_S}) AS BIGINT)
               AS n_tokens,
           array_to_string(
               list_slice(w, i * {CHUNK_S} + 1,
                          i * {CHUNK_S} + {CHUNK_W}), ' ')
               AS chunk_text
    FROM y
    """


# ---------------------------------------------------------------------------
# content-defined chunking
# ---------------------------------------------------------------------------

CDC_MASK = 8  # expected chunk length in words (cut when hash % 8 == 0)


# The oracle's chunker: explode words, number chunks by a running
# count of cut words (a window), fingerprint each chunk. Every chunk
# oracle reads its ``chunks(doc_id, source, chunk_idx, n_words,
# chunk_fp)`` CTE.
_WORD_CUT_HASH = md5_prefix_sql("word", "duck")
CDC_CHUNK_CTES = f"""
    tok AS (
        SELECT sp.doc_id, sp.source, CAST(s.i AS INT) AS word_pos,
               sp.s[s.i + 1] AS word
        FROM (SELECT doc_id, source, string_split(text, ' ') AS s
              FROM documents) sp,
             LATERAL (SELECT unnest(range(len(sp.s))) AS i) s
        WHERE sp.s[s.i + 1] != ''
    ),
    cid AS (
        SELECT doc_id, source, word_pos, word,
               CAST(COALESCE(SUM(CASE WHEN {_WORD_CUT_HASH} % {CDC_MASK} = 0
                                      THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY word_pos
                         ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0) AS INT) AS chunk_idx
        FROM tok
    ),
    chunks AS (
        SELECT doc_id, MIN(source) AS source, chunk_idx,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               md5(string_agg(word, ' ' ORDER BY word_pos)) AS chunk_fp
        FROM cid GROUP BY doc_id, chunk_idx
    )
    """.strip()

# Shared by chunk_content_defined and streaming_chunk_cdc_drain.
CDC_CHUNK_ORACLE = (
    "WITH "
    + CDC_CHUNK_CTES
    + """
    SELECT doc_id, chunk_idx, n_words, chunk_fp FROM chunks
    """
)


def cdc_chunk_fold_expr() -> str:
    """SQL fold producing the chunk-text array for one document —
    MAP-ONLY (no explode, no window, no per-doc shuffle): each
    document's words already live in its own row, so the running
    cut-count the oracle states as a window is a left fold. Cost note:
    array_append copies the growing chunk accumulator, so a c-chunk
    document pays ~c^2/2 pointer copies inside its task — measured
    fastest at every tested SF (a slice-per-chunk rewrite was 80x
    SLOWER: interpreted HOFs re-evaluate referenced sub-expressions
    per element), but for book-length documents (100k+ chunks) the
    right plan is the oracle's explode + per-doc-window form, which
    is O(n log n) and parallel WITHIN a document. The fold is also
    what the streaming twin runs: stateless, so it works unchanged
    under readStream."""
    cut = md5_prefix_sql("w", "spark") + f" % {CDC_MASK} = 0"
    empty = "CAST(array() AS ARRAY<STRING>)"
    return f"""
        aggregate(
            filter(split(text, ' '), x -> x != ''),
            named_struct('chunks', {empty}, 'cur', {empty}),
            (acc, w) -> IF({cut},
                named_struct(
                    'chunks',
                    array_append(acc.chunks,
                                 array_join(array_append(acc.cur, w), ' ')),
                    'cur', {empty}),
                named_struct('chunks', acc.chunks,
                             'cur', array_append(acc.cur, w))),
            acc -> IF(size(acc.cur) > 0,
                      array_append(acc.chunks, array_join(acc.cur, ' ')),
                      acc.chunks))
    """


def cdc_chunks_from(d: DataFrame) -> DataFrame:
    """Chunk table from a (doc_id, source, text) frame — batch or
    streaming; the plan is map-only either way (see
    cdc_chunk_fold_expr; total on empty/whitespace-only documents:
    the fold over an empty word array yields an empty chunk array and
    posexplode emits no rows)."""
    return d.select(
        "doc_id",
        "source",
        F.posexplode(F.expr(cdc_chunk_fold_expr())).alias(
            "chunk_idx", "chunk_text"
        ),
    ).select(
        "doc_id",
        "source",
        "chunk_idx",
        F.size(F.split("chunk_text", " ")).cast("long").alias("n_words"),
        F.md5("chunk_text").alias("chunk_fp"),
    )


def cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, chunk_idx, n_words, chunk_fp) — shared by the
    chunk queries and the dedup reports (source rides along, so the
    reports never join back to the corpus)."""
    return cdc_chunks_from(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "text"
        )
    )
