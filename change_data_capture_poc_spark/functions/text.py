"""Text primitives: tokenization and shingling (north-star text
analysis / dedup).

PERFORMANCE RULE (measured 10x at sf0.1): never inline ``F.split``
inside a lambda that references the tokens more than once — each
reference re-evaluates the split per element. ``with_token_column``
materializes the token array behind a projection boundary; every
multi-use consumer should start from it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Word / number / single punctuation — the BPE-ish token classes.
BPE_ISH_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokenize_ws(text: Column) -> Column:
    """Single-space tokens — deliberately ``split(text, ' ')``, NOT a
    ``\\s+`` regex: every DuckDB oracle replays tokenization as
    ``string_split(text, ' ')``, and the two must stay bit-identical
    (the testdata generator emits single-space-separated text, so the
    difference is moot there). Consequence on free-form text: runs of
    spaces yield empty-string tokens and tabs/newlines don't split —
    use ``tokenize_regex`` when real whitespace semantics matter.
    Materialize via ``with_token_column`` when consumed more than
    once."""
    return F.split(text, " ")


def tokenize_regex(text: Column, pattern: str = BPE_ISH_RE) -> Column:
    """Regex tokens (word/number/punct classes)."""
    return F.regexp_extract_all(text, F.lit(pattern), F.lit(0))


def with_token_column(
    df: DataFrame, text_col: str = "text", out: str = "w", keep: list[str] | None = None
) -> DataFrame:
    """Project a compute-once token-array column (see module note)."""
    keep = keep if keep is not None else df.columns
    return df.select(*keep, tokenize_ws(F.col(text_col)).alias(out))


def ngram_shingles(tokens: Column, n: int) -> Column:
    """Distinct word n-gram shingle array from a *materialized* token
    column (dedup_ngram_jaccard / dedup_minhash_lsh input).

    Documents with fewer than ``n`` tokens yield an empty array. Without
    the guard, ``F.sequence(0, size - n)`` with ``size < n`` produces a
    *descending* sequence (Spark auto-steps -1 when start > stop) whose
    negative/zero indices make ``element_at`` throw under ANSI mode.
    """
    return F.when(F.size(tokens) < n, F.array().cast("array<string>")).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(tokens) - n),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(tokens, i + j + 1) for j in range(n)]
                ),
            )
        )
    )


# BM25 (k1=1.2, b=0.75) for a fixed query term set: the DuckDB CTE
# chain ending at scored(doc_id, s), one row per (document, matched
# term). text_bm25_retrieval and the lexical side of text_rrf_fusion
# both start from it.
BM25_TERMS = ("spark", "merge", "window", "scan")
BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_TERMS)
BM25_SCORED_SQL = f"""base AS (
        SELECT doc_id, len(string_split(text, ' ')) AS dl,
               string_split(text, ' ') AS w
        FROM documents
    ),
    tok AS (
        SELECT doc_id, dl, unnest(w) AS tok FROM base
    ),
    tf AS (
        SELECT doc_id, tok, MAX(dl) AS dl, COUNT(*) AS tf
        FROM tok WHERE tok IN ({BM25_TERMS_SQL})
        GROUP BY doc_id, tok
    ),
    dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
    n AS (SELECT COUNT(*) AS n FROM documents),
    ad AS (SELECT AVG(dl) AS avgdl FROM base),
    scored AS (
        SELECT tf.doc_id,
               ln((n.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
                   * (tf.tf * 2.2)
                   / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / ad.avgdl))
                   AS s
        FROM tf JOIN dfreq USING (tok), n, ad
    )"""
