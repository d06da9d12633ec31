"""Document quality scoring: the Gopher heuristic rules and the
hashing-trick classifier, each beside its DuckDB twin.

Both are pure row-wise Column expressions over the text, so a
composing query (the quality filter, the datacard, the filter funnel,
the calibration readout) computes them inline on its own scan. The
SQL twins are CTE chains ending at ``qrule(doc_id, drop_reason)`` and
``qscore(doc_id, n_tokens, score)``; a threshold or weight change must
hit every oracle that starts from them at once.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from change_data_capture_poc_spark.functions.hashing import md5_mod

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")
STOPWORDS_SQL = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"

# ---------------------------------------------------------------------------
# Gopher rules
# ---------------------------------------------------------------------------

# Shared Gopher-rule CTE chain, ending at qrule(doc_id, drop_reason)
# where drop_reason IS NULL == keep. Used by both text_quality_filter
# and eval_quality_score_calibration — a threshold change must hit
# both oracles at once.
QF_RULE_SQL = f"""qf_t AS (
        SELECT doc_id, n_chars, string_split(text, ' ') AS w
        FROM documents
    ),
    qf_m AS (
        SELECT doc_id, n_chars,
               len(w) AS n_words,
               list_aggregate(list_transform(w, x -> len(x)), 'sum')
                   AS sum_wlen,
               len(list_filter(w, x -> regexp_matches(x, '^[A-Za-z]+$')))
                   AS n_alpha,
               len(list_intersect(w, {STOPWORDS_SQL})) > 0 AS has_stop
        FROM qf_t
    ),
    qrule AS (
        SELECT doc_id,
               CASE WHEN n_chars < 50 THEN 'too_short'
                    WHEN n_chars > 10000 THEN 'too_long'
                    WHEN sum_wlen < 2 * n_words THEN 'short_words'
                    WHEN sum_wlen > 12 * n_words THEN 'long_words'
                    WHEN 5 * n_alpha < 3 * n_words THEN 'low_alpha'
                    WHEN NOT has_stop THEN 'no_stopword'
               END AS drop_reason
        FROM qf_m
    )"""


def quality_drop_reason(text, n_chars):
    """The Gopher-rule drop reason (NULL == keep) as a pure row-wise
    Column over (text, n_chars) — exposed so composing queries (the
    datacard, the filter funnel, the calibration readout) can compute
    it inline on an existing scan instead of joining the registered
    plan's frame back on doc_id (r13: each such join replayed a full
    corpus scan). Codegen's subexpression elimination shares the one
    split() across the rule signals, exactly as the old projection
    boundary did."""
    w = F.split(text, " ")
    n_words = F.size(w)
    sum_wlen = F.aggregate(
        F.transform(w, lambda x: F.length(x)),
        F.lit(0),
        lambda a, b: a + b,
    )
    n_alpha = F.size(F.filter(w, lambda x: x.rlike("^[A-Za-z]+$")))
    has_stop = F.arrays_overlap(
        w, F.array(*[F.lit(s) for s in STOPWORDS])
    )
    return (
        F.when(n_chars < 50, "too_short")
        .when(n_chars > 10000, "too_long")
        .when(sum_wlen < 2 * n_words, "short_words")
        .when(sum_wlen > 12 * n_words, "long_words")
        .when(5 * n_alpha < 3 * n_words, "low_alpha")
        .when(~has_stop, "no_stopword")
    )


# ---------------------------------------------------------------------------
# Hashing-trick classifier
# ---------------------------------------------------------------------------

QCLS_BUCKETS = 64

# Shared classifier-score CTE chain, ending at
# qscore(doc_id, n_tokens, score): hashing-trick features, mean bucket
# weight through a sigmoid, 1e-6-rounded. Used by both
# text_quality_classifier_score and eval_quality_score_calibration —
# a weight/bucket change must hit both oracles at once.
QCLS_SCORE_SQL = f"""tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    fh AS (SELECT doc_id,
                  ('0x' || substring(md5(tok), 1, 8))::BIGINT
                      % {QCLS_BUCKETS} AS b
           FROM tok),
    wtab AS (SELECT range AS b, ((range * 37 + 11) % 21 - 10) / 10.0 AS wt
             FROM range({QCLS_BUCKETS})),
    qscore AS (SELECT doc_id, COUNT(*) AS n_tokens,
                      ROUND(1.0 / (1.0 + exp(-AVG(wt))) + 1e-9, 6) AS score
               FROM fh JOIN wtab USING (b) GROUP BY doc_id)"""


def qcls_cols(text):
    """(n_tokens, quality_score) as pure row-wise Columns over a text
    column. The hashing-trick feature weight is a pure per-token
    function (md5 mod buckets -> linear-congruential weight), so the
    mean-weight score is a higher-order fold over the token array —
    MAP-ONLY: no explode, no weight-table join, no per-doc agg shuffle
    (r13). The fold adds weights in token order, the same order one
    doc's exploded rows reached the old hash-agg in (they never
    crossed a partition boundary), so the double sum is bit-identical
    to the old avg()."""
    toks = F.split(text, " ")

    def wt(t):
        b = md5_mod(t, QCLS_BUCKETS)
        return ((b * 37 + 11) % 21 - 10) / 10.0

    n = F.size(toks)
    m = (
        F.aggregate(
            F.transform(toks, lambda t: wt(t)),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        / n
    )
    score = F.round(1.0 / (1.0 + F.exp(-m)) + F.lit(1e-9), 6)
    return n.cast("long"), score
