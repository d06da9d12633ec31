"""Round-12 additions: URL canonicalization dedup, applied paragraph
Bloom dedup.

``dedup_url_canonical`` — the RefinedWeb/Dolma front-line dedup step
(RefinedWeb, arXiv 2306.01116 §3.1 "URL deduplication" — the FIRST
filter in the pipeline, before any content hashing; Dolma, arXiv
2402.00159, runs the same normalize-then-exact-match key). A crawl
sees the same page under many superficially different URLs — scheme
case, ``www.`` prefixes, default ports, tracking parameters, parameter
order, fragments, trailing slashes — so the dedup key is the
CANONICALIZED URL, not the raw string.

The driver testdata has no URL column, so the query first synthesizes
a deterministically messy URL per document from ``doc_id`` residues,
then canonicalizes it; both rules live in functions/url.py.

Scale shape: synthesis + canonicalization are pure JVM string/regex
map work (no UDFs); the census aggregates (canonical, raw) pairs
map-side first, so exchange 1 carries ~distinct pair rows and
exchange 2 carries one row per canonical key — both pre-aggregated,
nothing text-sized ever shuffles. At 100 TB the canonical-key space
is web-host-bounded (Heaps-like sub-linear growth), and the two-level
aggregation is the standard high-cardinality count-distinct shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from change_data_capture_poc_spark.functions.hashing import md5_bucket_sql
from change_data_capture_poc_spark.functions.url import (
    URL_CANON_CTE_SQL,
    canonical_url_col,
    raw_url_col,
)
from change_data_capture_poc_spark.operators.sketch import (
    BLOOM_H,
    BLOOM_M,
    bloom_bits,
)
from change_data_capture_poc_spark.registry import register
from change_data_capture_poc_spark.sources.tables import load_table


@register(
    "dedup_url_canonical",
    oracle=f"""
    WITH {URL_CANON_CTE_SQL},
    pair AS (
        SELECT canonical_url, raw_url,
               CAST(COUNT(*) AS BIGINT) AS n_pair,
               MIN(doc_id) AS min_doc
        FROM canon GROUP BY canonical_url, raw_url
    )
    SELECT canonical_url,
           CAST(SUM(n_pair) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_raw_variants,
           MIN(min_doc) AS keeper_doc_id
    FROM pair GROUP BY canonical_url
    ORDER BY canonical_url
    """,
    doc="URL-canonicalization dedup census — the RefinedWeb/Dolma "
        "front-line key (see module docstring): synthesize the messy "
        "crawl URL deterministically from doc_id, canonicalize "
        "(lowercase; strip scheme/www./fragment/default ports; drop "
        "utm_* params; sort surviving params; strip trailing slash), "
        "and report per canonical URL: total docs, distinct raw "
        "variants collapsed, and the keep-first doc. Map-only "
        "synth+canon; two pre-aggregated exchanges ((canon,raw) then "
        "canon) — the standard scale-safe count-distinct shape.",
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    raw = raw_url_col()
    canon = canonical_url_col(raw)
    pairs = (
        d.select(
            "doc_id",
            raw.alias("raw_url"),
            canon.alias("canonical_url"),
        )
        .groupBy("canonical_url", "raw_url")
        .agg(
            F.count(F.lit(1)).alias("n_pair"),
            F.min("doc_id").alias("min_doc"),
        )
    )
    return (
        pairs.groupBy("canonical_url")
        .agg(
            F.sum("n_pair").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_raw_variants"),
            F.min("min_doc").alias("keeper_doc_id"),
        )
        .orderBy("canonical_url")
    )


# ---------------------------------------------------------------------------
# dedup_bloom_paragraph — APPLIED paragraph-level Bloom dedup
# ---------------------------------------------------------------------------

# Paragraph unit: the same non-overlapping 8-token spans as
# text_span_dedup_c4 (the synthetic corpus has no newlines; fixed
# token blocks are its paragraph proxy, shared so the two queries
# describe the same units).
_PARA_N = 8


def _para_gh_expr() -> str:
    """md5 fingerprints of the non-overlapping paragraph spans of a
    `w` token array — only the 32-char digest ever leaves the map
    stage, never paragraph text."""
    return (
        f"transform(sequence(0, (size(w) + {_PARA_N} - 1)"
        f" DIV {_PARA_N} - 1),"
        f" p -> md5(array_join(slice(w, p * {_PARA_N} + 1, {_PARA_N}),"
        f" ' ')))"
    )


def _para_oracle() -> str:
    # The bloom_bits recipe md5('h:' || gh), salted by the unnested h.
    bit = md5_bucket_sql("b.h || ':'", "f.gh", BLOOM_M, "duck")
    return f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    spans AS (
        SELECT doc_id,
               md5(array_to_string(
                   w[s.pos * {_PARA_N} + 1 : s.pos * {_PARA_N} + {_PARA_N}],
                   ' ')) AS gh,
               doc_id * 1000000 + s.pos AS k
        FROM t, LATERAL (
            SELECT unnest(range((len(w) + {_PARA_N} - 1) // {_PARA_N}))
                   AS pos
        ) s
    ),
    first_occ AS (SELECT gh, MIN(k) AS fkey FROM spans GROUP BY gh),
    gbits AS (
        SELECT f.gh, f.fkey, {bit} AS bit
        FROM first_occ f, LATERAL (
            SELECT unnest(range({BLOOM_H})) AS h
        ) b
        GROUP BY ALL
    ),
    bit_min AS (SELECT bit, MIN(fkey) AS bmin FROM gbits GROUP BY bit),
    fp AS (
        SELECT g.gh, g.fkey, COUNT(*) AS nb,
               COUNT(*) FILTER (WHERE m.bmin < g.fkey) AS nset
        FROM gbits g JOIN bit_min m USING (bit)
        GROUP BY g.gh, g.fkey
    ),
    flags AS (
        SELECT s.doc_id,
               CASE WHEN s.k > p.fkey THEN 1 ELSE 0 END AS exact_drop,
               CASE WHEN s.k = p.fkey AND p.nset = p.nb
                    THEN 1 ELSE 0 END AS fp_drop
        FROM spans s JOIN fp p USING (gh)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_paragraphs,
           CAST(SUM(exact_drop) AS BIGINT) AS n_exact_dropped,
           CAST(SUM(fp_drop) AS BIGINT) AS n_fp_dropped,
           CAST(COUNT(*) - SUM(exact_drop) - SUM(fp_drop) AS BIGINT)
               AS n_kept
    FROM flags GROUP BY doc_id
    """


@register(
    "dedup_bloom_paragraph",
    oracle=_para_oracle(),
    doc="APPLIED paragraph-level Bloom dedup — the bridge between "
        "text_span_dedup_c4 (exact keep-first paragraph dedup) and "
        "dedup_bloom_portable (Bloom membership, graded but never "
        "applied). Dolma's production paragraph dedup streams every "
        "paragraph through a Bloom filter in document order and "
        "DROPS what the filter claims to contain — so false "
        "positives delete real text, and the per-document damage "
        "accounting is the number a deployment must sign off on. "
        "The sequential check-then-add stream is made relational "
        "and deterministic via per-bit first-set times: a paragraph "
        "occurrence at global key k (doc_id*1e6+pos) is dropped "
        "exactly-duplicate iff an earlier occurrence of its "
        "fingerprint exists (k > first_occ), and dropped as a FALSE "
        "POSITIVE iff it IS the first occurrence but every one of "
        "its distinct filter bits was first set by a strictly "
        "earlier distinct paragraph (min-setter-key < k reproduces "
        "the stream's bit state at k bit-for-bit, because "
        "check-then-add bit insertion is monotone). Per doc: "
        "paragraphs, exact drops, FP drops, survivors. Scale shape: "
        "paragraph text never shuffles (md5 keys only); the bit "
        "table is bounded at 65536 rows forever and broadcast; "
        "exchanges are the gh keeper-agg, the bounded bit-min agg, "
        "the gh-keyed flag join, and the per-doc rollup — all "
        "skinny-key, all map-side-combinable.",
)
def dedup_bloom_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    spans = (
        d.select("doc_id", F.split("text", " ").alias("w"))
        .select(
            "doc_id",
            F.posexplode(F.expr(_para_gh_expr())).alias("pos", "gh"),
        )
        .select(
            "doc_id",
            "gh",
            (F.col("doc_id") * 1000000 + F.col("pos")).alias("k"),
        )
    )
    first_occ = spans.groupBy("gh").agg(F.min("k").alias("fkey"))
    # Distinct bits per distinct paragraph (the bloom_readout
    # distinct-bit rule: colliding hash functions probe ONE bit).
    gbits = first_occ.select(
        "gh",
        "fkey",
        F.explode(
            F.array_distinct(F.array(*bloom_bits()))
        ).alias("bit"),
    )
    bit_min = gbits.groupBy("bit").agg(F.min("fkey").alias("bmin"))
    fp = (
        # bounded: Bloom bit table capped at BLOOM_M rows
        gbits.join(F.broadcast(bit_min), "bit")
        .groupBy("gh", "fkey")
        .agg(
            F.count(F.lit(1)).alias("nb"),
            F.count(F.when(F.col("bmin") < F.col("fkey"), 1)).alias(
                "nset"
            ),
        )
    )
    flags = spans.join(fp, "gh").select(
        "doc_id",
        (F.col("k") > F.col("fkey")).cast("int").alias("exact_drop"),
        (
            (F.col("k") == F.col("fkey"))
            & (F.col("nset") == F.col("nb"))
        ).cast("int").alias("fp_drop"),
    )
    return flags.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_paragraphs"),
        F.sum("exact_drop").cast("long").alias("n_exact_dropped"),
        F.sum("fp_drop").cast("long").alias("n_fp_dropped"),
        (
            F.count(F.lit(1)) - F.sum("exact_drop") - F.sum("fp_drop")
        ).cast("long").alias("n_kept"),
    )
