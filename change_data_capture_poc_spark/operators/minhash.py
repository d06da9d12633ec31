"""MinHash LSH: the one home for word-4-gram shingling, MinHash
signatures and LSH banding, each beside its DuckDB twin.

The base hash is the md5 prefix (``functions/hashing.py``), reduced
mod the Mersenne prime ``MH_P``; ``MINHASH_K`` linear-congruential
permutations of it give the signature, cut into ``BANDS`` bands of 3
rows. Spark and DuckDB compute every step with the same integer
arithmetic, so candidate pairs, band buckets and signature agreements
are oracle-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from change_data_capture_poc_spark.functions.hashing import md5_mod
from change_data_capture_poc_spark.functions.text import ngram_shingles

# Word 4-gram shingles: with a small vocabulary 3-gram posting lists
# are dense (every gram shared by many docs → quadratic candidate
# blowup); 4-grams keep the same planted near-dup pairs (all J >= 0.88
# empirically) while making the inverted index ~30× sparser.
NGRAM_N = 4
NGRAM_SQL = f"""
        SELECT doc_id,
               list_distinct(list_transform(range(len(w) - {NGRAM_N - 1}),
                   i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])) AS grams
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        WHERE len(w) >= {NGRAM_N}
"""


def spark_grams(d: DataFrame) -> DataFrame:
    """doc_id + distinct word-4-gram array (engine side of NGRAM_SQL).

    The token array is materialized in its own projection first: an
    inlined ``split()`` inside the gram lambda is re-evaluated for every
    ``element_at`` of every gram (4 x |grams| splits per document —
    measured 10x slower at sf0.1). A projection boundary makes it a
    compute-once column.
    """
    toks = d.select("doc_id", F.split("text", " ").alias("w")).where(
        F.size("w") >= NGRAM_N
    )
    return toks.select(
        "doc_id", ngram_shingles(F.col("w"), NGRAM_N).alias("grams")
    )


MINHASH_K = 12
BANDS = 4  # 4 bands × 3 rows
# One md5 per gram → 32-bit base hash → K linear-congruential
# permutations h_i = (a_i·x + b_i) mod p. 12× cheaper than K
# independent md5 passes, identical arithmetic in both engines.
MH_P = 2147483647
MH_AB = [(2 * i + 3, 7 * i + 1) for i in range(MINHASH_K)]


def _minhash_sql():
    hx = ("SELECT doc_id, list_transform(grams, s -> "
          "('0x' || substring(md5(s), 1, 8))::BIGINT % {p}) AS hx FROM g"
          ).format(p=MH_P)
    mins = ",\n".join(
        f"list_aggregate(list_transform(hx, x -> ({a} * x + {b}) % {MH_P}), 'min') AS m{i}"
        for i, (a, b) in enumerate(MH_AB)
    )
    return hx, mins


MH_HX_SQL, MH_MINS_SQL = _minhash_sql()


def spark_sigs(g):
    """(doc_id, grams) → (doc_id, sig array<long>[K]). Base hash per
    shingle (one md5), then ONE fold over the hash array carrying all
    K running minima (zip_with against the literal (a,b) coefficient
    array). K separate array_min(transform) columns cost 36x more at
    8x scale: interpreted HOFs have no common-subexpression
    elimination, so per-permutation passes re-walk (and re-allocate)
    the array per column."""
    hx = g.select(
        "doc_id", F.transform("grams", lambda s: md5_mod(s, MH_P)).alias("hx")
    )
    ab = F.array(
        *[
            F.struct(
                F.lit(a).cast("long").alias("a"),
                F.lit(b).cast("long").alias("b"),
            )
            for a, b in MH_AB
        ]
    )
    sig_arr = F.aggregate(
        F.col("hx"),
        F.array_repeat(F.lit(MH_P).cast("long"), MINHASH_K),
        lambda acc, x: F.zip_with(
            acc,
            ab,
            lambda m, c: F.least(
                m, (c.getField("a") * x + c.getField("b")) % MH_P
            ),
        ),
    )
    return hx.select("doc_id", sig_arr.alias("sig"))


def spark_bands(g):
    """(doc_id, grams) → exploded LSH band rows (doc_id, band_id,
    band_key) over the spark_sigs signatures. Shared by the batch
    pair join (dedup_minhash_lsh), the incremental delta-vs-index
    gate (dedup_incremental_delta_index) and the streaming band
    drain."""
    sig = spark_sigs(g)
    band_cols = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.concat_ws(
                "|", *[F.element_at("sig", b * 3 + j + 1) for j in range(3)]
            ).alias("band_key"),
        )
        for b in range(BANDS)
    ]
    return sig.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("band")
    ).select(
        "doc_id",
        F.col("band.band_id").alias("band_id"),
        F.col("band.band_key").alias("band_key"),
    )


# The band CTE chain every MinHash oracle starts from, after a gram
# CTE ``g``: base hashes ``hx``, signature columns ``m0 .. m11`` in
# ``sig``, and one (doc_id, band_id, band_key) row per band in ``bands``.
BAND_CTES_SQL = f"""hx AS ({MH_HX_SQL}),
    sig AS (SELECT doc_id, {MH_MINS_SQL} FROM hx),
    bands AS (
        SELECT doc_id, b.b AS band_id,
               CASE b.b
                   WHEN 0 THEN concat_ws('|', m0, m1, m2)
                   WHEN 1 THEN concat_ws('|', m3, m4, m5)
                   WHEN 2 THEN concat_ws('|', m6, m7, m8)
                   ELSE concat_ws('|', m9, m10, m11)
               END AS band_key
        FROM sig, (SELECT unnest(range({BANDS})) AS b) b
    )"""


def band_pairs(bands: DataFrame) -> DataFrame:
    """Distinct candidate pairs (doc_id_a < doc_id_b) sharing a band
    bucket: the band self-join, shuffled on the band key only."""
    x = bands.alias("x")
    y = bands.alias("y")
    return (
        x.join(
            y,
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_id_a"),
            F.col("y.doc_id").alias("doc_id_b"),
        )
        .distinct()
    )


# DuckDB twin of band_pairs over the grams of ``documents``: ends at
# pairs(pa, pb), with g, sig and bands still in scope.
MINHASH_PAIRS_SQL = f"""
    g AS ({NGRAM_SQL}),
    {BAND_CTES_SQL},
    pairs AS (
        SELECT DISTINCT x.doc_id AS pa, y.doc_id AS pb
        FROM bands x
        JOIN bands y ON x.band_id = y.band_id AND x.band_key = y.band_key
                    AND x.doc_id < y.doc_id
    )
"""

# The candidate pairs as an undirected dup graph, and its transitive
# closure reach(a, b) — the recursive-CTE stand-in for the engine's
# connected components.
DUP_EDGES_SQL = """edges AS (SELECT pa AS a, pb AS b FROM pairs
              UNION SELECT pb, pa FROM pairs)"""
DUP_REACH_SQL = f"""{DUP_EDGES_SQL},
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    )"""

# Exact all-pairs gram intersection: inter(doc_id_a, doc_id_b, c) with
# sizes(doc_id, n), the ground truth the LSH candidates are graded
# against (oracle scale only; the engine never forms all pairs).
GRAM_INTER_SQL = f"""g AS ({NGRAM_SQL}),
    toks AS (SELECT doc_id, unnest(grams) AS gram FROM g),
    sizes AS (SELECT doc_id, len(grams) AS n FROM g),
    inter AS (
        SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, COUNT(*) AS c
        FROM toks a JOIN toks b ON a.gram = b.gram AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )"""


def sig_agreement_sql(reduce: str = "") -> str:
    """Number of signature components on which ``sig`` rows ``sa`` and
    ``sb`` agree, as a DuckDB sum; ``reduce`` (such as ``" % 2"``)
    compares a reduced form of each component instead."""
    return " + ".join(
        f"CASE WHEN sa.m{i}{reduce} = sb.m{i}{reduce} THEN 1 ELSE 0 END"
        for i in range(MINHASH_K)
    )


def pair_grams(g: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The gram table split into the two candidate-join sides,
    (doc_id_a, grams_a) and (doc_id_b, grams_b).

    Deliberately NOT pre-pruned to pair participants: the candidate
    pair set is dimension-sized next to the corpus, so AQE broadcasts
    it and the gram arrays never enter an exchange at all — a round-11
    experiment that semi-joined g down to participants first forced
    the full gram table through a shuffle instead and measured 17x
    slower at the 8x probe (60 MB of gram arrays moved vs sub-1 MB).
    If pairs ever outgrow broadcast, AQE degrades to a hash join whose
    gram shuffle is one linear pass — still the right fallback."""
    ga = g.select(
        F.col("doc_id").alias("doc_id_a"), F.col("grams").alias("grams_a")
    )
    gb = g.select(
        F.col("doc_id").alias("doc_id_b"), F.col("grams").alias("grams_b")
    )
    return ga, gb
