"""Portable sketches: the one home for the sketch code the batch
queries and their stream twins share.

Every sketch here is built from md5-prefix integers
(``functions/hashing.py``) or fixed-grid arithmetic that Spark and
DuckDB compute identically, so the ESTIMATES themselves are
oracle-exact, not just the input rows:

- **HyperLogLog** (distinct count) — ``HLL_M`` registers.
- **Count-Min** (point frequency) — ``CMS_D`` rows x ``CMS_W``
  buckets.
- **Bloom** (membership) — ``BLOOM_H`` salted md5 bits per
  ``SPAN_K``-token span fingerprint in a ``BLOOM_M``-bit filter.
- **Fixed-grid quantile histogram** — ``HIST_B`` buckets of width
  ``HIST_W``.
- **Misra-Gries** (heavy hitters) — ``MG_K`` counters per partition.

Each sketch's registers merge associatively (MAX, SUM or set union),
which is what lets a stream twin maintain them batch by batch and
finish with the batch query's readout.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from change_data_capture_poc_spark.functions.caching import persist_once
from change_data_capture_poc_spark.functions.hashing import (
    md5_bucket_sql,
    md5_mod,
    md5_prefix,
)

# ---------------------------------------------------------------------------
# K-token span fingerprints (ExactSubstr)
# ---------------------------------------------------------------------------

SPAN_K = 8  # duplicated-substring span length in tokens (Lee et al.
            # use 50 BPE tokens; the synthetic corpus's ~40-word
            # vocabulary needs a shorter window for real collisions)


def span_hashes(k: int) -> Column:
    """md5 fingerprints of every overlapping ``k``-token span (stride
    1) of a ``w`` token array, in start-position order. Only the
    32-char digest leaves the map stage, never span text."""
    return F.expr(
        f"transform(sequence(0, size(w) - {k}),"
        f"  p -> md5(array_join(slice(w, p + 1, {k}), ' ')))"
    )


def span_hash_sql(pos: str, k: int) -> str:
    """DuckDB twin of ``span_hashes``: the fingerprint of the
    ``k``-token span of ``w`` starting at 0-based position ``pos``."""
    return f"md5(array_to_string(w[{pos} + 1 : {pos} + {k}], ' '))"


# ---------------------------------------------------------------------------
# HyperLogLog
# ---------------------------------------------------------------------------

HLL_M = 64          # registers (b = 6 index bits)
HLL_WBITS = 26      # 32-bit md5-prefix hash minus 6 index bits
HLL_ALPHA = 0.709   # canonical alpha_64
_HLL_SCALE = 1 << (HLL_WBITS + 1)  # register sums are kept x 2^27


def hll_rho() -> Column:
    """Rank of an ``hv`` md5-prefix hash: the 1-based position of the
    first 1 bit in its top ``HLL_WBITS`` bits, found by string search
    over ``lpad(bin(hv div HLL_M))`` (pure integer — no float log2
    boundary risk), ``HLL_WBITS + 1`` when they are all zero."""
    pos = F.expr(f"instr(lpad(bin(hv div {HLL_M}), {HLL_WBITS}, '0'), '1')")
    return F.when(pos == 0, F.lit(HLL_WBITS + 1)).otherwise(pos)


def hll_registers(ev: DataFrame) -> DataFrame:
    """(event_type, j, m) registers over ``ev``'s non-null
    ``user_id``s: register index ``j = hv mod HLL_M``, ``m`` = max rank.
    Registers merge associatively by MAX."""
    h = ev.select("event_type", md5_prefix(F.col("user_id")).alias("hv"))
    r = h.select(
        "event_type",
        (F.col("hv") % HLL_M).alias("j"),
        hll_rho().alias("rho"),
    )
    return r.groupBy("event_type", "j").agg(F.max("rho").alias("m"))


def hll_sums(reg: DataFrame, key: str) -> DataFrame:
    """(key, hit, isum) per register set: registers hit and the
    register sum kept in scaled INTEGERS (sum of 2^(27 - m)), so no
    cross-engine float summation order can perturb the estimate."""
    return reg.groupBy(key).agg(
        F.count(F.lit(1)).cast("long").alias("hit"),
        F.sum(
            F.expr(f"CAST(shiftleft(1L, {HLL_WBITS + 1} - m) AS BIGINT)")
        ).alias("isum"),
    )


def hll_raw_estimate(hit: Column, isum: Column) -> tuple[Column, Column]:
    """(zero_regs, e_raw): empty registers and the raw Flajolet et al.
    estimate, with its one division at the end."""
    m = HLL_M
    zero_regs = (F.lit(m) - hit).cast("long")
    e_raw = F.lit(HLL_ALPHA * m * m * float(_HLL_SCALE)) / (
        isum + (F.lit(m) - hit) * F.lit(_HLL_SCALE)
    )
    return zero_regs, e_raw


def hll_estimate(zero_regs: Column, e_raw: Column) -> Column:
    """The estimate with the linear-counting small-range correction."""
    m = HLL_M
    return F.when(
        (e_raw <= 2.5 * m) & (zero_regs > 0),
        F.lit(float(m)) * F.log(F.lit(m) * 1.0 / zero_regs),
    ).otherwise(e_raw)


_HLL_RANK_SQL = f"instr(lpad(bin(hv // {HLL_M}), {HLL_WBITS}, '0'), '1')"

# DuckDB twin of hll_registers over the whole events table.
HLL_REGISTERS_SQL = f"""
        SELECT event_type, hv % {HLL_M} AS j,
               MAX(CASE WHEN {_HLL_RANK_SQL} = 0 THEN {HLL_WBITS + 1}
                        ELSE {_HLL_RANK_SQL} END) AS m
        FROM (
            SELECT event_type,
                   ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))
                       ::BIGINT AS hv
            FROM events WHERE user_id IS NOT NULL
        )
        GROUP BY event_type, j"""


def hll_estimate_sql(reg: str, key: str) -> str:
    """DuckDB (key, hit, zero_regs, e) over a register relation
    ``reg(key, j, m)`` — the same scaled-integer arithmetic as
    ``hll_sums`` / ``hll_raw_estimate`` / ``hll_estimate``."""
    m, scale = HLL_M, HLL_WBITS + 1
    return f"""
        SELECT {key}, hit, zero_regs,
               CASE WHEN e_raw <= 2.5 * {m} AND zero_regs > 0
                    THEN {m} * ln({m} * 1.0 / zero_regs)
                    ELSE e_raw END AS e
        FROM (
            SELECT {key}, hit, CAST({m} - hit AS BIGINT) AS zero_regs,
                   {HLL_ALPHA} * {m} * {m} * CAST(1 << {scale} AS DOUBLE)
                       / (isum + ({m} - hit) * CAST(1 << {scale} AS BIGINT))
                       AS e_raw
            FROM (
                SELECT {key}, CAST(COUNT(*) AS BIGINT) AS hit,
                       SUM(CAST(1 << ({scale} - m) AS BIGINT)) AS isum
                FROM {reg} GROUP BY {key}
            )
        )"""


# ---------------------------------------------------------------------------
# Count-Min
# ---------------------------------------------------------------------------

CMS_D = 4   # hash rows (independent via row-salted md5)
CMS_W = 32  # buckets per row (small on purpose: the synthetic
            # ~40-word vocabulary needs real collisions for the
            # estimate-vs-exact readout to be informative)


def cms_row_buckets() -> Column:
    """Explode a ``word`` column into its ``CMS_D`` (j, b) register
    keys, one row-salted md5 bucket per hash row."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j).alias("j"),
                    F.expr(
                        md5_bucket_sql(f"'{j}:'", "word", CMS_W, "spark")
                    ).alias("b"),
                )
                for j in range(CMS_D)
            ]
        )
    )


def cms_registers(t: DataFrame) -> DataFrame:
    """(j, b, cnt) registers of a ``word`` token frame. Counts merge
    by SUM, so shards and stream batches build their own and add."""
    return (
        t.select(cms_row_buckets().alias("jb"))
        .select("jb.j", "jb.b")
        .groupBy("j", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def cms_estimates(
    words: DataFrame, reg: DataFrame, cols: list[str]
) -> DataFrame:
    """Point estimates: each ``words`` row's ``cms_estimate`` is the MIN
    of its ``CMS_D`` register counts (``cols`` name the carried
    columns, ``word`` among them)."""
    wb = words.select(*cols, cms_row_buckets().alias("jb")).select(
        *cols, "jb.j", "jb.b"
    )
    return (
        # bounded: CMS register grid, CMS_D x CMS_W rows
        wb.join(F.broadcast(reg), ["j", "b"])
        .groupBy(*cols)
        .agg(F.min("cnt").cast("long").alias("cms_estimate"))
    )


def cms_bucket_sql(word: str) -> str:
    """DuckDB bucket of ``word`` in hash row ``r.j``."""
    return md5_bucket_sql("CAST(r.j AS VARCHAR) || ':'", word, CMS_W, "duck")


# DuckDB twin of cms_registers (reg) plus exact word counts (ex) over
# the document tokens: the CTEs both CMS oracles start from.
CMS_ORACLE_CORE = f"""WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ),
    t AS (SELECT word FROM tok WHERE word != ''),
    reg AS (
        SELECT r.j, {cms_bucket_sql('word')} AS b,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM t, (SELECT unnest(range({CMS_D})) AS j) r
        GROUP BY r.j, b
    ),
    ex AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS exact_count
           FROM t GROUP BY word),"""


# ---------------------------------------------------------------------------
# Bloom filter over span fingerprints
# ---------------------------------------------------------------------------

BLOOM_M = 65536    # filter bits (the join_bloom_prefiltered magnitude)
BLOOM_H = 3        # hash functions (row-salted md5, CMS-style)


def bloom_bits() -> list[Column]:
    """The ``BLOOM_H`` row-salted md5 bits of a ``gh`` fingerprint."""
    return [
        F.expr(md5_bucket_sql(f"'{h}:'", "gh", BLOOM_M, "spark"))
        for h in range(BLOOM_H)
    ]


def bloom_split_spans(d: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(train, test) distinct span fingerprint sets of a documents
    frame, split by ``md5_mod(doc_id, 100) < 80`` (the
    text_stupid_backoff split). The (is_train, gh) table under both is
    persisted — the bit-build, probe, and exact-truth branches all
    consume it (MEMORY_AND_DISK: spills, never OOMs)."""
    s = d.select(
        "doc_id", F.split("text", " ").alias("w"),
        md5_mod(F.col("doc_id"), 100).alias("h"),
    ).where(F.size("w") >= SPAN_K)
    g = (
        s.select(
            (F.col("h") < 80).alias("is_train"),
            F.explode(span_hashes(SPAN_K)).alias("gh"),
        )
        .distinct()
        .transform(persist_once)
    )
    return (
        g.where("is_train").select("gh").distinct(),
        g.where(~F.col("is_train")).select("gh").distinct(),
    )


def bloom_readout(te: DataFrame, tr: DataFrame, bits: DataFrame) -> DataFrame:
    """Probe the test-split span set against a Bloom bit set and grade
    the flags against exact membership — SHARED by the batch query and
    the streaming drain so the flag semantics cannot drift (the
    distinct-bit fix had to land in two copies once; never again).

    Distinct-bit semantics: when two hash functions collide onto one
    bit, the gram probes fewer than BLOOM_H DISTINCT bits and is
    flagged iff every one of THOSE is set (counting matched probe rows
    instead would diverge from the set-membership oracle).
    """
    te_b = te.select(
        "gh", F.array_distinct(F.array(*bloom_bits())).alias("gbits")
    ).withColumn("n_bits", F.size("gbits"))
    probe_bits = te_b.select("gh", "n_bits", F.explode("gbits").alias("bit"))
    hits = (
        # bounded: Bloom bitset capped at BLOOM_M rows
        probe_bits.join(F.broadcast(bits), "bit")
        .groupBy("gh", "n_bits")
        .agg(F.count(F.lit(1)).alias("n_set"))
    )
    flagged = te_b.join(hits.select("gh", "n_set"), "gh", "left").select(
        "gh",
        (F.coalesce(F.col("n_set"), F.lit(0)) == F.col("n_bits")).alias(
            "flagged"
        ),
    )
    truth = flagged.join(
        tr.select(F.col("gh"), F.lit(True).alias("is_dup")), "gh", "left"
    ).select(
        "gh",
        "flagged",
        F.coalesce(F.col("is_dup"), F.lit(False)).alias("is_dup"),
    )
    bcount = bits.agg(
        F.count(F.lit(1)).cast("long").alias("bits_set")
    ).select(
        "bits_set",
        F.round(
            F.col("bits_set") * 1.0 / BLOOM_M + F.lit(1e-9), 6
        ).alias("fill_ratio"),
    )
    stats = truth.agg(
        F.count(F.lit(1)).cast("long").alias("n_test_spans"),
        F.sum(F.when(F.col("flagged"), 1).otherwise(0))
        .cast("long")
        .alias("n_flagged"),
        F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
        .cast("long")
        .alias("n_true_dup"),
        F.sum(F.when(F.col("flagged") & ~F.col("is_dup"), 1).otherwise(0))
        .cast("long")
        .alias("n_false_pos"),
    ).withColumn(
        "fp_rate",
        F.round(
            F.col("n_false_pos")
            * 1.0
            / F.greatest(
                F.col("n_test_spans") - F.col("n_true_dup"), F.lit(1)
            )
            + F.lit(1e-9),
            6,
        ),
    )
    # bounded: 1-row bit count x 1-row stats
    return F.broadcast(bcount).crossJoin(stats).select(
        "bits_set",
        "fill_ratio",
        "n_test_spans",
        "n_flagged",
        "n_true_dup",
        "n_false_pos",
        "fp_rate",
    )


_BLOOM_BITS_SQL = ", ".join(
    md5_bucket_sql(f"'{h}:'", "gh", BLOOM_M, "duck") for h in range(BLOOM_H)
)

# DuckDB oracle of dedup_bloom_portable and its stream twin.
BLOOM_ORACLE = f"""
    WITH s AS (
        SELECT doc_id, string_split(text, ' ') AS w,
               ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                   ::BIGINT % 100 AS h
        FROM documents
    ),
    g AS (
        SELECT DISTINCT s.h < 80 AS is_train,
               {span_hash_sql('u.i', SPAN_K)}
                   AS gh
        FROM s, LATERAL (
            SELECT unnest(range(len(w) - {SPAN_K} + 1)) AS i
        ) u
        WHERE len(w) >= {SPAN_K}
    ),
    tr AS (SELECT DISTINCT gh FROM g WHERE is_train),
    te AS (SELECT DISTINCT gh FROM g WHERE NOT is_train),
    bits AS (
        SELECT DISTINCT unnest([{_BLOOM_BITS_SQL}]) AS bit FROM tr
    ),
    probe AS (
        -- distinct-bit semantics: a gram whose hash functions collide
        -- onto the same bit probes fewer than {BLOOM_H} DISTINCT bits,
        -- and is flagged iff every one of those is set
        SELECT te.gh,
               (SELECT COUNT(*) FROM bits
                WHERE bit IN ({_BLOOM_BITS_SQL}))
                   = len(list_distinct([{_BLOOM_BITS_SQL}])) AS flagged,
               te.gh IN (SELECT gh FROM tr) AS is_dup
        FROM te
    )
    SELECT CAST((SELECT COUNT(*) FROM bits) AS BIGINT) AS bits_set,
           ROUND((SELECT COUNT(*) FROM bits) * 1.0 / {BLOOM_M}
                 + 1e-9, 6) AS fill_ratio,
           CAST(COUNT(*) AS BIGINT) AS n_test_spans,
           CAST(COUNT(*) FILTER (WHERE flagged) AS BIGINT) AS n_flagged,
           CAST(COUNT(*) FILTER (WHERE is_dup) AS BIGINT) AS n_true_dup,
           CAST(COUNT(*) FILTER (WHERE flagged AND NOT is_dup) AS BIGINT)
               AS n_false_pos,
           ROUND(COUNT(*) FILTER (WHERE flagged AND NOT is_dup) * 1.0
                 / GREATEST(COUNT(*) FILTER (WHERE NOT is_dup), 1)
                 + 1e-9, 6) AS fp_rate
    FROM probe
    """


# ---------------------------------------------------------------------------
# Fixed-grid quantile histogram
# ---------------------------------------------------------------------------

HIST_B = 512      # fixed grid buckets
HIST_W = 2.0      # bucket width -> domain [0, 1024), clipped at edges
HIST_QS = (0.25, 0.5, 0.75, 0.9, 0.99)


def hist_register_exprs() -> tuple[Column, Column]:
    """(bucket, clipped) columns for a non-null ``value`` row — the
    ONLY data-dependent step of the sketch, shared verbatim by the
    batch query and the streaming twin so their register tables are
    the same table."""
    raw = F.floor(F.col("value") / F.lit(HIST_W)).cast("int")
    bucket = F.least(
        F.lit(HIST_B - 1), F.greatest(F.lit(0), raw)
    ).alias("bucket")
    clipped = (
        (F.col("value") < 0) | (F.col("value") >= HIST_B * HIST_W)
    ).cast("int").alias("clipped")
    return bucket, clipped


def hist_quantile_readout(
    reg: DataFrame,
    clip: DataFrame,
    group_cols: tuple[str, ...] = ("event_type",),
    quantiles: tuple[float, ...] = HIST_QS,
) -> DataFrame:
    """Registers (group_cols..., bucket, cnt) + clip totals →
    interpolated quantile estimates at the ``HIST_QS`` targets.

    All-window frames are <= HIST_B rows keyed by ``group_cols`` (the
    bounded-summary readout, not a data-sized window) — per category,
    per event-time window, or any other register keying. target rank =
    ceil(q*n) in integers; estimate = (bucket + in-bucket rank
    fraction) * W with exactly ONE division, so both engines agree to
    the bit before the 1e-6 rounding.
    """
    gc = list(group_cols)
    wcum = (
        Window.partitionBy(*gc)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy(*gc)
    cum = reg.select(
        *gc,
        "bucket",
        "cnt",
        F.sum("cnt").over(wcum).cast("long").alias("cum"),
        F.sum("cnt").over(wall).cast("long").alias("n"),
        F.count(F.lit(1)).over(wall).cast("long").alias("registers_hit"),
    )
    spark = reg.sparkSession
    qs = spark.createDataFrame([(q,) for q in quantiles], "q double")
    target = F.ceil(F.col("q") * F.col("n")).cast("long")
    sel = (
        # bounded: literal quantile table
        cum.crossJoin(F.broadcast(qs))
        .withColumn("target", target)
        .where(
            (F.col("cum") >= F.col("target"))
            & (F.col("cum") - F.col("cnt") < F.col("target"))
        )
    )
    est = (
        (
            F.col("bucket")
            + (F.col("target") - (F.col("cum") - F.col("cnt")))
            * 1.0
            / F.col("cnt")
        )
        * F.lit(HIST_W)
    )
    return sel.join(clip, gc).select(
        *gc,
        "q",
        F.col("n").alias("n_rows"),
        "n_clipped",
        "registers_hit",
        F.round(est + F.lit(1e-9), 6).alias("hist_estimate"),
    )


HIST_ORACLE_CORE = f"""
    e AS (
        SELECT event_type, value FROM events WHERE value IS NOT NULL
    ),
    r AS (
        SELECT event_type,
               LEAST({HIST_B - 1},
                     GREATEST(0, CAST(floor(value / {HIST_W}) AS INTEGER)))
                   AS bucket
        FROM e
    ),
    reg AS (
        SELECT event_type, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM r GROUP BY event_type, bucket
    ),
    clip AS (
        SELECT event_type,
               CAST(COUNT(*) FILTER (WHERE value < 0
                    OR value >= {HIST_B * HIST_W}) AS BIGINT) AS n_clipped
        FROM e GROUP BY event_type
    ),
    cum AS (
        SELECT event_type, bucket, cnt,
               CAST(SUM(cnt) OVER (PARTITION BY event_type
                                   ORDER BY bucket) AS BIGINT) AS cum,
               CAST(SUM(cnt) OVER (PARTITION BY event_type)
                    AS BIGINT) AS n,
               CAST(COUNT(*) OVER (PARTITION BY event_type)
                    AS BIGINT) AS registers_hit
        FROM reg
    ),
    qs AS (SELECT CAST(unnest([{", ".join(str(q) for q in HIST_QS)}])
                       AS DOUBLE) AS q),
    sel AS (
        SELECT c.event_type, qs.q, c.n, c.registers_hit, c.bucket,
               c.cnt, c.cum,
               CAST(ceil(qs.q * c.n) AS BIGINT) AS target
        FROM cum c, qs
        WHERE c.cum >= CAST(ceil(qs.q * c.n) AS BIGINT)
          AND c.cum - c.cnt < CAST(ceil(qs.q * c.n) AS BIGINT)
    ),
    readout AS (
        SELECT s.event_type, s.q, s.n AS n_rows, cl.n_clipped,
               s.registers_hit,
               ROUND((s.bucket
                      + (s.target - (s.cum - s.cnt)) * 1.0 / s.cnt)
                     * {HIST_W} + 1e-9, 6) AS hist_estimate
        FROM sel s JOIN clip cl USING (event_type)
    )
"""

# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters
# ---------------------------------------------------------------------------

MG_K = 64  # Misra-Gries counter budget => finds tokens with freq > N/64

MG_ORACLE = f"""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    n AS (SELECT COUNT(*) AS n FROM toks)
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM toks, n
    GROUP BY tok, n.n
    HAVING COUNT(*) > n.n / {MG_K}
    """


def mg_candidates(toks: DataFrame) -> DataFrame:
    """Phase 1: fold each partition of a ``tok`` frame through an
    ``MG_K``-counter Misra-Gries summary (Arrow mapInPandas, bounded
    state, zero shuffle). The survivors are a GUARANTEED superset of
    the tokens with frequency > N/MG_K: a token over threshold overall
    is over threshold in some partition (pigeonhole)."""
    import pandas as pd

    def mg(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for tok in pdf["tok"]:
                if tok in counters:
                    counters[tok] += 1
                elif len(counters) < MG_K:
                    counters[tok] = 1
                else:
                    dead = []
                    for t in counters:
                        counters[t] -= 1
                        if counters[t] == 0:
                            dead.append(t)
                    for t in dead:
                        del counters[t]
        if counters:
            yield pd.DataFrame({"tok": list(counters)})

    return toks.mapInPandas(mg, "tok string")


def mg_heavy_hitters(toks: DataFrame, cand: DataFrame) -> DataFrame:
    """Phase 2: exact counts of ``toks`` restricted to the candidates
    (broadcast semi-join), thresholded at N/MG_K — so the output is
    EXACT and independent of how phase 1 was partitioned."""
    n = toks.agg(F.count("*").alias("n"))
    exact = (
        # bounded: Misra-Gries heavy hitters, counter-capacity-capped
        toks.join(F.broadcast(cand), "tok")
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    return (
        # bounded: 1-row token total
        exact.crossJoin(F.broadcast(n))
        .where(F.col("cnt") > F.col("n") / MG_K)
        .select("tok", "cnt")
    )
