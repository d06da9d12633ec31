"""Subword tokenizers: the BPE trainer, WordPiece MaxMatch and the
unigram-LM EM trainer / Viterbi segmenter, each an engine builder
beside its DuckDB oracle twin. The steps all three families run —
the doc -> word stream, the word table, substring frequencies, the
piece lattice and the encode tail — exist once, at the top.

The registered queries (``pipeline7_q``, ``pipeline9_q``) and the
vocabulary artifacts (``ensure_bpe_vocab`` / ``ensure_unigram_vocab``)
call these. Oracle builders return CTE bodies with no leading
``WITH``: the caller writes ``WITH`` or ``WITH RECURSIVE`` once.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from change_data_capture_poc_spark.functions.caching import persist_once
from change_data_capture_poc_spark.functions.windows import global_window
from change_data_capture_poc_spark.sources.tables import load_table

MAX_PIECE = 4  # longest piece WordPiece and unigram segment into


# ---------------------------------------------------------------------------
# Shared steps — each an engine builder plus its DuckDB twin
# ---------------------------------------------------------------------------


def doc_words(docs: DataFrame) -> DataFrame:
    """(doc_id, word_pos, word): every non-empty space-split word of
    every document — the pre-tokenization all three families share.
    ``word_pos`` is the position in the raw split, so the empty
    strings of repeated spaces still count."""
    return docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("word_pos", "word"),
    ).where(F.col("word") != "")


DOC_WORDS_SQL = """
    dw AS (
        SELECT sp.doc_id, CAST(s.i AS INT) AS word_pos,
               sp.s[s.i + 1] AS word
        FROM (SELECT doc_id, string_split(text, ' ') AS s
              FROM documents) sp,
             LATERAL (SELECT unnest(range(len(sp.s))) AS i) s
        WHERE sp.s[s.i + 1] != ''
    )"""


def word_counts(docs: DataFrame, *by: str) -> DataFrame:
    """(*by, word, n): occurrences of every non-empty word, per ``by``
    group — the Heaps-bounded word table the trainers run on (the
    corpus is read once, into this). Returned uncached; callers that
    fan it out pin it themselves."""
    return (
        docs.select(*by, F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy(*by, "word")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


WORD_COUNTS_SQL = """
    wc AS (
        SELECT tok AS word, CAST(COUNT(*) AS BIGINT) AS n FROM (
            SELECT unnest(string_split(text, ' ')) AS tok FROM documents
        ) WHERE tok != '' GROUP BY tok
    )"""


def substring_freq(words: DataFrame, lo: int, col: str) -> DataFrame:
    """(token, ``col``): occurrence-weighted frequency of every
    substring of length ``lo``..MAX_PIECE over a (word, n) table."""
    subs = None
    for l in range(lo, MAX_PIECE + 1):
        s = (
            words.where(F.length("word") >= l)
            .select(
                "n",
                F.explode(
                    F.expr(
                        f"transform(sequence(1, length(word) - {l} + 1),"
                        f" p -> substring(word, p, {l}))"
                    )
                ).alias("token"),
            )
        )
        subs = s if subs is None else subs.unionByName(s)
    return subs.groupBy("token").agg(F.sum("n").cast("long").alias(col))


def substring_freq_sql(name: str, lo: int, col: str) -> str:
    """Oracle twin of ``substring_freq`` over ``wc``: CTE ``name``
    (token, ``col``)."""
    lens = ", ".join(f"({l})" for l in range(lo, MAX_PIECE + 1))
    return f"""
    {name} AS MATERIALIZED (
        SELECT substring(word, s.p, l.l) AS token,
               CAST(SUM(n) AS BIGINT) AS {col}
        FROM wc,
             (VALUES {lens}) l(l),
             LATERAL (
                 SELECT unnest(range(1, length(wc.word) - l.l + 2)) AS p
             ) s
        GROUP BY 1
    )"""


def piece_lattice(
    words: DataFrame,
    pieces: DataFrame,
    lens: Iterable[int],
    carry: Callable[[int], Iterable[Column]] = lambda l: (),
) -> DataFrame:
    """(word, pos, tok{l}, …): one row per (distinct word, start
    position), left-joined once per piece length l in ``lens`` to the
    ``pieces`` row whose token is the length-l substring starting
    there (tok{l} NULL when absent or past the word end). ``carry(l)``
    lists the pieces columns each join brings along, renamed per l."""
    j = words.select(
        "word", F.explode(F.expr("sequence(1, length(word))")).alias("pos")
    )
    for l in lens:
        v = pieces.select(F.col("token").alias(f"tok{l}"), *carry(l))
        j = j.join(
            # bounded: pieces is a vocabulary — the alphabet plus
            # admission-capped or top-UNI_EM_TOPK multi-char pieces
            F.broadcast(v),
            (F.expr(f"substring(word, pos, {l})") == F.col(f"tok{l}"))
            & (F.col("pos") + l - 1 <= F.length("word")),
            "left",
        )
    return j


def encode_words(docs: DataFrame, word_toks: DataFrame) -> DataFrame:
    """(doc_id, word_pos, tok_idx, token): the corpus token stream —
    ``doc_words`` joined to a (word, toks) segmentation table, one row
    per token. Segmentation runs once per distinct word; the corpus
    is scanned once and never sorted."""
    return doc_words(docs).join(word_toks, "word").select(
        "doc_id",
        "word_pos",
        F.posexplode("toks").alias("tok_idx", "token"),
    )


def encode_sql(word_toks: str) -> str:
    """Oracle twin of ``encode_words``: a SELECT of (doc_id, word_pos,
    tok_idx, token) off ``dw`` and the (word, toks) relation
    ``word_toks``."""
    return f"""
    SELECT dw.doc_id, dw.word_pos, CAST(t.j AS INT) AS tok_idx,
           v.toks[t.j + 1] AS token
    FROM dw JOIN {word_toks} v USING (word),
         LATERAL (SELECT unnest(range(len(v.toks))) AS j) t
    """


# ---------------------------------------------------------------------------
# BPE — greedy merge training (Sennrich et al. 2016)
# ---------------------------------------------------------------------------

BPE_ROUNDS = 3


def bpe_rounds_cte() -> str:
    """Oracle CTEs over ``wc``: char-split v0 and the unrolled training
    rounds pc{r}/b{r}/…/v{r}. Reused by the trainer oracle (final
    select = the merge table), the encode oracles (the token stream
    off v{R}) and the family bake-off."""
    rounds = []
    for r in range(1, BPE_ROUNDS + 1):
        p = r - 1
        rounds.append(f"""
    pc{r} AS (
        SELECT v.toks[s.i + 1] AS l, v.toks[s.i + 2] AS r2,
               SUM(v.n) AS cnt
        FROM v{p} v, LATERAL (
            SELECT unnest(range(len(v.toks) - 1)) AS i
        ) s
        WHERE len(v.toks) >= 2
        GROUP BY 1, 2
    ),
    b{r} AS (SELECT l, r2, CAST(cnt AS BIGINT) AS cnt FROM pc{r}
             ORDER BY cnt DESC, l, r2 LIMIT 1),
    mpos{r} AS (
        SELECT v.word, s.i AS pos
        FROM v{p} v, LATERAL (
            SELECT unnest(range(len(v.toks) - 1)) AS i
        ) s, b{r} b
        WHERE len(v.toks) >= 2
          AND v.toks[s.i + 1] = b.l AND v.toks[s.i + 2] = b.r2
    ),
    isl{r} AS (
        SELECT word, pos,
               pos - ROW_NUMBER() OVER (
                   PARTITION BY word ORDER BY pos) AS grp
        FROM mpos{r}
    ),
    sel{r} AS (
        SELECT word, pos,
               (pos - MIN(pos) OVER (PARTITION BY word, grp)) % 2 = 0
                   AS keep
        FROM isl{r}
    ),
    pos{r} AS (
        SELECT v.word, v.n, s.i AS pos, v.toks[s.i + 1] AS sym
        FROM v{p} v, LATERAL (
            SELECT unnest(range(len(v.toks))) AS i
        ) s
    ),
    v{r} AS (
        SELECT word, ANY_VALUE(n) AS n,
               list(CASE WHEN m.keep THEN p.sym || (SELECT r2 FROM b{r})
                         ELSE p.sym END ORDER BY p.pos) AS toks
        FROM pos{r} p
        LEFT JOIN (SELECT word, pos, keep FROM sel{r} WHERE keep) m
            USING (word, pos)
        LEFT JOIN (SELECT word, pos + 1 AS pos, keep
                   FROM sel{r} WHERE keep) cons USING (word, pos)
        WHERE cons.keep IS NULL
        GROUP BY word
    )""")
    return f"""
    v0 AS (
        SELECT word, n,
               string_split(rtrim(regexp_replace(word, '(.)', '\\1 ',
                                                 'g')), ' ') AS toks
        FROM wc
    ),
    {",".join(rounds)}
    """


BPE_IDS_SQL = f"""
    syms AS (
        SELECT DISTINCT t AS token
        FROM (SELECT unnest(toks) AS t FROM v{BPE_ROUNDS})
    ),
    ids AS (
        SELECT token,
               CAST(ROW_NUMBER() OVER (ORDER BY token) - 1 AS INT)
                   AS token_id
        FROM syms
    )"""


def bpe_token_ids(v: DataFrame) -> DataFrame:
    """(token, token_id): ids over the trained symbol set (alphabet +
    BPE_ROUNDS merges — constant-bounded, so the global row_number is
    the documented global_window shape). Twin of ``BPE_IDS_SQL``."""
    syms = v.select(F.explode("toks").alias("token")).distinct()
    return syms.select(
        "token",
        (F.row_number().over(global_window("token")) - 1)
        .cast("int")
        .alias("token_id"),
    )


def bpe_train_state(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple], DataFrame]:
    """Run the BPE_ROUNDS training rounds on the frequency-weighted
    word table; return ``(merges, v)`` — the chosen merge rows
    (possibly fewer if the vocabulary fuses early) and the FINAL
    word -> token-array vocabulary frame (word, n, toks). The round-9
    corpus encoder reuses ``v`` directly: BPE-encoding the training
    corpus with the trained merges is exactly the trainer's final
    state, so the corpus never re-runs the merge application."""
    from pyspark.sql import Window

    wc = word_counts(load_table(spark, sf_dir, "documents"))
    v = wc.select(
        "word",
        "n",
        F.split(
            F.rtrim(F.regexp_replace("word", "(.)", "$1 ")), " "
        ).alias("toks"),
    )
    merges: list[tuple] = []
    for _r in range(1, BPE_ROUNDS + 1):
        pairs = (
            v.where(F.size("toks") >= 2)
            .select(
                "n",
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(toks) - 2), i -> "
                        "struct(element_at(toks, i + 1) AS l, "
                        "element_at(toks, i + 2) AS r2))"
                    )
                ).alias("p"),
            )
            .groupBy("p.l", "p.r2")
            .agg(F.sum("n").cast("long").alias("cnt"))
        )
        best_df = pairs.orderBy(F.col("cnt").desc(), "l", "r2").limit(1)
        best_rows = best_df.collect()  # bounded 1-row collect per round
        if not best_rows:
            # Vocabulary fully fused into single symbols — no pairs
            # left. Emit fewer merge rows, matching the oracle's
            # empty LIMIT 1 CTEs for the remaining rounds.
            break
        best = best_rows[0]
        l_lit, r_lit = best["l"], best["r2"]
        # The round's output row comes from the ALREADY-collected
        # literals — deriving it from the lazy best_df would re-run
        # the round's pair-count aggregation and orderBy/limit a
        # second time when the final result materializes.
        merges.append((_r, l_lit, r_lit, l_lit + r_lit, int(best["cnt"])))

        # Apply the merge: match positions, greedy run-parity select,
        # rebuild token arrays in position order (word-keyed windows
        # over the vocab frame only).
        pos = v.select(
            "word", "n", F.posexplode("toks").alias("pos", "sym")
        )
        mpos = (
            v.where(F.size("toks") >= 2)
            .select(
                "word",
                F.explode(
                    F.expr("sequence(0, size(toks) - 2)")
                ).alias("pos"),
                "toks",
            )
            .where(
                (F.expr("element_at(toks, pos + 1)") == F.lit(l_lit))
                & (F.expr("element_at(toks, pos + 2)") == F.lit(r_lit))
            )
            .select("word", "pos")
        )
        wrn = Window.partitionBy("word").orderBy("pos")
        grp = F.col("pos") - F.row_number().over(wrn)
        wgrp = Window.partitionBy("word", "grp")
        sel = (
            mpos.withColumn("grp", grp)
            .withColumn(
                "keep",
                ((F.col("pos") - F.min("pos").over(wgrp)) % 2) == 0,
            )
            .where("keep")
            .select("word", "pos", "keep")
        )
        cons = sel.select(
            "word", (F.col("pos") + 1).alias("pos"), F.col("keep").alias("c")
        )
        merged = (
            pos.join(sel, ["word", "pos"], "left")
            .join(cons, ["word", "pos"], "left")
            .where(F.col("c").isNull())
            .withColumn(
                "sym2",
                F.when(
                    F.col("keep"), F.concat(F.col("sym"), F.lit(r_lit))
                ).otherwise(F.col("sym")),
            )
        )
        v = merged.groupBy("word").agg(
            F.first("n").alias("n"),
            F.expr(
                "transform(array_sort(collect_list(struct(pos, sym2))), "
                "x -> x.sym2)"
            ).alias("toks"),
        ).transform(persist_once)  # vocab-sized; cuts round r's actions from
        # replaying rounds 1..r-1's whole merge lineage. NOT unpersisted
        # here: repeated calls build identical logical plans, so the
        # CacheManager dedups them (total live caches are bounded at
        # BPE_ROUNDS per session, not per call) and warm re-runs skip
        # rounds 1..r-1's recompute entirely; the harnesses' between-
        # query clearCache releases them (registry.py cache contract).
        # An in-query unpersist measured 1.9x slower under the bench's
        # documented warm-cache protocol for zero bounded-memory gain.
    return merges, v


# ---------------------------------------------------------------------------
# WordPiece — greedy longest-match-first (MaxMatch)
# ---------------------------------------------------------------------------
#
# BPE (the trainer above + pipeline9_q's encoders) is one of the two
# subword families production LM pipelines actually run; the other is
# WordPiece-style greedy longest-match-first inference (Wu et al. 2016;
# the MaxMatch segmenter HuggingFace's WordPiece tokenizer executes).
# Relational form, all integer/string logic so both engines agree bit
# for bit:
#   vocab  = every single character (totality guarantee) ∪ substrings
#            of length 2..MAX_PIECE whose occurrence-weighted corpus
#            frequency clears a PROPORTIONAL admission threshold
#            (freq*1000 >= total_words*permille — integer cross-
#            multiply, scale-invariant, no float division);
#   jumps  = per (word, position): the longest vocab token starting
#            there (tried 4,3,2 via three joins against the bounded
#            vocabulary, else the guaranteed single char);
#   walk   = greedy left-to-right segmentation — a fold over the
#            word's positions consuming jump(i) characters at a time.
#            Spark folds with aggregate() (JVM map-side, one pass);
#            the oracle replays the identical walk as a recursive CTE.
# Everything up to the final corpus join runs on the Heaps-bounded
# word table; the corpus is scanned once and joined to word->toks,
# exactly the bpe_encode_corpus shape.

WP_PERMILLE = 50   # vocab admission: freq >= 5% of word instances


def wp_base_ctes() -> str:
    """Threshold-independent oracle CTEs: the word table ``wc``, the
    instance total, the char alphabet, occurrence-weighted substring
    frequencies, the per-word position grid, and the doc->word
    stream ``dw``."""
    return WORD_COUNTS_SQL + """,
    wptot AS (SELECT SUM(n) AS t FROM wc),
    wpchars AS (
        SELECT DISTINCT substring(word, s.p, 1) AS token
        FROM wc, LATERAL (
            SELECT unnest(range(1, length(wc.word) + 1)) AS p
        ) s
    ),""" + substring_freq_sql("wpsubs", 2, "freq") + """,
    wppos AS (
        SELECT wc.word, s.p
        FROM wc, LATERAL (
            SELECT unnest(range(1, length(wc.word) + 1)) AS p
        ) s
    ),""" + DOC_WORDS_SQL


def wp_walk_ctes(sfx: str, permille: int) -> str:
    """Per-threshold oracle CTEs (vocab admission -> longest-match
    jumps -> the recursive greedy walk), name-suffixed so several
    thresholds coexist in one statement."""
    return f"""
    wpvocab{sfx} AS (
        SELECT token FROM wpchars
        UNION
        SELECT s.token FROM wpsubs s, wptot
        WHERE s.freq * 1000 >= wptot.t * {permille}
    ),
    wpj{sfx} AS (
        SELECT word, p,
               CASE WHEN p + 3 <= length(word) AND substring(word, p, 4)
                             IN (SELECT token FROM wpvocab{sfx}) THEN 4
                    WHEN p + 2 <= length(word) AND substring(word, p, 3)
                             IN (SELECT token FROM wpvocab{sfx}) THEN 3
                    WHEN p + 1 <= length(word) AND substring(word, p, 2)
                             IN (SELECT token FROM wpvocab{sfx}) THEN 2
                    ELSE 1 END AS jump
        FROM wppos
    ),
    wpwalk{sfx} AS (
        SELECT j.word, 1 + j.jump AS p, CAST(0 AS INT) AS tok_idx,
               substring(j.word, 1, j.jump) AS token
        FROM wpj{sfx} j WHERE j.p = 1
        UNION ALL
        SELECT w.word, w.p + j2.jump, CAST(w.tok_idx + 1 AS INT),
               substring(w.word, CAST(w.p AS INT), j2.jump)
        FROM wpwalk{sfx} w
        JOIN wpj{sfx} j2 ON j2.word = w.word AND j2.p = w.p
        WHERE w.p <= length(w.word)
    )"""


def wp_vocab_ctes() -> str:
    """Shared oracle CTE block at the default admission threshold:
    word counts -> vocabulary -> jumps -> the recursive greedy walk
    (word, tok_idx, token) -> the doc->word stream. Callers prepend
    WITH RECURSIVE (the walk member requires it)."""
    return (
        wp_base_ctes() + "," + wp_walk_ctes("", WP_PERMILLE)
    )


def wp_tables(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Threshold-independent engine frames: (words, chars, freq, tot)
    — the engine half of wp_base_ctes, all on the Heaps-bounded
    word table."""
    # The Heaps-bounded word table feeds every vocab branch (chars,
    # each substring length, the total, the position frame) — cached
    # so the corpus is scanned once, not once per branch; same for the
    # vocabulary, which the three jump joins probe. persist_once keeps
    # the round-9 cache contract (caller releases via release_pins).
    words = word_counts(load_table(spark, sf_dir, "documents")).transform(
        persist_once
    )
    # chars and freq are re-derived per admission threshold by the
    # sensitivity sweep (each threshold's vocab is its own cached
    # frame, so cross-branch exchange reuse cannot deduplicate them)
    # — persist both: alphabet-sized and Heaps-bounded respectively.
    chars = (
        words.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(word)),"
                    " p -> substring(word, p, 1))"
                )
            ).alias("token")
        )
        .distinct()
        .transform(persist_once)
    )
    tot = words.agg(F.sum("n").cast("long").alias("t"))
    freq = substring_freq(words, 2, "freq").transform(persist_once)
    return words, chars, freq, tot


def wp_vocab_for(
    chars: DataFrame, freq: DataFrame, tot: DataFrame, permille: int
) -> DataFrame:
    admitted = (
        # bounded: 1-row instance total
        freq.crossJoin(F.broadcast(tot))
        .where(F.col("freq") * 1000 >= F.col("t") * permille)
        .select("token")
    )
    return chars.unionByName(admitted).distinct().transform(persist_once)


def wp_toks_for(words: DataFrame, vocab: DataFrame) -> DataFrame:
    """(word, toks): the MaxMatch segmentation of every distinct word
    under the given vocabulary — per-position longest-match jumps via
    three joins against the bounded vocab, then one greedy fold."""
    j = piece_lattice(words, vocab, (4, 3, 2))
    jump = (
        F.when(F.col("tok4").isNotNull(), 4)
        .when(F.col("tok3").isNotNull(), 3)
        .when(F.col("tok2").isNotNull(), 2)
        .otherwise(1)
    )
    jarr = (
        j.select("word", "pos", jump.alias("jump"))
        .groupBy("word")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, jump))),"
                " x -> x.jump)"
            ).alias("jumps")
        )
    )
    return jarr.select(
        "word",
        F.expr(
            """
            aggregate(
                sequence(1, length(word)),
                named_struct('nxt', 1,
                             'toks', cast(array() as array<string>)),
                (acc, i) -> IF(i != acc.nxt, acc,
                    named_struct(
                        'nxt', acc.nxt + element_at(jumps, i),
                        'toks', array_append(acc.toks,
                            substring(word, i, element_at(jumps, i))))),
                acc -> acc.toks)
            """
        ).alias("toks"),
    )


def wp_word_toks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, toks) at the default admission threshold — the engine
    half of wp_vocab_ctes."""
    words, chars, freq, tot = wp_tables(spark, sf_dir)
    return wp_toks_for(words, wp_vocab_for(chars, freq, tot, WP_PERMILLE))


# ---------------------------------------------------------------------------
# unigram LM — oracle CTEs (seed, unrolled hard EM, enumeration)
# ---------------------------------------------------------------------------

UNI_EM_ROUNDS = 2  # SentencePiece-style hard-EM e/m cycles
UNI_EM_TOPK = 4096  # multi-char pieces kept per m-step (count desc, token)


def uni_enum_ctes(cost_cte: str, sfx: str) -> str:
    """One vocab-restricted Viterbi e-step as oracle CTEs: enumerate
    every segmentation of every distinct word whose pieces ALL exist
    in ``cost_cte`` (the inner join against the cost table IS the
    vocab restriction — pruned pieces never enter the lattice) and
    pick the (cost, str) total-order winner. Deliberately brute-force
    (<= 2^(len-1) paths, len <= corpus max word length): the SPEC the
    engine's linear backward-Viterbi fold must reproduce."""
    return f"""
    urec{sfx} AS (
        SELECT word, CAST(1 AS BIGINT) AS p, CAST(0 AS BIGINT) AS cost,
               '' AS str
        FROM wc
        UNION ALL
        SELECT r.word, r.p + l.l, r.cost + c.c,
               CASE WHEN r.str = '' THEN
                        substring(r.word, CAST(r.p AS INT), l.l)
                    ELSE concat(r.str, ' ',
                        substring(r.word, CAST(r.p AS INT), l.l)) END
        FROM urec{sfx} r
        CROSS JOIN (VALUES (1), (2), (3), (4)) l(l)
        JOIN {cost_cte} c
          ON c.token = substring(r.word, CAST(r.p AS INT), l.l)
        WHERE r.p + l.l <= length(r.word) + 1
    ),
    uwin{sfx} AS MATERIALIZED (
        SELECT word, str FROM urec{sfx}
        WHERE p = length(word) + 1
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY word ORDER BY cost, str) = 1
    ),
    utoks{sfx} AS MATERIALIZED (SELECT word, string_split(str, ' ') AS toks
                   FROM uwin{sfx})"""


def uni_mstep_ctes(r: int) -> str:
    """m-step r as oracle CTEs: occurrence-weighted Viterbi piece
    counts from ``utoks_e{r}``, then the pruned re-normalized vocab —
    single chars ALWAYS kept (Laplace-floored at count 1, so every
    word stays segmentable), multi-char pieces kept only if USED by
    some Viterbi path this round, capped at the top ``UNI_EM_TOPK``
    under the (count DESC, token ASC) total order — and the fresh
    millinat cost grid over the new total."""
    return f"""
    ucnt_r{r} AS MATERIALIZED (
        SELECT t.tok AS token, CAST(SUM(w.n) AS BIGINT) AS cnt
        FROM utoks_e{r} u JOIN wc w USING (word),
             LATERAL (SELECT unnest(u.toks) AS tok) t
        GROUP BY 1
    ),
    umulti_r{r} AS MATERIALIZED (
        SELECT token, cnt FROM ucnt_r{r}
        WHERE length(token) >= 2
        QUALIFY ROW_NUMBER() OVER (ORDER BY cnt DESC, token)
                <= {UNI_EM_TOPK}
    ),
    uvocab_r{r} AS MATERIALIZED (
        SELECT ch.token,
               CAST(GREATEST(COALESCE(c.cnt, 0), 1) AS BIGINT) AS cnt
        FROM wpchars ch LEFT JOIN ucnt_r{r} c USING (token)
        UNION ALL
        SELECT token, cnt FROM umulti_r{r}
    ),""" + cost_grid_sql(r, f"uvocab_r{r}")


def cost_grid_sql(r: int, vocab: str) -> str:
    """``uz_r{r}`` / ``ucost_r{r}``: the millinat cost grid over the
    (token, cnt) CTE ``vocab`` — oracle twin of ``uni_cost_table``."""
    return f"""
    uz_r{r} AS MATERIALIZED (SELECT SUM(cnt) AS z FROM {vocab}),
    ucost_r{r} AS MATERIALIZED (
        SELECT token,
               CAST(ROUND(1000 * LN(uz_r{r}.z * 1.0 / cnt) + 1e-9)
                    AS BIGINT) AS c
        FROM {vocab}, uz_r{r}
    )"""


def uni_train_ctes() -> str:
    """Seed model + UNI_EM_ROUNDS unrolled hard-EM cycles (the BPE
    trainer's fixed-round-unroll pattern): ufreq_r0/ucost_r0 is the
    all-substrings frequency seed; round r = Viterbi e-step under
    ucost_r{r-1} (utoks_e{r}) then m-step r (ucost_r{r})."""
    parts = [
        substring_freq_sql("ufreq_r0", 1, "cnt")
        + ","
        + cost_grid_sql(0, "ufreq_r0")
    ]
    for r in range(1, UNI_EM_ROUNDS + 1):
        parts.append(uni_enum_ctes(f"ucost_r{r - 1}", f"_e{r}"))
        parts.append(uni_mstep_ctes(r))
    return ",".join(parts)


def unigram_ctes() -> str:
    """Oracle CTEs appended after wp_base_ctes (reuses wc/wpchars):
    the TRAINED unigram model (seed + unrolled EM rounds) ->
    all-segmentations recursion under the final trained costs ->
    total-order winner ``utoks``."""
    return (
        uni_train_ctes()
        + ","
        + uni_enum_ctes(f"ucost_r{UNI_EM_ROUNDS}", "")
    )


# ---------------------------------------------------------------------------
# unigram LM — engine: seed, cost grid, Viterbi fold, hard EM
# ---------------------------------------------------------------------------
#
# SentencePiece's unigram model (Kudo 2018) segments each word into the
# token sequence MAXIMIZING the product of unigram probabilities — the
# probabilistic alternative to BPE's learned merges and WordPiece's
# greedy MaxMatch. Relational form with exact cross-engine parity:
#
#   model  = TRAINED by UNI_EM_ROUNDS hard-EM cycles
#            (unigram_train_em) from the all-substrings (length 1..4)
#            occurrence-weighted seed; token cost in integer
#            MILLINATS: round(1000 * ln(Z / cnt)) — the DoReMi grid
#            trick, so all downstream comparison is BIGINT arithmetic;
#   winner = the segmentation minimizing (total cost, then the
#            space-joined token string) — the explicit TOTAL ORDER that
#            makes the answer unique, so tie-breaking never depends on
#            traversal order;
#   engine = a backward Viterbi fold per distinct word: one aggregate()
#            pass building the best (cost, suffix-string) per position,
#            LINEAR in word length (the 100 TB path: per-word work is
#            O(len * 4), all on the Heaps-bounded word table);
#   oracle = enumerates every segmentation with a recursive CTE
#            (bounded by 2^(len-1) paths — the SPEC, deliberately
#            brute-force like the exact sides of the ANN eval gates)
#            and picks the minimum under the identical total order.
#
# The total order composes over suffixes (cost is additive; equal-cost
# prefixes reduce string comparison to suffix comparison), so the DP's
# per-position suffix minimum IS the global minimum — pinned against a
# pure-Python enumerator in tests.

def uni_cost_table(vocab: DataFrame) -> DataFrame:
    """(token, c): millinat integer cost grid over a (token, cnt)
    vocab — round(1000 * ln(Z / cnt)), Z = sum of counts, so all
    downstream comparison is exact BIGINT arithmetic (the DoReMi grid
    trick; +1e-9 nudge shared with the oracle's ROUND)."""
    z = vocab.agg(F.sum("cnt").cast("long").alias("z"))
    # bounded: 1-row Z scalar
    return vocab.crossJoin(F.broadcast(z)).select(
        "token",
        F.round(
            F.lit(1000) * F.log(F.col("z") * 1.0 / F.col("cnt"))
            + F.lit(1e-9)
        )
        .cast("long")
        .alias("c"),
    )


def uni_viterbi_toks(words: DataFrame, ucost: DataFrame) -> DataFrame:
    """(word, toks): the Viterbi segmentation of every distinct word
    under an ARBITRARY (token, c) cost table — backward DP over
    positions, linear in word length. A piece absent from the cost
    table (pruned by an EM m-step) is an invalid lattice edge: its
    cost join comes back NULL and the candidate falls to the max-cost
    sentinel, exactly like a too-long piece."""
    j = piece_lattice(
        words,
        ucost,
        range(1, MAX_PIECE + 1),
        lambda l: [F.col("c").alias(f"c{l}")],
    )
    costs = j.groupBy("word").agg(
        F.expr(
            "transform(array_sort(collect_list("
            "  struct(pos, c1, c2, c3, c4))),"
            " x -> struct(x.c1 as c1, x.c2 as c2, x.c3 as c3,"
            "             x.c4 as c4))"
        ).alias("costs")
    )

    # Backward Viterbi fold. Accumulator = suffix-best entries, element
    # 1 = position p+1 (prepend-built); at step i, p = len - i + 1 and
    # candidate token length l is valid iff l <= size(acc). Candidates
    # compare by the (cost, space-joined-string) TOTAL ORDER via
    # least() on structs; invalid lengths use a max-cost sentinel.
    def cand(l: int) -> str:
        return f"""
            IF({l} <= size(acc)
               AND element_at(costs, length(word) - i + 1).c{l}
                   IS NOT NULL,
               named_struct(
                   'cost', element_at(costs, length(word) - i + 1).c{l}
                           + element_at(acc, {l}).cost,
                   'str', CASE WHEN element_at(acc, {l}).str = ''
                               THEN substring(word,
                                              length(word) - i + 1, {l})
                               ELSE concat(
                                   substring(word,
                                             length(word) - i + 1, {l}),
                                   ' ', element_at(acc, {l}).str) END),
               named_struct('cost', CAST(9223372036854775807 AS BIGINT),
                            'str', ''))"""

    fold = f"""
        aggregate(
            sequence(1, length(word)),
            array(named_struct('cost', CAST(0 AS BIGINT), 'str', '')),
            (acc, i) -> concat(
                array(least({cand(1)}, {cand(2)}, {cand(3)}, {cand(4)})),
                acc),
            acc -> split(element_at(acc, 1).str, ' '))
    """
    return costs.select("word", F.expr(fold).alias("toks"))


def uni_em_state(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(vocab, cost) after ``UNI_EM_ROUNDS`` SentencePiece-style
    hard-EM cycles (Kudo 2018, Viterbi-approximated e-step):

      seed    = every substring of length 1..4, occurrence-weighted;
      e-step  = Viterbi-segment every distinct word under the current
                millinat costs (the existing uni_viterbi_toks
                machinery — pruned pieces are invalid lattice edges);
      m-step  = piece count := sum over words of n * uses; keep single
                chars ALWAYS (Laplace floor 1, so segmentability is
                invariant), keep multi-char pieces only if used,
                capped at the top UNI_EM_TOPK under the
                (count DESC, token ASC) total order (TakeOrdered —
                never a single-partition sort); re-normalize costs
                over the new total.

    Scale shape: every frame is the Heaps-bounded word table or the
    Zipf-bounded vocab; the corpus is never touched after wp_tables'
    single scan. Each round = one fold over distinct words + one
    explode-agg + one limit — no shuffle touches corpus-sized data.
    ``localCheckpoint`` per round truncates lineage (the
    components/pagerank pattern): each Viterbi fold references the
    cost table 4 times, so an un-truncated chain grows the plan — and
    the fold's codegen — 4x per round."""
    from change_data_capture_poc_spark.functions.caching import (
        free_local_checkpoint,
    )

    words, chars, _freq, _tot = wp_tables(spark, sf_dir)
    # Seed support: every substring up to MAX_PIECE, no admission
    # threshold — the seed lattice must cover every substring so each
    # word has >= 1 segmentation.
    vocab = substring_freq(words, 1, "cnt")
    cost = uni_cost_table(vocab).localCheckpoint()
    for _ in range(UNI_EM_ROUNDS):
        toks = uni_viterbi_toks(words, cost)
        cnts = (
            toks.join(words, "word")
            .select("n", F.explode("toks").alias("token"))
            .groupBy("token")
            .agg(F.sum("n").cast("long").alias("cnt"))
            .localCheckpoint()
        )
        ch = chars.join(cnts, "token", "left").select(
            "token",
            F.greatest(F.coalesce(F.col("cnt"), F.lit(0)), F.lit(1))
            .cast("long")
            .alias("cnt"),
        )
        multi = (
            cnts.where(F.length("token") >= 2)
            .orderBy(F.col("cnt").desc(), "token")
            .limit(UNI_EM_TOPK)
        )
        prev_vocab, prev_cost = vocab, cost
        vocab = ch.unionByName(multi).localCheckpoint()
        cost = uni_cost_table(vocab).localCheckpoint()
        # The new round's checkpoints above are EAGER, so nothing
        # references the superseded round's blocks any more — drop
        # them now instead of leaking them for the session lifetime
        # (release_pins only covers persist_once pins).
        free_local_checkpoint(prev_cost)
        free_local_checkpoint(prev_vocab)
        free_local_checkpoint(cnts)
    return vocab, cost
