"""SimHash (64-bit) near-duplicate fingerprinting.

Engine-internal variant of the portable minhash operator: uses Spark's
built-in ``xxhash64`` (JVM-side, codegen'd — no Python, no md5 string
round-trips). Per token the hash contributes +1/-1 to each of 64 bit
positions; the sign vector's bit pattern is the fingerprint. Documents
within a small Hamming distance are near-duplicates.

Fully columnar: tokens → int64 hashes → per-bit contributions via
bit arithmetic folded with ``aggregate`` — one projection, no explode,
no shuffle. (No SQL oracle: DuckDB lacks xxhash64; determinism and
near-dup behavior are pytest-verified instead.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from change_data_capture_poc_spark.functions.hashing import md5_prefix


# 2^b as signed-long literals; bit 63 is the sign bit (-2^63).
_POW2 = [1 << b for b in range(63)] + [-(1 << 63)]


def simhash64(tokens: Column) -> Column:
    """64-bit simhash of an array<string> column, as a signed long.

    Single-pass formulation: ONE fold over the token hashes carrying a
    64-slot vote array, then one zip to assemble the bits. A
    loop-over-bits formulation (transform over 0..63 with an inner
    aggregate) re-evaluates the hash array per bit — expressions
    referenced from inside HOF lambdas are inlined per element, a 64x
    blowup. Bit tests go through a literal power-of-two array
    (shift-by-column isn't expressible in the Python DSL; AND with 2^b
    is equivalent).
    """
    hashes = F.transform(tokens, lambda t: F.xxhash64(t))
    pows = F.array(*[F.lit(p).cast("long") for p in _POW2])
    # acc[b] += (bit b of h set ? +1 : -1), one pass over hashes.
    bit_votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(
            acc,
            pows,
            lambda a, p: a + F.when(h.bitwiseAND(p) != 0, 1).otherwise(-1),
        ),
    )
    # bit b of the fingerprint = (votes[b] > 0).
    bits = F.zip_with(
        bit_votes,
        pows,
        lambda c, p: F.when(c > 0, p).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(
        bits, F.lit(0).cast("long"), lambda acc, v: acc + v
    )


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints."""
    return F.bit_count(a.bitwiseXOR(b))


def first_matching_band(
    ha: Column, hb: Column, band_bits: int, n_bands: int
) -> Column:
    """Index of the LOWEST band on which two fingerprints agree.

    Pure expression on the two fingerprint columns (both sides of a
    band self-join already carry them), assuming at least one band
    matches — true by construction for band-join output. Keeping only
    rows where the joined band equals this index emits each colliding
    pair exactly ONCE, replacing the post-join DISTINCT whose shuffle
    carried the candidate fan-out (the 8x scale probe measured that
    shuffle growing super-linearly with in-bucket density; this way
    the pair stream never shuffles at all)."""
    x = ha.bitwiseXOR(hb)
    mask = F.lit((1 << band_bits) - 1)

    def band_is_equal(j: int) -> Column:
        return F.shiftright(x, band_bits * j).bitwiseAND(mask) == F.lit(0)

    expr = F.when(band_is_equal(0), F.lit(0))
    for j in range(1, n_bands - 1):
        expr = expr.when(band_is_equal(j), F.lit(j))
    return expr.otherwise(F.lit(n_bands - 1))


def simhash32_portable_pandas(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Arrow-vectorized portable simhash: the md5-derived 32-bit token
    hashes stay JVM-side (one ``transform`` pass), the 32-bit vote
    accumulation runs as numpy bit arithmetic per Arrow batch —
    bit-identical to ``simhash32_portable`` (same hashes, same votes,
    same >0 tie rule) at a fraction of the interpreted-fold cost
    (measured ~4x at sf0.1). Same split as ``simhash_documents_pandas``
    for the xxhash64 variant.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    hashed = df.select(
        id_col,
        F.transform(
            F.split(F.col(text_col), " "), md5_prefix
        ).alias("hx"),
    )
    out_schema = T.StructType(
        [
            T.StructField(id_col, hashed.schema[id_col].dataType),
            T.StructField("simhash", T.LongType()),
        ]
    )

    def vote(batches):
        shifts = np.arange(32, dtype=np.uint64)
        for pdf in batches:
            fps = np.empty(len(pdf), dtype=np.int64)
            for i, hx in enumerate(pdf["hx"]):
                h = np.asarray(hx, dtype=np.uint64)
                bits = (h[:, None] >> shifts) & np.uint64(1)  # tokens x 32
                votes = bits.astype(np.int32).sum(axis=0) * 2 - len(h)
                fp = ((votes > 0).astype(np.uint64) << shifts).sum(
                    dtype=np.uint64
                )
                fps[i] = int(fp)
            yield pd.DataFrame({id_col: pdf[id_col], "simhash": fps})

    return hashed.mapInPandas(vote, out_schema)


def simhash32_portable(tokens: Column) -> Column:
    """32-bit simhash whose base hash is md5-derived, so DuckDB can
    replay the exact arithmetic (same bridge as dedup_minhash_lsh's
    portable base hash): per token, the first 8 hex chars of md5 give a
    32-bit integer; votes and the >0 tie rule are identical to
    ``simhash64``. Same single-fold structure — one pass over the hash
    array carrying a 32-slot accumulator (per-bit passes re-walk the
    array per bit; interpreted HOFs have no CSE).

    The xxhash64 form stays the engine-internal fast path; this form
    exists so the banded-LSH simhash pipeline has a hash-checkable
    oracle.
    """
    hashes = F.transform(tokens, md5_prefix)
    pows = F.array(*[F.lit(1 << b).cast("long") for b in range(32)])
    bit_votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 32),
        lambda acc, h: F.zip_with(
            acc,
            pows,
            lambda a, p: a + F.when(h.bitwiseAND(p) != 0, 1).otherwise(-1),
        ),
    )
    bits = F.zip_with(
        bit_votes,
        pows,
        lambda c, p: F.when(c > 0, p).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, v: acc + v)


def simhash_documents(df: DataFrame, text_col: str = "text") -> DataFrame:
    """documents → (doc_id, simhash) using whitespace tokens."""
    return df.select(
        "doc_id", simhash64(F.split(F.col(text_col), " ")).alias("simhash")
    )


def simhash_documents_pandas(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Arrow-vectorized simhash: token hashing stays JVM-side
    (``xxhash64``), the 64-bit vote accumulation runs as numpy bit
    arithmetic per Arrow batch — bit-identical to ``simhash64`` (same
    hashes, same votes, same tie rule) at a fraction of the cost of
    the interpreted fold. Use this form in bulk pipelines; the pure
    expression form composes inside any single projection.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    hashed = df.select(
        id_col,
        F.transform(F.split(F.col(text_col), " "), lambda t: F.xxhash64(t)).alias(
            "hx"
        ),
    )
    out_schema = T.StructType(
        [
            T.StructField(id_col, hashed.schema[id_col].dataType),
            T.StructField("simhash", T.LongType()),
        ]
    )

    def vote(batches):
        shifts = np.arange(64, dtype=np.uint64)
        for pdf in batches:
            fps = np.empty(len(pdf), dtype=np.int64)
            for i, hx in enumerate(pdf["hx"]):
                h = np.asarray(hx, dtype=np.int64).astype(np.uint64)
                bits = (h[:, None] >> shifts) & np.uint64(1)  # tokens x 64
                votes = bits.astype(np.int32).sum(axis=0) * 2 - len(h)
                fp = np.uint64(0)
                fp = ((votes > 0).astype(np.uint64) << shifts).sum(
                    dtype=np.uint64
                )
                fps[i] = fp.astype(np.int64)
            yield pd.DataFrame({id_col: pdf[id_col], "simhash": fps})

    return hashed.mapInPandas(vote, out_schema)
