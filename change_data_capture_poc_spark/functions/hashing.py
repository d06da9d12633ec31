"""md5-prefix integer hashes both engines compute identically.

The first 8 hex digits of an md5 digest, read as an integer, are the
portable hash of the query surface: Spark computes them with
``conv(substring(md5(...), 1, 8), 16, 10)``, DuckDB with
``('0x' || substring(md5(...), 1, 8))::BIGINT``, and the two agree to
the bit. Splits, samples and every portable sketch's register index
are built from them.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_prefix(col: Column) -> Column:
    """First 8 hex digits of md5(col-as-string) as a BIGINT in
    [0, 2^32) — the engine side of DuckDB's
    ``('0x' || substring(md5(x), 1, 8))::BIGINT``."""
    return F.conv(
        F.substring(F.md5(col.cast("string").cast("binary")), 1, 8),
        16,
        10,
    ).cast("long")


def md5_mod(col: Column, mod: int) -> Column:
    """``md5_prefix(col)`` reduced to [0, mod)."""
    return md5_prefix(col) % mod


def md5_prefix_sql(x: str, engine: str) -> str:
    """``md5_prefix`` of the SQL string expression ``x`` as an
    engine-specific SQL string (``engine`` is ``"spark"`` or
    ``"duck"``), for folds and oracles written as SQL text."""
    if engine == "spark":
        return f"CAST(conv(substring(md5({x}), 1, 8), 16, 10) AS BIGINT)"
    return f"('0x' || substring(md5({x}), 1, 8))::BIGINT"


def md5_bucket_sql(salt: str, key: str, mod: int, engine: str) -> str:
    """Salted md5-prefix bucket ``md5(salt || key)`` mod ``mod`` as an
    engine-specific SQL string. ``salt`` is an SQL string expression
    (a literal such as ``'0:'`` or a per-row one such as
    ``CAST(r.j AS VARCHAR) || ':'``); one salt per hash row gives the
    independent hash functions of Count-Min and Bloom."""
    if engine == "spark":
        return (
            f"CAST(conv(substring(md5(CAST(concat({salt}, {key}) "
            f"AS BINARY)), 1, 8), 16, 10) AS BIGINT) % {mod}"
        )
    return (
        f"('0x' || substring(md5({salt} || {key}), 1, 8))"
        f"::BIGINT % {mod}"
    )
