"""Deterministic, engine-portable hashing.

Spark's builtin ``hash``/``xxhash64`` are fast but not reproducible
outside the JVM, which breaks differential testing against a SQL
oracle.  Instead we derive a 60-bit integer from the leading 15 hex
digits of ``md5`` — md5 is available (and identical) in Spark,
DuckDB, Python's hashlib, and virtually every engine:

    Spark : conv(substr(md5(s), 1, 15), 16, 10) :: bigint
    DuckDB: CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)

15 hex digits = 60 bits, always < 2^63 so the cast never overflows.
All distributed dedup/fingerprint operators (MinHash, SimHash,
winnowing) build their hash families from this primitive via cheap
seeded re-hashing, staying entirely JVM-side (no Python UDFs).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Number of leading md5 hex digits used (60 bits).
_HEX_DIGITS = 15


def stable_hash64(col: Column | str, seed: int | None = None) -> Column:
    """60-bit engine-portable hash of a string column (JVM-side only).

    ``seed`` prepends a salt so independent hash functions can be
    derived from the same input.
    """
    c = F.col(col) if isinstance(col, str) else col
    if seed is not None:
        c = F.concat(F.lit(f"{seed}:"), c)
    return F.conv(F.substring(F.md5(c), 1, _HEX_DIGITS), 16, 10).cast("long")


def stable_hash64_sql(
    expr: str, seed: int | None = None, seed_expr: str | None = None
) -> str:
    """The DuckDB/ANSI rendering of :func:`stable_hash64`.

    Kept adjacent to the Spark form so the two can never drift —
    every oracle that hashes uses this helper's output verbatim.
    ``seed_expr`` is the ROW-VALUED seed form (a SQL expression whose
    value replays ``stable_hash64(col, seed=k)`` for each row's own
    ``k``): it renders the same ``<seed>:`` prefix as the literal
    form, so the two are interchangeable per-row.
    """
    if seed is not None and seed_expr is not None:
        raise ValueError("pass seed or seed_expr, not both")
    if seed is not None:
        expr = f"('{seed}:' || {expr})"
    elif seed_expr is not None:
        expr = f"(CAST({seed_expr} AS VARCHAR) || ':' || {expr})"
    return f"CAST(('0x' || substr(md5({expr}), 1, {_HEX_DIGITS})) AS BIGINT)"
