"""Portable log-bucket quantile sketch — mergeable quantiles in
exact integer arithmetic.

The sketch is the DDSketch idea (Masson, Rim & Lee, VLDB 2019 —
relative-error quantiles from log-spaced buckets) restricted to a
base the SQL layer can compute EXACTLY: quarter-octave buckets.  A
non-negative integer ``v`` maps to

- bucket ``v`` itself for ``v <= 3`` (exact at the origin), else
- ``4*blen + sub`` where ``blen = length(bin(v))`` (the bit length,
  via the engine-portable ``bin()`` string — no float ``log``) and
  ``sub`` re-reads the two bits after the leading one, splitting
  each octave ``[2^(blen-1), 2^blen)`` into four equal sub-ranges.

Bucket width is ``2^(blen-3)`` ≤ ¼ of the bucket's lower bound, so a
quantile read off the bucket lower bound under-reads by < 25 %
relative (and is exact for v ≤ 3) — the classic sketch trade: state
collapses to at most ``4*64 + 4`` buckets for the full int64 range
no matter how many rows went in, partials merge by summing bucket
counts, and the whole build is one grouped COUNT (map-side
combined).  At 100 TB: one scan, a shuffle of O(groups × 260) rows,
then window arithmetic on the tiny count table.

Everything here has a byte-identical DuckDB rendering (the ``_sql``
twins), so quantile queries are value-oracle-able like the other
portable sketches (HLL / bloom / Misra-Gries in
``operators/sketches.py``, count-min in ``queries/sketch_audits.py``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from week4_musemotion_spark.functions.exact import int_div_trunc


def _bit(b: Column, i: int) -> Column:
    """0/1 value of the i-th character (1-based) of a bin() string;
    positions past the end read '' -> 0, so v <= 3 is safe even
    though its bucket never uses the sub bits."""
    return F.when(F.substring(b, i, 1) == "1", 1).otherwise(0)


def log_bucket(v: Column) -> Column:
    """Quarter-octave bucket id of a non-negative integer column.

    Engine-portable: ``bin()`` + substring bit reads, no float log,
    no shift-by-column (Spark's shiftleft/shiftright take only
    literal shift amounts)."""
    b = F.bin(v)
    blen = F.length(b)
    sub = 2 * _bit(b, 2) + _bit(b, 3)
    return F.when(v <= 3, v).otherwise(4 * blen + sub).cast("int")


def log_bucket_sql(expr: str) -> str:
    """DuckDB rendering of :func:`log_bucket` (kept adjacent so the
    two can never drift)."""
    b = f"bin({expr})"
    bit = lambda i: f"(CASE WHEN substring({b}, {i}, 1) = '1' THEN 1 ELSE 0 END)"  # noqa: E731
    return (
        f"CAST(CASE WHEN ({expr}) <= 3 THEN ({expr}) "
        f"ELSE 4 * length({b}) + 2 * {bit(2)} + {bit(3)} END AS INT)"
    )


def bucket_bounds() -> list[tuple[int, int]]:
    """``(bucket, lower_bound)`` decode pairs — a projection of
    :func:`bucket_bounds_full`, the ONE generator of the bucket
    geometry (precomputed in Python big-int arithmetic; one source
    renders into both engines, the RBO-coefficient-table pattern)."""
    return [(b, lb) for b, lb, _ in bucket_bounds_full()]


def bucket_bounds_full() -> list[tuple[int, int, int]]:
    """``(bucket, lb, ub)`` — inclusive value range per bucket."""
    out = [(v, v, v) for v in range(4)]
    for blen in range(3, 64):
        step = 1 << (blen - 3)
        for sub in range(4):
            lb = (1 << (blen - 1)) + sub * step
            out.append((4 * blen + sub, lb, lb + step - 1))
    return out


def bucket_range_sql_cte() -> str:
    """``lbt(bucket, lb, ub)`` as a DuckDB CTE body."""
    rows = bucket_bounds_full()
    bs = ", ".join(str(b) for b, _, _ in rows)
    ls = ", ".join(str(lb) for _, lb, _ in rows)
    us = ", ".join(str(ub) for _, _, ub in rows)
    return (
        f"(SELECT CAST(unnest([{bs}]) AS INT) AS bucket, "
        f"CAST(unnest([{ls}]) AS BIGINT) AS lb, "
        f"CAST(unnest([{us}]) AS BIGINT) AS ub)"
    )


def bucket_range_table(df_or_spark) -> DataFrame:
    """The full decode as a (broadcastable) DataFrame ``(bucket, lb,
    ub)``."""
    spark = getattr(df_or_spark, "sparkSession", df_or_spark)
    return spark.createDataFrame(bucket_bounds_full(), "bucket int, lb long, ub long")


def bucket_lb_table(df_or_spark) -> DataFrame:
    """The decode pairs as a (broadcastable) DataFrame ``(bucket,
    lb)``."""
    spark = getattr(df_or_spark, "sparkSession", df_or_spark)
    return spark.createDataFrame(bucket_bounds(), "bucket int, lb long")


def bucket_lb_sql_cte() -> str:
    """``lbt(bucket, lb)`` as a DuckDB CTE body (unnest of the
    Python-precomputed pairs, same generator as the full table)."""
    pairs = bucket_bounds()
    bs = ", ".join(str(b) for b, _ in pairs)
    ls = ", ".join(str(lb) for _, lb in pairs)
    return (
        f"(SELECT CAST(unnest([{bs}]) AS INT) AS bucket, "
        f"CAST(unnest([{ls}]) AS BIGINT) AS lb)"
    )


def bucket_counts(df: DataFrame, group_cols: list[str], value_col: str) -> DataFrame:
    """The sketch build: ``(*group_cols, bucket, cnt)`` — one grouped
    count, NULL values contribute nothing.  Two sketches merge by
    summing ``cnt`` per bucket.

    NEGATIVE values fail the job instead of vanishing: a negative
    long's two's-complement ``bin()`` would map to bucket ids absent
    from the decode table, and the readout join would silently drop
    those rows from both ``cum`` and ``n`` — identically on both
    engines, i.e. the one failure mode the differential oracle
    cannot catch.  (``F.assert_true`` must ride a USED expression or
    Catalyst prunes it — hence the ``when`` wrap.)"""
    v = F.col(value_col)
    ok = F.assert_true(
        v >= 0, F.lit(f"bucket_counts: negative value in {value_col!r}")
    )
    return (
        df.filter(v.isNotNull())
        .groupBy(*group_cols, F.when(ok.isNull(), log_bucket(v)).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def quantiles_from_counts(
    counts: DataFrame,
    group_cols: list[str],
    ps: tuple[tuple[str, int, int], ...] = (
        ("p50", 1, 2),
        ("p90", 9, 10),
        ("p99", 99, 100),
    ),
) -> DataFrame:
    """Read quantiles off a bucket-count sketch: for each ``(name,
    p_num, p_den)`` the LOWER BOUND of the first bucket whose
    cumulative count reaches ``ceil(p * n)`` — deterministic integer
    arithmetic end to end, under-reads by < 25 % relative (exact for
    values <= 3).  Output: ``(*group_cols, n, <name>...)``."""
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = Window.partitionBy(*group_cols)
    lbt = bucket_lb_table(counts)
    cum = (
        counts.join(F.broadcast(lbt), "bucket")
        .withColumn("cum", F.sum("cnt").over(w))
        .withColumn("n", F.sum("cnt").over(wn))
    )
    aggs = [F.max("n").cast("long").alias("n")]
    for name, pn, pd_ in ps:
        # ceil(n * pn / pd) = (n*pn + pd - 1) div pd, exact integers
        k = int_div_trunc(F.col("n") * pn + (pd_ - 1), F.lit(pd_))
        aggs.append(F.min(F.when(F.col("cum") >= k, F.col("lb"))).alias(name))
    return cum.groupBy(*group_cols).agg(*aggs)


def quantiles_sql(
    source_cte: str,
    group_cols: list[str],
    value_expr: str,
    ps: tuple[tuple[str, int, int], ...] = (
        ("p50", 1, 2),
        ("p90", 9, 10),
        ("p99", 99, 100),
    ),
) -> str:
    """DuckDB rendering of build + readout over ``source_cte`` (a CTE
    name exposing ``group_cols`` and the value via ``value_expr``).
    Returns a full SELECT; embed after a WITH chain that defines
    ``source_cte``."""
    g = ", ".join(group_cols)
    gq = (g + ", ") if g else ""
    pexprs = ", ".join(
        f"CAST(min(CASE WHEN cum >= (n * {pn} + {pd_ - 1}) // {pd_} THEN lb END) AS BIGINT) AS {name}"
        for name, pn, pd_ in ps
    )
    part = f"PARTITION BY {g} " if g else ""
    return f"""
    SELECT {gq}CAST(max(n) AS BIGINT) AS n, {pexprs}
    FROM (
        SELECT {gq}cnt, lb,
               sum(cnt) OVER ({part}ORDER BY c.bucket
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               sum(cnt) OVER ({part.strip() if part else ''}) AS n
        FROM (
            SELECT {gq}bucket, count(*) AS cnt
            FROM (
                SELECT {gq}CASE WHEN ({value_expr}) < 0
                            THEN error('bucket_counts: negative value')
                            ELSE {log_bucket_sql(value_expr)} END AS bucket
                FROM {source_cte}
                WHERE ({value_expr}) IS NOT NULL
            )
            GROUP BY {gq}bucket
        ) c JOIN {bucket_lb_sql_cte()} lbt ON c.bucket = lbt.bucket
    )
    {f'GROUP BY {g}' if g else ''}
    """
