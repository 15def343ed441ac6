"""Dataset profiling: per-column quality metrics in one pass.

The ingest-side hygiene report a training pipeline runs before
trusting a new drop: row count, per-column null counts and distinct
counts, numeric min/max — all computed in a single aggregate job
(one scan, partial+final agg), never one job per column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def profile(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """One row per column: nulls, distincts, min/max (numeric only).
    Distinct counts are exact."""
    from week4_musemotion_spark.sources.tables import spread

    cols = columns or df.columns
    schema = dict(df.dtypes)
    # spread: the multi-distinct aggregate expands rows map-side
    # (one duplicate per countDistinct column) — over a single-task
    # scan ALL of that work is single-threaded; no-op on wide scans
    # and on frames below the cheap-kernel floor
    df = spread(df.select(*cols), min_rows=65536)
    aggs = []
    for c in cols:
        aggs.append(F.count(F.lit(1)).alias(f"{c}__rows"))
        aggs.append((F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nulls"))
        aggs.append(F.countDistinct(c).alias(f"{c}__distinct"))
        numeric = schema[c] in ("int", "bigint", "double", "float", "smallint", "tinyint") or schema[
            c
        ].startswith("decimal")  # Spark renders decimals as 'decimal(p,s)'
        if numeric:
            aggs.append(F.min(c).cast("double").alias(f"{c}__min"))
            aggs.append(F.max(c).cast("double").alias(f"{c}__max"))
        else:
            aggs.append(F.lit(None).cast("double").alias(f"{c}__min"))
            aggs.append(F.lit(None).cast("double").alias(f"{c}__max"))
    wide = df.agg(*aggs).collect()[0]

    rows = [
        (
            c,
            wide[f"{c}__rows"],
            wide[f"{c}__nulls"],
            wide[f"{c}__distinct"],
            wide[f"{c}__min"],
            wide[f"{c}__max"],
        )
        for c in cols
    ]
    out_schema = T.StructType(
        [
            T.StructField("column", T.StringType()),
            T.StructField("n_rows", T.LongType()),
            T.StructField("n_nulls", T.LongType()),
            T.StructField("n_distinct", T.LongType()),
            T.StructField("min_value", T.DoubleType()),
            T.StructField("max_value", T.DoubleType()),
        ]
    )
    return df.sparkSession.createDataFrame(rows, out_schema)
