"""SURVEY §2 partial-closer: the KPI row of an empty input (A8)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_is_empty_guard_and_kpi_skip(spark):
    """An empty input keeps its KPI row: count 0 (the empty-selection
    guard lives in the dashboard, tests/test_dashboard.py)."""
    from week4_musemotion_spark.operators.etl import kpi_summary

    df = spark.read.parquet(f"{SF_SMOKE}/customer.parquet").select(
        F.col("c_custkey").alias("year"), F.col("c_nationkey").alias("electric_range")
    )
    rows = kpi_summary(df.filter(F.lit(False))).collect()
    assert len(rows) == 1 and rows[0]["total_vehicles"] == 0
