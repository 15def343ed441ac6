"""SURVEY §2 partial-closers: the KPI row of an empty input (A8),
explicit row INSERT (C2), DROP TABLE wrapper (C5)."""

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


def test_append_rows_single_insert(spark, tmp_path):
    from week4_musemotion_spark.sources.sinks import append_rows, write_parquet

    path = str(tmp_path / "t")
    base = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    write_parquet(base, path)
    append_rows(spark, path, [(3, "c")], schema="id long, v string")
    got = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert got == [(1, "a"), (2, "b"), (3, "c")]


def test_drop_table_if_exists(spark):
    from week4_musemotion_spark.sources.sinks import drop_table

    spark.sql("CREATE TABLE IF NOT EXISTS t_drop_me (id INT) USING parquet")
    assert spark.catalog.tableExists("t_drop_me")
    drop_table(spark, "t_drop_me")
    assert not spark.catalog.tableExists("t_drop_me")
    drop_table(spark, "t_drop_me")  # absent: no error
