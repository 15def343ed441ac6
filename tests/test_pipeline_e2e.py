"""End-to-end pipeline test: the reference's `python pipeline.py`
lifecycle (extract → clean → load) against its real CSV, with the
upsert dedup variant collapsing its 317 duplicate VINs."""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def test_pipeline_end_to_end(spark, tmp_path, reference_csv):
    from week4_musemotion_spark.operators.pipeline import run_musemotion_pipeline

    dest = str(tmp_path / "musemotion_clean")
    run_musemotion_pipeline(spark, reference_csv, dest)
    out = spark.read.parquet(dest)
    assert out.count() == 1498
    assert out.columns[-2:] == ["latitude", "longitude"]

    # upsert-dedup variant: one row per VIN (reference data has 317 dups)
    dest2 = str(tmp_path / "musemotion_dedup")
    run_musemotion_pipeline(spark, reference_csv, dest2, dedup_key="vin")
    deduped = spark.read.parquet(dest2)
    n_vins = deduped.select("vin").distinct().count()
    assert deduped.count() == n_vins
    assert n_vins < 1498


def test_pipeline_partitioned_write_prunes(spark, tmp_path, reference_csv):
    from week4_musemotion_spark.operators.pipeline import run_musemotion_pipeline

    dest = str(tmp_path / "musemotion_by_type")
    run_musemotion_pipeline(spark, reference_csv, dest, partition_by=["vehicle_type"])
    # partition dirs exist and a filtered read prunes to one of them
    dirs = [d for d in os.listdir(dest) if d.startswith("vehicle_type=")]
    assert len(dirs) >= 2
    bev = spark.read.parquet(dest).filter(
        F.col("vehicle_type") == "Battery Electric Vehicle (BEV)"
    )
    from week4_musemotion_spark.plans.audit import plan_string

    assert "PartitionFilters" in plan_string(bev)
