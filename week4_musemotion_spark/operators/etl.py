"""The MuseMotion cleaning pipeline — the reference's transform layer
(pipeline.py:81-123) as one declarative Spark plan.

Steps (order preserved from the reference):
1. trim + nullify text columns        (pipeline.py:99-102)
2. drop rows with null vin/city       (pipeline.py:105)
3. null-on-failure numeric casts      (pipeline.py:108-110)
4. WKT point → latitude/longitude     (pipeline.py:114-116, via
   builtin regexp — the reference used a row-wise Python .apply)
5. final projection                   (pipeline.py:119-120)

The whole pipeline is a single narrow-transform chain: no shuffle,
runs at scan speed in one stage, scales linearly with input splits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from week4_musemotion_spark.functions.cleaning import (
    extract_point_latlon,
    safe_cast,
    trim_nullify,
)

#: Text columns the reference trims/nullifies (pipeline.py:99-101).
TEXT_COLUMNS = ["vin", "city", "make", "model", "vehicle_type", "eligibility", "utility", "location"]

#: (column, spark type) for the reference's safe numeric casts.
NUMERIC_CASTS = [("year", "int"), ("electric_range", "int"), ("vehicle_id", "long")]

#: Critical columns: a row without these is dropped (pipeline.py:105).
CRITICAL_COLUMNS = ["vin", "city"]

FINAL_COLUMNS = [
    "vin",
    "city",
    "year",
    "make",
    "model",
    "vehicle_type",
    "eligibility",
    "electric_range",
    "vehicle_id",
    "location",
    "utility",
    "latitude",
    "longitude",
]


def clean_musemotion(df: DataFrame, drop_location: bool = False) -> DataFrame:
    """Raw (all-string, positionally named) → the typed post-ETL
    columns (``FINAL_COLUMNS``; reference pipeline.py:119-120).

    One projection: trim the text columns, drop rows missing a critical
    column, then cast and parse in the final select.  A caller that
    selects fewer columns prunes the rest, down to the CSV fields read.

    ``drop_location`` reproduces the load_local_to_db.py:108 variant
    that drops the WKT source column after extraction.
    """
    trimmed = df.select(
        *[trim_nullify(c).alias(c) if c in TEXT_COLUMNS else F.col(c) for c in df.columns]
    ).na.drop(subset=CRITICAL_COLUMNS)
    lat, lon = extract_point_latlon("location")
    parsed = {c: safe_cast(c, t) for c, t in NUMERIC_CASTS} | {"latitude": lat, "longitude": lon}
    cols = [c for c in FINAL_COLUMNS if not (drop_location and c == "location")]
    return trimmed.select(*[parsed[c].alias(c) if c in parsed else F.col(c) for c in cols])


def kpi_columns() -> list[Column]:
    """The dashboard KPI row's aggregates (ref streamlit_app.py:180-190):
    total vehicles, avg year (1 dp), avg electric range (2 dp).  One
    definition for :func:`kpi_summary` and the dashboard's
    grouping-sets aggregate."""
    return [
        F.count("*").alias("total_vehicles"),
        F.round(F.avg("year"), 1).alias("avg_year"),
        F.round(F.avg("electric_range"), 2).alias("avg_electric_range"),
    ]


def kpi_summary(df: DataFrame) -> DataFrame:
    """The KPI row of ``df``: one row, count 0 and NULL averages when
    ``df`` is empty."""
    return df.agg(*kpi_columns())
