"""Dashboard service layer — the reference Streamlit app's
interaction loop (streamlit_app.py:140-223), Spark-shaped.

The loop the reference runs per widget refresh, and the scale contract
this layer keeps:

1. ONE cleaned DataFrame, cached once (`.cache()`), shared by every
   widget — the fact table is never re-read or re-cleaned per
   interaction.  The cache holds only :data:`WIDGET_COLUMNS`, the
   columns the widgets read, so the scan parses, trims and stores
   nothing else (the WKT coordinates are never parsed).
2. Filters compose lazily (`isin` predicates on the cached frame) —
   nothing executes until a widget needs numbers.
3. Only AGGREGATES ever leave the cluster, and each selection costs
   ONE of them: filter options are one grouped collect for all
   columns, and the KPI row and both charts slice one grouping-sets
   aggregate (sets (make), (city), () with count, the KPI averages and
   ``grouping_id()``), collected once per selection and shared by the
   three widgets — `.toPandas()` lands k rows, never the fact table.
   (The reference holds the whole CSV in driver pandas; at 100 TB
   only this aggregate-collect shape survives.)

A front end (``streamlit_app.py``) calls these methods and only lays
out what they return; streamlit itself is not a dependency here.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from week4_musemotion_spark.operators.etl import clean_musemotion, kpi_columns
from week4_musemotion_spark.sources.csv import read_headerless_csv

#: Sidebar filter columns (streamlit_app.py:161-163).
FILTER_COLUMNS = ("city", "model", "make")

#: The columns the filters, the KPI row and the charts read: all the
#: cached frame holds.
WIDGET_COLUMNS = (*FILTER_COLUMNS, "year", "electric_range")

#: ``grouping_id()`` of each grouping set over the keys (make, city):
#: a bit is set for every key the set rolls up.
_BY_MAKE, _BY_CITY, _TOTAL = 1, 2, 3


class Dashboard:
    """Cached-frame dashboard backend over the MuseMotion dataset."""

    def __init__(self, spark: SparkSession, csv_path: str):
        self.spark = spark
        clean = clean_musemotion(read_headerless_csv(spark, csv_path))
        self.df = clean.select(*WIDGET_COLUMNS).cache()
        #: ``(selection, widget rows)`` of the last selection served.
        #: One tuple, replaced whole, so a reader never pairs one
        #: selection with another's rows.
        self._last: tuple[DataFrame, pd.DataFrame] | None = None

    #: Max options surfaced per sidebar filter — a high-cardinality
    #: column must not flood the driver (or the UI) with millions of
    #: distincts; the cap keeps the most frequent values.
    MAX_FILTER_OPTIONS = 1000

    def filter_options(self) -> dict[str, list[str]]:
        """Sorted distinct values per sidebar filter (A6, ref
        streamlit_app.py:144-151) — ONE collect for all columns
        (explode to (col, value) pairs → one grouped count → a
        per-column rank; under AQE a job per shuffle-map stage plus
        the result job), capped at :attr:`MAX_FILTER_OPTIONS` per
        column by frequency so only ≤ k·|columns| tiny rows ever reach
        the driver."""
        pairs = self.df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(c).alias("col"), F.col(c).cast("string").alias("val"))
                        for c in FILTER_COLUMNS
                    ]
                )
            ).alias("p")
        ).select("p.col", "p.val")
        ranked = (
            pairs.filter(F.col("val").isNotNull())
            .groupBy("col", "val")
            .agg(F.count("*").alias("freq"))
            .withColumn(
                "rk",
                F.row_number().over(
                    Window.partitionBy("col").orderBy(F.col("freq").desc(), F.col("val").asc())
                ),
            )
            .filter(F.col("rk") <= self.MAX_FILTER_OPTIONS)
            .select("col", "val")
        )
        out: dict[str, list[str]] = {c: [] for c in FILTER_COLUMNS}
        for r in ranked.collect():
            out[r["col"]].append(r["val"])
        return {c: sorted(vs) for c, vs in out.items()}

    def select(self, **choices: list[str] | None) -> DataFrame:
        """Lazy composed `isin` selection (ref streamlit_app.py:
        166-170); None/absent = filter not narrowed."""
        out = self.df
        for col, values in choices.items():
            if values is not None:
                out = out.filter(F.col(col).isin(list(values)))
        return out

    # --- widget feeds: one aggregate per selection, shared by all three ---

    def _widget_rows(self, selection: DataFrame) -> pd.DataFrame:
        """The KPI and chart rows of ``selection``: one grouping-sets
        aggregate, collected once and reused while the same selection
        object is asked for its next widget."""
        last = self._last
        if last is not None and last[0] is selection:
            return last[1]
        rows = (
            selection.groupingSets([["make"], ["city"], []], "make", "city")
            .agg(*kpi_columns(), F.grouping_id().alias("gid"))
            .toPandas()
        )
        self._last = (selection, rows)
        return rows

    def _chart(self, selection: DataFrame, key: str, gid: int, ascending: bool) -> pd.DataFrame:
        """Group sizes by ``key`` (ref streamlit_app.py:205,215), sorted
        by count, ties by key.  A NULL key is a group of its own."""
        rows = self._widget_rows(selection)
        chart = rows.loc[rows["gid"] == gid, [key, "total_vehicles"]]
        chart = chart.rename(columns={"total_vehicles": "count"})
        return chart.sort_values(["count", key], ascending=[ascending, True]).reset_index(drop=True)

    def kpis(self, selection: DataFrame) -> pd.DataFrame:
        """KPI row (A4) with the empty-selection guard (A8): an empty
        selection has no grand-total row, so the frame has zero rows."""
        rows = self._widget_rows(selection)
        total = rows.loc[rows["gid"] == _TOTAL].drop(columns=["make", "city", "gid"])
        return total.reset_index(drop=True)

    def vehicles_by_make(self, selection: DataFrame) -> pd.DataFrame:
        return self._chart(selection, "make", _BY_MAKE, ascending=True)

    def counts_by_city(self, selection: DataFrame) -> pd.DataFrame:
        return self._chart(selection, "city", _BY_CITY, ascending=False)

