"""The shared densified-daily-grid helpers (provenance._daily_dense /
_daily_dense_sql) on a corpus that ACTUALLY has day gaps — the
testdata has none at any SF (verified: 0 missing day cells), so the
dropout-visibility behavior the grid exists for is otherwise never
exercised by the differential battery."""

from __future__ import annotations

import datetime as dt

import duckdb
import pandas as pd


def _gapped_events(tmp_path):
    """Two event types over 15 days; 'steady' fires daily, 'flaky'
    goes silent for days 5..9 (a 5-day dropout inside its span)."""
    rows = []
    base = dt.datetime(2025, 1, 1)
    eid = 0
    for day in range(15):
        for _ in range(3):
            rows.append((eid, base + dt.timedelta(days=day, hours=1), 1, "steady", 1.0, "{}"))
            eid += 1
        if not (5 <= day <= 9):
            rows.append((eid, base + dt.timedelta(days=day, hours=2), 2, "flaky", 1.0, "{}"))
            eid += 1
    df = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"])
    path = tmp_path / "events.parquet"
    df.to_parquet(path)
    return str(tmp_path)


def test_dense_grid_fills_dropout_days(spark, tmp_path):
    from week4_musemotion_spark.queries.provenance import _daily_dense, _daily_dense_sql

    sf_dir = _gapped_events(tmp_path)
    got = _daily_dense(spark, sf_dir).toPandas()

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'")
    want = con.execute(f"WITH {_daily_dense_sql()} SELECT * FROM dense").fetchdf()
    key = lambda d: sorted(map(tuple, d[["event_type", "day_idx", "cnt"]].values.tolist()))  # noqa: E731
    assert key(got) == key(want), "Spark and DuckDB must densify identically"

    flaky = got[got.event_type == "flaky"].sort_values("day_idx")
    assert len(flaky) == 15, "span covers the dropout"
    assert (flaky.cnt == 0).sum() == 5, "the 5 silent days carry cnt=0"
    steady = got[got.event_type == "steady"]
    assert (steady.cnt == 3).all()


def test_dropout_moves_the_cusum_and_lag(spark, tmp_path):
    """The reason the grid exists: on the densified series the
    dropout days contribute negative CUSUM deviations and the lag-7
    residual is a true 7-calendar-day difference; on the raw
    (gap-compressed) series both effects silently vanish."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from week4_musemotion_spark.queries.provenance import _daily_dense

    sf_dir = _gapped_events(tmp_path)
    dense = _daily_dense(spark, sf_dir).filter(F.col("event_type") == "flaky")
    w = Window.partitionBy("event_type").orderBy("day_idx")
    resid = dense.select(
        (F.col("cnt") - F.lag("cnt", 7).over(w)).alias("r")
    ).toPandas().r.dropna()
    # day 11 (cnt 1) minus day 4 (cnt 1) = 0, but day 7..9 (cnt 0)
    # minus day 0..2 (cnt 1) = -1 and day 12..14 (1) minus 5..7 (0)
    # = +1 — the dropout is VISIBLE in the weekly residuals
    assert (resid < 0).any() and (resid > 0).any()
    # the gap-compressed series (no densify) has constant cnt=1 and
    # therefore all-zero residuals: the dropout would be invisible
    raw = dense.filter(F.col("cnt") > 0).select(
        (F.col("cnt") - F.lag("cnt", 7).over(w)).alias("r")
    ).toPandas().r.dropna()
    assert (raw == 0).all()
