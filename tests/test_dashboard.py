"""Dashboard service layer: cached-frame + aggregate-collect loop
(ref streamlit_app.py:140-223).  The golden KPI values need the
reference CSV; the widget values, the empty-selection guard, tie order
and the job budget are checked on a generated dirty CSV against
pandas."""

from __future__ import annotations

import csv
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
import pytest

#: Rows per make and per city of the generated CSV: ties on both
#: charts, and a NULL make written as each of the cleaner's null
#: literals.
GEN_MAKES = {"TESLA": 12, "KIA": 5, "BMW": 5, "FORD": 3, None: 5}
GEN_CITIES = {"Seattle": 10, "Tacoma": 10, "Yakima": 6, "Bothell": 4}


@pytest.fixture(scope="module")
def dash(spark, reference_csv):
    from week4_musemotion_spark.dashboard import Dashboard

    return Dashboard(spark, reference_csv)


def test_unfiltered_kpis_match_reference(dash):
    kpi = dash.kpis(dash.select()).iloc[0]
    assert int(kpi.total_vehicles) == 1498
    assert float(kpi.avg_year) == 2021.1
    assert float(kpi.avg_electric_range) == 61.88


def test_filter_options_and_narrowing(dash):
    opts = dash.filter_options()
    assert set(opts) == {"city", "model", "make"}
    assert all(vs == sorted(vs) and len(vs) > 0 for vs in opts.values())
    one_city = opts["city"][:1]
    sel = dash.select(city=one_city)
    by_city = dash.counts_by_city(sel)
    assert by_city["city"].tolist() == one_city
    assert int(dash.kpis(sel).iloc[0].total_vehicles) == int(by_city["count"].sum())


def test_streamlit_shell_guards_missing_dep():
    """The UI shell (streamlit_app.py) must stay optional: without
    streamlit installed, importing it exits with a clear message
    instead of an ImportError traceback, and the engine package never
    imports it."""
    import importlib
    import importlib.util

    if importlib.util.find_spec("streamlit") is not None:
        pytest.skip("streamlit installed - guard path not reachable")
    with pytest.raises(SystemExit) as ei:
        importlib.import_module("streamlit_app")
    assert "optional" in str(ei.value)


@pytest.fixture(scope="module")
def generated(spark, tmp_path_factory):
    """A dirty headerless CSV and the clean rows it must yield:
    padded text, null literals, a non-numeric year, rows the cleaner
    drops for a missing VIN or city, and trailing junk fields."""
    from week4_musemotion_spark.dashboard import Dashboard

    rng = np.random.default_rng(7)
    makes = [m for m, n in GEN_MAKES.items() for _ in range(n)]
    cities = [c for c, n in GEN_CITIES.items() for _ in range(n)]
    rng.shuffle(makes)
    lines, clean = [], []
    for i, (make, city) in enumerate(zip(makes, cities)):
        year = None if i % 7 == 3 else int(rng.integers(2010, 2025))
        ev_range = int(rng.integers(0, 300))
        raw_make = ("nan", "None", " ")[i % 3] if make is None else f"  {make} " if i % 4 == 0 else make
        lines.append([f"VIN{i:07d}", f"\t{city}", "unknown" if year is None else str(year), raw_make,
                      "MODEL Y", "BEV", "eligible", str(ev_range), str(1000 + i),
                      "POINT (-122.3 47.6)", "PUGET SOUND", "", ")", "0"])
        clean.append({"city": city, "year": year, "make": make, "electric_range": ev_range})
    lines.append(["None", "Seattle", "2020", "TESLA", "M", "BEV", "e", "10", "1", "", "", ""])
    lines.append(["VIN9999999", "nan", "2020", "TESLA", "M", "BEV", "e", "10", "1", "", "", ""])
    path = tmp_path_factory.mktemp("dashboard") / "dirty.csv"
    with open(path, "w", newline="") as fh:
        csv.writer(fh).writerows(lines)
    dash = Dashboard(spark, str(path))
    yield dash, pd.DataFrame(clean)
    dash.df.unpersist()


def _half_up(x: float, nd: int) -> float:
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-nd), rounding=ROUND_HALF_UP))


def _expected_chart(rows: pd.DataFrame, key: str, ascending: bool) -> list[tuple]:
    counts = rows.groupby(key, dropna=False).size()
    pairs = [(None if pd.isna(k) else k, int(n)) for k, n in counts.items()]
    return sorted(pairs, key=lambda kn: ((kn[1] if ascending else -kn[1]), kn[0] is None, kn[0] or ""))


def _as_pairs(chart: pd.DataFrame, key: str) -> list[tuple]:
    return [(k, int(n)) for k, n in zip(chart[key], chart["count"])]


@pytest.mark.parametrize(
    "choice",
    [{}, {"city": ["Yakima"]}, {"make": ["KIA", "BMW", "FORD"]}, {"city": ["Seattle", "Bothell"], "make": ["TESLA"]}],
    ids=["unfiltered", "one_city", "multi_make", "city_and_make"],
)
def test_generated_widgets_match_pandas(generated, choice):
    dash, clean = generated
    rows = clean
    for col, values in choice.items():
        rows = rows[rows[col].isin(values)]
    sel = dash.select(**choice)
    kpi, by_make, by_city = dash.kpis(sel), dash.vehicles_by_make(sel), dash.counts_by_city(sel)

    assert list(kpi.columns) == ["total_vehicles", "avg_year", "avg_electric_range"]
    assert len(kpi) == 1
    k = kpi.iloc[0]
    assert int(k.total_vehicles) == len(rows)
    assert float(k.avg_year) == _half_up(rows["year"].dropna().mean(), 1)
    assert float(k.avg_electric_range) == _half_up(rows["electric_range"].mean(), 2)
    assert list(by_make.columns) == ["make", "count"] and list(by_city.columns) == ["city", "count"]
    assert str(by_make["count"].dtype) == "int64" and str(by_city["count"].dtype) == "int64"
    # charts: make by ascending count, city by descending, ties by key
    assert _as_pairs(by_make, "make") == _expected_chart(rows, "make", ascending=True)
    assert _as_pairs(by_city, "city") == _expected_chart(rows, "city", ascending=False)


def test_generated_null_make_is_its_own_group(generated):
    dash, clean = generated
    by_make = dash.vehicles_by_make(dash.select())
    nulls = by_make[by_make["make"].isna()]
    assert nulls["count"].tolist() == [GEN_MAKES[None]]
    assert len(by_make) == len(GEN_MAKES)


def test_generated_tie_order_is_deterministic(generated):
    dash, _ = generated
    # KIA and BMW tie at 5 with the NULL make; Seattle and Tacoma tie at 10
    by_make = dash.vehicles_by_make(dash.select())
    assert _as_pairs(by_make, "make") == [("FORD", 3), ("BMW", 5), ("KIA", 5), (None, 5), ("TESLA", 12)]
    by_city = dash.counts_by_city(dash.select())
    assert by_city["city"].tolist() == ["Seattle", "Tacoma", "Yakima", "Bothell"]


def test_generated_empty_selection(generated):
    dash, _ = generated
    sel = dash.select(city=["no-such-city"])
    kpi = dash.kpis(sel)
    assert kpi.empty
    assert list(kpi.columns) == ["total_vehicles", "avg_year", "avg_electric_range"]
    assert dash.vehicles_by_make(sel).empty and dash.counts_by_city(sel).empty


def test_generated_cache_holds_only_widget_columns(generated):
    """The cached frame keeps the five columns the widgets read, and
    its plan trims and parses nothing else: no regex survives pruning
    (the trims are ``btrim``, the WKT parse is pruned away)."""
    dash, _ = generated
    assert dash.df.columns == ["city", "model", "make", "year", "electric_range"]
    plan = dash.df._jdf.queryExecution().optimizedPlan().toString()
    assert "regexp_extract" not in plan and "regexp_replace" not in plan, plan


def test_generated_interaction_job_budget(spark, generated):
    """One interaction (a selection and its three widgets) runs one
    aggregate: a shuffle-map job and a result job."""
    dash, _ = generated
    dash.filter_options()  # materialise the cached frame first
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    first_job = scheduler.nextJobId()
    sel = dash.select(city=["Seattle", "Tacoma"])
    dash.kpis(sel), dash.vehicles_by_make(sel), dash.counts_by_city(sel)
    jobs = scheduler.nextJobId() - first_job
    assert jobs <= 2, jobs
