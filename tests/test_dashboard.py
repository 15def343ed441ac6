"""Dashboard service layer: cached-frame + aggregate-collect loop
(ref streamlit_app.py:140-223), including the golden KPI values and
the empty-selection guard."""

from __future__ import annotations

import pytest


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


def test_render_text_and_empty_guard(dash):
    from week4_musemotion_spark.dashboard import render_text

    full = render_text(dash)
    assert "Total Vehicles: 1,498" in full
    assert "--- Vehicles by Make ---" in full
    empty = render_text(dash, city=["no-such-city"])
    assert empty == "No data available based on the current filter settings!"


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
