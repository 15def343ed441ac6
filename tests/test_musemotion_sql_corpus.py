"""The reference's own SQL corpus must run end-to-end on this engine
against its own (cleaned) data — the §3.2 SQL lifecycle."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def corpus_results(spark, reference_csv):
    from week4_musemotion_spark.operators.etl import clean_musemotion
    from week4_musemotion_spark.queries.musemotion_sql import run_corpus
    from week4_musemotion_spark.sources.csv import read_headerless_csv

    clean = clean_musemotion(read_headerless_csv(spark, reference_csv)).cache()
    return {name: df for name, df in run_corpus(spark, clean)}


def test_corpus_runs_completely(corpus_results):
    from week4_musemotion_spark.queries.musemotion_sql import MUSEMOTION_SQL

    assert set(corpus_results) == set(MUSEMOTION_SQL)
    for name, df in corpus_results.items():
        assert df.count() >= 0, name


def test_counts_and_semantics(corpus_results):
    r = corpus_results
    assert r["select_limit"].count() == 10
    assert r["filter_sort"].count() == 100

    top = r["count_by_make"].collect()
    assert top[0]["make"] == "TESLA" and top[0]["cnt"] == 605

    ages = [row.vehicle_age for row in r["vehicle_age"].collect()]
    assert ages == sorted(ages)

    having = r["having_avg_range"].collect()
    assert all(row.cnt > 10 for row in having)

    cte = r["cte_top_makes"].collect()
    assert len(cte) == 200
    assert cte[0]["cnt"] == 605  # most frequent make leads

    # outer-join semantics: utilities dim is a strict subset of fact
    # utility values, so left join has nulls and right join covers dim
    left = r["left_join_utilities"].collect()
    assert any(row.utility_name is None for row in left)
    n_dim = corpus_results["right_join_utilities"].select("utility_id").distinct().count()
    assert n_dim > 0


def test_scalar_subquery_threshold(corpus_results):
    rows = corpus_results["above_avg_range"].collect()
    assert rows and all(row.electric_range is not None for row in rows)
    vals = [row.electric_range for row in rows]
    assert vals == sorted(vals, reverse=True)
