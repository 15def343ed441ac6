"""Merge law for operators.incremental: state(A) ⊕ state(B) must equal
state(A ∪ B) exactly (integer cents — no float tolerance needed)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from week4_musemotion_spark.operators.incremental import (
    aggregate_state,
    finalize,
    merge_states,
)
from week4_musemotion_spark.sources.tables import load_table

KEYS = ("o_orderpriority",)


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_merge_law_two_batches(spark):
    o = load_table(spark, SF_SMOKE, "orders")
    a = o.filter(F.col("o_orderkey") % 2 == 0)
    b = o.filter(F.col("o_orderkey") % 2 == 1)
    merged = merge_states(
        aggregate_state(a, KEYS, "o_totalprice"),
        aggregate_state(b, KEYS, "o_totalprice"),
    )
    direct = aggregate_state(o, KEYS, "o_totalprice")
    assert _sorted_rows(merged) == _sorted_rows(direct)


def test_merge_is_associative_across_three_batches(spark):
    o = load_table(spark, SF_SMOKE, "orders")
    parts = [o.filter(F.col("o_orderkey") % 3 == i) for i in range(3)]
    states = [aggregate_state(p, KEYS, "o_totalprice") for p in parts]
    left_fold = merge_states(merge_states(states[0], states[1]), states[2])
    flat = merge_states(*states)
    assert _sorted_rows(left_fold) == _sorted_rows(flat)


def test_finalize_avg_negative_and_empty(spark):
    rows = [("g", -10.00), ("g", -10.01), ("h", 3.335)]
    df = spark.createDataFrame(rows, ["k", "v"])
    out = {
        r["k"]: r.asDict()
        for r in finalize(aggregate_state(df, ("k",), "v")).collect()
    }
    # avg of -1000, -1001 cents = -1000.5 → half-away-from-zero → -1001
    assert out["g"]["avg_cents"] == -1001
    assert out["g"]["sum_cents"] == -2001
    assert out["g"]["min_cents"] == -1001
    assert out["g"]["max_cents"] == -1000
    # 3.335 * 100 rounds to 334 cents? round(333.49999…)=333 vs round(333.5)=334:
    # cents() uses Spark round() on the double product — just assert consistency
    # between sum and avg for a single-row group.
    assert out["h"]["avg_cents"] == out["h"]["sum_cents"]


def test_merge_states_rejects_empty():
    import pytest

    with pytest.raises(ValueError):
        merge_states()
