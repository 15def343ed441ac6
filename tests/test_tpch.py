"""TPC-H-classic query shapes: golden values at sf0.001 + the plan
properties that matter at 100 TB (partial aggregation, broadcast of
true dims only, top-k fusion, EXISTS decorrelation to LEFT SEMI)."""

from __future__ import annotations

from tests.conftest import SF_SMOKE


def _q(name):
    from week4_musemotion_spark.queries import REGISTRY

    return REGISTRY[name].builder


def test_pricing_summary_golden(spark):
    rows = {
        (r.l_returnflag, r.l_linestatus): r
        for r in _q("q_tpch_pricing_summary")(spark, SF_SMOKE).collect()
    }
    assert len(rows) == 6
    af = rows[("A", "F")]
    assert (af.count_order, af.sum_qty) == (942, 23969)
    # exact-integer invariants: e4 revenue is <= 100x cents base, avg in [1,50] qty
    for r in rows.values():
        assert r.sum_disc_e4 <= r.sum_base_cents * 100
        assert 1 * 10_000 <= r.avg_qty_e4 <= 50 * 10_000


def test_pricing_summary_plan(spark):
    from tests.plan_asserts import assert_column_pruned, assert_partial_aggregation

    df = _q("q_tpch_pricing_summary")(spark, SF_SMOKE)
    assert_partial_aggregation(df)
    assert_column_pruned(df, "l_partkey")  # untouched columns never leave the scan
    assert_column_pruned(df, "l_orderkey")


def test_shipping_priority_topk_fused(spark):
    from tests.plan_asserts import assert_partial_aggregation, assert_top_k_fused

    df = _q("q_tpch_shipping_priority")(spark, SF_SMOKE)
    assert_top_k_fused(df)
    assert_partial_aggregation(df)
    out = df.collect()
    assert len(out) == 10
    revs = [r.revenue_e4 for r in out]
    assert revs == sorted(revs, reverse=True)


def test_order_priority_decorrelates_to_semi_join(spark):
    df = _q("q_tpch_order_priority")(spark, SF_SMOKE)
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    assert "LeftSemi" in plan  # correlated EXISTS must not duplicate order rows
    got = {r.o_orderpriority: r.order_count for r in df.collect()}
    assert got == {
        "1-URGENT": 4,
        "2-HIGH": 1,
        "3-MEDIUM": 2,
        "4-NOT SPECIFIED": 2,
        "5-LOW": 1,
    }


def test_local_supplier_broadcasts_dims(spark):
    from tests.plan_asserts import assert_broadcast_join

    df = _q("q_tpch_local_supplier")(spark, SF_SMOKE)
    assert_broadcast_join(df, forbid_sort_merge=False)
    for r in df.collect():
        assert r.revenue_e4 > 0


def test_promo_share_is_exact_ratio(spark):
    row = _q("q_tpch_promo_share")(spark, SF_SMOKE).collect()[0]
    assert 0 < row.promo_rev_e4 < row.total_rev_e4
    assert 0 < row.promo_share_e4 < 10_000
    # the e4 share must be the exactly-rounded integer ratio
    assert row.promo_share_e4 == (2 * row.promo_rev_e4 * 10_000 + row.total_rev_e4) // (
        2 * row.total_rev_e4
    )


def test_big_orders_aggregates_before_join(spark):
    df = _q("q_tpch_big_orders")(spark, SF_SMOKE)
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    # the HAVING aggregate must appear below the joins (fact shrinks first):
    # formatted explain lists scans bottom-up; the lineitem aggregate exists
    assert "HashAggregate" in plan
    out = df.collect()
    assert 0 < len(out) <= 100
    assert all(r.sum_qty > 150 for r in out)
    prices = [r.o_totalprice_cents for r in out]
    assert prices == sorted(prices, reverse=True)
