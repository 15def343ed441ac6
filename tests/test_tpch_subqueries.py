"""TPC-H batch 2 (Q6-Q10, Q13, Q15-Q17, Q19, Q21, Q22 silhouettes):
golden values at sf0.001/sf0.01 plus the decorrelation plan shapes —
NOT IN → broadcast LEFT ANTI, EXISTS+NOT EXISTS → semi+anti pair,
outer-join-condition placement, disjunct predicate extraction."""

from __future__ import annotations

from tests.conftest import SF_SMOKE

SF_001 = "/root/testdata/sf0.01"


def _q(name):
    from week4_musemotion_spark.queries import REGISTRY

    return REGISTRY[name].builder


def _plan(df):
    from week4_musemotion_spark.plans.audit import plan_string

    return plan_string(df)


# --- batch-1 file additions (tpch.py) --------------------------------------


def test_forecast_revenue_golden_and_pushdown(spark):
    from tests.plan_asserts import assert_filter_pushed

    df = _q("q_tpch_forecast_revenue")(spark, SF_SMOKE)
    assert_filter_pushed(df, "l_shipdate")
    assert_filter_pushed(df, "l_quantity")
    row = df.collect()[0]
    assert (row.revenue_e4, row.n_items) == (3658885609, 124)


def test_volume_shipping_symmetric_pairs(spark):
    out = _q("q_tpch_volume_shipping")(spark, SF_001).collect()
    pairs = {(r.supp_nation, r.cust_nation) for r in out}
    assert pairs == {("NATION_1", "NATION_2"), ("NATION_2", "NATION_1")}
    # totally ordered output
    keys = [(r.supp_nation, r.cust_nation, r.l_year) for r in out]
    assert keys == sorted(keys)


def test_market_share_exact_ratio(spark):
    rows = _q("q_tpch_market_share")(spark, SF_001).collect()
    assert [r.o_year for r in rows] == [1996, 1997]
    for r in rows:
        assert 0 <= r.nation_rev_e4 <= r.total_rev_e4
        assert r.mkt_share_e4 == (2 * r.nation_rev_e4 * 10_000 + r.total_rev_e4) // (
            2 * r.total_rev_e4
        )


def test_product_profit_grouped_and_ordered(spark):
    out = _q("q_tpch_product_profit")(spark, SF_SMOKE).collect()
    assert len(out) == 70
    # every (nation, year) group carries the exact e4 margin; on this
    # data extendedprice dwarfs the modeled qty×retail cost, so all
    # margins are positive — the column is still signed BIGINT
    assert all(r.profit_e4 > 0 for r in out)
    keys = [(r.nation, -r.o_year) for r in out]
    assert keys == sorted(keys)


def test_returned_items_topk(spark):
    from tests.plan_asserts import assert_top_k_fused

    df = _q("q_tpch_returned_items")(spark, SF_001)
    assert_top_k_fused(df)
    out = df.collect()
    assert len(out) == 20
    revs = [r.revenue_e4 for r in out]
    assert revs == sorted(revs, reverse=True)


def test_disjunct_revenue_pushes_part_predicates(spark):
    from week4_musemotion_spark.plans.audit import plan_string
    from tests.plan_asserts import pushed_filters

    df = _q("q_tpch_disjunct_revenue")(spark, SF_SMOKE)
    pushed = pushed_filters(plan_string(df))
    # Catalyst must factor the per-table conjuncts out of the OR and
    # push them into the scans: brand disjunction on part, quantity
    # bounds on lineitem
    assert "p_brand" in pushed
    assert "l_quantity" in pushed
    row = df.collect()[0]
    assert (row.revenue_e4, row.n_items) == (5886898051, 11)


# --- subquery family (tpch_subqueries.py) ----------------------------------


def test_order_distribution_counts_every_customer(spark):
    out = _q("q_tpch_order_distribution")(spark, SF_SMOKE).collect()
    total_customers = sum(r.custdist for r in out)
    from week4_musemotion_spark.sources.tables import load_table

    assert total_customers == load_table(spark, SF_SMOKE, "customer").count()
    # the join condition must stay in the ON clause: plan keeps LeftOuter
    assert "LeftOuter" in _plan(_q("q_tpch_order_distribution")(spark, SF_SMOKE))


def test_top_supplier_golden_with_ties_semantics(spark):
    out = _q("q_tpch_top_supplier")(spark, SF_SMOKE).collect()
    assert [(r.s_suppkey, r.s_name, r.total_revenue_e4) for r in out] == [
        (4, "Supplier#000000004", 14203406359)
    ]


def test_supplier_cnt_anti_join_and_bounds(spark):
    df = _q("q_tpch_supplier_cnt")(spark, SF_001)
    plan = _plan(df)
    assert "LeftAnti" in plan  # NOT IN over non-null key → anti join
    assert "BroadcastHashJoin" in plan  # denylist is tiny at every SF
    out = df.collect()
    assert all(0 < r.supplier_cnt <= 100 for r in out)  # 100 suppliers exist
    assert all(r.p_brand != "Brand#21" for r in out)


def test_small_qty_revenue_empty_group_null_semantics(spark):
    # sf0.001 has no qualifying rows: SUM over empty is NULL, count 0 —
    # exactly what the DuckDB oracle emits; a COALESCE(0) would hash-diverge
    row = _q("q_tpch_small_qty_revenue")(spark, SF_SMOKE).collect()[0]
    assert (row.total_cents, row.n_items, row.avg_yearly_cents) == (None, 0, None)


def test_small_qty_revenue_golden(spark):
    row = _q("q_tpch_small_qty_revenue")(spark, SF_001).collect()[0]
    assert (row.total_cents, row.n_items, row.avg_yearly_cents) == (
        274515750,
        41,
        39216536,
    )
    # integer annualization: round-half-up of total/7
    assert row.avg_yearly_cents == (2 * row.total_cents + 7) // 14


def test_waiting_supplier_semi_plus_anti(spark):
    df = _q("q_tpch_waiting_supplier")(spark, SF_SMOKE)
    plan = _plan(df)
    assert "LeftSemi" in plan  # EXISTS
    assert "LeftAnti" in plan  # NOT EXISTS
    assert [(r.s_name, r.numwait) for r in df.collect()] == [("Supplier#000000003", 20)]


def test_sales_opportunity_threshold_and_anti(spark):
    df = _q("q_tpch_sales_opportunity")(spark, SF_SMOKE)
    assert "LeftAnti" in _plan(df)  # NOT EXISTS on orders
    out = df.collect()
    assert [(r.cc, r.numcust, r.totacctbal_cents) for r in out] == [
        ("1", 3, 1988374),
        ("2", 3, 2516600),
        ("3", 3, 2201974),
        ("4", 5, 3572441),
        ("5", 1, 917631),
        ("7", 2, 1358516),
    ]
