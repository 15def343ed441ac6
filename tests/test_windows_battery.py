"""Semantic tests for the window/conditional-agg battery
(windows_battery.py) — the differential oracle covers values; these
pin the invariants that make the queries *right*, not just matching."""

from __future__ import annotations

from tests.conftest import SF_SMOKE


def _q(name):
    from week4_musemotion_spark.queries import REGISTRY

    return REGISTRY[name].builder


def test_rolling_window_bounds_and_peers(spark):
    rows = _q("q_rolling_window")(spark, SF_SMOKE).collect()
    assert rows
    by_cust_day = {}
    for r in rows:
        by_cust_day.setdefault((r.o_custkey, r.day_key), []).append(r.rolling_30d_cents)
    # RANGE framing: same-day orders are peers — identical rolling value
    for vals in by_cust_day.values():
        assert len(set(vals)) == 1
    # the rolling sum includes at least the current row's own order
    assert all(r.rolling_30d_cents > 0 for r in rows)


def test_window_ranks_invariants(spark):
    rows = _q("q_window_ranks")(spark, SF_SMOKE).collect()
    parts = {}
    for r in rows:
        parts.setdefault(r.o_orderpriority, []).append(r)
    for members in parts.values():
        n = len(members)
        assert {r.quartile for r in members} <= {1, 2, 3, 4}
        # rank is 1..n with a total order key → dense, no gaps
        assert sorted(r.rnk for r in members) == list(range(1, n + 1))
        # cume_dist * n recovers the integer "rows at or below" count
        assert max(r.n_at_or_below for r in members) == n
        assert min(r.n_at_or_below for r in members) >= 1


def test_conditional_agg_consistency(spark):
    rows = _q("q_conditional_agg")(spark, SF_SMOKE).collect()
    assert len(rows) == 5  # orders has 5 priority classes
    for r in rows:
        assert 0 <= r.n_big <= r.n_orders
        assert r.n_customers <= r.n_orders
        assert r.finished_cents >= 0


def test_collect_values_sorted_deterministic(spark):
    rows = _q("q_collect_values")(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        segs = r.segments.split(",")
        assert segs == sorted(segs)
        assert len(segs) == len(set(segs))


def _n_exchanges(df):
    from week4_musemotion_spark.plans.audit import plan_string

    # simple mode inlines node arguments ("Exchange hashpartitioning(...)");
    # formatted mode splits them into a details section
    return plan_string(df, "simple").count("Exchange hashpartitioning")


def test_window_plans_single_shuffle(spark):
    # both window queries must shuffle exactly once, on the partition key
    assert _n_exchanges(_q("q_rolling_window")(spark, SF_SMOKE)) == 1
    assert _n_exchanges(_q("q_window_ranks")(spark, SF_SMOKE)) == 1


def test_conditional_agg_partial_aggregation(spark):
    # the distinct-agg plan still partial-aggregates the non-distinct branches
    from week4_musemotion_spark.plans.audit import plan_string

    plan = plan_string(_q("q_conditional_agg")(spark, SF_SMOKE))
    assert "partial" in plan.lower()


def test_collect_values_broadcasts_dim(spark):
    from tests.plan_asserts import assert_broadcast_join

    assert_broadcast_join(_q("q_collect_values")(spark, SF_SMOKE))


def test_streaks_invariants_and_plan(spark):
    rows = _q("q_streaks")(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 1 <= r.longest_streak
        assert 1 <= r.n_streaks
    # minimal plan: one exchange for the (cust, day) distinct, one for
    # the per-customer window; BOTH island aggregates reuse the
    # customer partitioning (subset-clustering satisfaction) — no
    # third or fourth shuffle
    assert _n_exchanges(_q("q_streaks")(spark, SF_SMOKE)) == 2
