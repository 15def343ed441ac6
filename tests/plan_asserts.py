"""Physical-plan assertions: assert the plan you'd want, not just the
answer you'd want.

At 100 TB a correct-but-unpushed filter is an outage: these helpers
inspect ``explain("formatted")`` output (via the package's
``plan_string``) so tests can pin the plan properties that matter —
predicate pushdown into the parquet scan, column pruning
(ReadSchema), broadcast joins for dimensions, top-k fusion
(TakeOrderedAndProject), and shuffle counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from week4_musemotion_spark.plans.audit import plan_string


def pushed_filters(plan: str) -> str:
    return "\n".join(line for line in plan.splitlines() if "PushedFilters" in line)


def read_schemas(plan: str) -> list[str]:
    return [line.split("ReadSchema:", 1)[1].strip() for line in plan.splitlines() if "ReadSchema:" in line]


def assert_filter_pushed(df: DataFrame, column: str) -> None:
    """The scan itself must carry a filter on ``column`` (row-group /
    page skipping), not just a post-scan Filter node."""
    pf = pushed_filters(plan_string(df))
    assert column in pf, f"no pushed filter on {column}; PushedFilters lines:\n{pf}"


def assert_column_pruned(df: DataFrame, banned_column: str) -> None:
    """``banned_column`` must not be read from any scan (IO pruning)."""
    schemas = read_schemas(plan_string(df))
    assert schemas, "no ReadSchema found in plan"
    for s in schemas:
        assert banned_column not in s, f"scan reads unneeded column {banned_column}: {s}"


def assert_broadcast_join(df: DataFrame, forbid_sort_merge: bool = True) -> None:
    plan = plan_string(df)
    assert "BroadcastHashJoin" in plan, f"expected BroadcastHashJoin:\n{plan[:2000]}"
    if forbid_sort_merge:
        assert "SortMergeJoin" not in plan, "dimension join degraded to SortMergeJoin"


def assert_top_k_fused(df: DataFrame) -> None:
    """ORDER BY + LIMIT must plan as TakeOrderedAndProject (per-
    partition heaps + merge), never a global sort."""
    plan = plan_string(df)
    assert "TakeOrderedAndProject" in plan, f"top-k not fused:\n{plan[:2000]}"


def count_shuffles(df: DataFrame) -> int:
    """Number of Exchange operators in the (initial) physical plan —
    AQE may later coalesce them, but each is a full-data rewrite."""
    plan = plan_string(df)
    return sum(1 for line in plan.splitlines() if "Exchange" in line and "reuse" not in line.lower())


def assert_partial_aggregation(df: DataFrame) -> None:
    """A groupBy must plan partial (map-side) + final hash aggregates
    so the shuffle carries pre-combined groups, not raw rows."""
    plan = plan_string(df)
    assert plan.count("HashAggregate") >= 2, f"no partial aggregation:\n{plan[:2000]}"


def assert_whole_stage_codegen(df: DataFrame) -> None:
    plan = plan_string(df, mode="simple")
    assert "*(" in plan, "no WholeStageCodegen stage in plan"
