"""Incremental (mergeable) aggregation — materialized-view maintenance.

At 100 TB you never recompute a rollup from scratch when a new batch
lands: you keep a *partial-aggregate state* table (count / sum / min /
max per group — each algebraically mergeable) and fold the delta batch
into it.  ``state(base) ⊕ state(delta) == state(base ∪ delta)`` is the
law that makes this sound; `finalize` derives the non-mergeable
aggregates (avg) from the merged state.

This is the same partial/final split Catalyst performs inside a single
hash aggregate (SURVEY.md §4) — lifted to a *cross-batch* operator so
the partial states can be persisted between pipeline runs.

Money columns ride as exact integer cents end-to-end (see
functions.exact for why doubles cannot round-trip across engines).

Reference parity note: the reference's closest analogue is the
full-replace reload (`pipeline.py:163-170` — recompute everything,
overwrite the table); this operator is the scale-correct replacement.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from week4_musemotion_spark.functions.exact import cents, int_div_round

_STATE_COLS = ("cnt", "sum_cents", "min_cents", "max_cents")


def aggregate_state(df: DataFrame, keys: Sequence[str], money_col: str) -> DataFrame:
    """Partial-aggregate state of ``money_col`` per ``keys`` group.

    Every state column is mergeable: counts and sums add, mins/maxes
    combine by min/max.  One map-side-combined shuffle per batch.
    """
    c = cents(money_col)
    return df.groupBy(*keys).agg(
        F.count(c).alias("cnt"),
        F.sum(c).alias("sum_cents"),
        F.min(c).alias("min_cents"),
        F.max(c).alias("max_cents"),
    )


def merge_states(*states: DataFrame) -> DataFrame:
    """Fold any number of partial states into one.

    Union is bag-append (no shuffle); the single groupBy re-shuffles
    only the *state* rows — |groups| × |batches| rows, not the raw
    data — which is what makes nightly-delta maintenance O(delta)
    instead of O(history).
    """
    if not states:
        raise ValueError("merge_states needs at least one state")
    merged = states[0]
    for s in states[1:]:
        merged = merged.unionByName(s)
    keys = [c for c in merged.columns if c not in _STATE_COLS]
    return merged.groupBy(*keys).agg(
        F.sum("cnt").alias("cnt"),
        F.sum("sum_cents").alias("sum_cents"),
        F.min("min_cents").alias("min_cents"),
        F.max("max_cents").alias("max_cents"),
    )


def finalize(state: DataFrame) -> DataFrame:
    """Derive the presentation aggregates from a (merged) state:
    avg in exact cents via integer round-half-away division."""
    return state.select(
        *[c for c in state.columns if c not in _STATE_COLS],
        F.col("cnt"),
        F.col("sum_cents"),
        F.col("min_cents"),
        F.col("max_cents"),
        F.when(
            F.col("cnt") > 0,
            F.when(
                F.col("sum_cents") >= 0,
                int_div_round(F.col("sum_cents"), F.col("cnt")),
            ).otherwise(-int_div_round(-F.col("sum_cents"), F.col("cnt"))),
        ).alias("avg_cents"),
    )
