"""Plan-quality sweep: one line per registered query summarizing the
physical plan (shuffles, joins, top-k fusion, codegen, scans) so a
pathological plan stands out at a glance.

Usage: python tools/audit_plans.py [sf_dir] [--json]

``--json`` emits one JSON object of per-query plan metrics counted
on the SIMPLE plan (each node appears once — the table mode's
formatted plan repeats every node in a numbered detail section, so
its counts read doubled; kept as-is for round-over-round
comparability).  Snapshot the JSON to a tracked ``PLANS_r{N}.json``
and diff with tools/compare_plans.py to catch plan regressions (an
accidentally introduced exchange/scan) the way BENCH_FULL_r{N}
catches runtime ones.
"""

from __future__ import annotations

import json
import os
import sys


def plan_metrics(p: str) -> dict[str, int]:
    """Node counts over a SIMPLE-mode physical plan string.

    No codegen metric: under AQE the pre-execution plan carries no
    ``*(id)`` annotations (AdaptiveSparkPlan isFinalPlan=false), so a
    whole-stage-codegen flag would read 0 for every query — dead
    noise in a tracked snapshot."""
    return {
        "exch": sum(
            1 for ln in p.splitlines() if "Exchange" in ln and "Reused" not in ln
        ),
        "bhj": p.count("BroadcastHashJoin"),
        "smj": p.count("SortMergeJoin"),
        "topk": p.count("TakeOrderedAndProject"),
        "scans": p.count("Scan parquet") + p.count("FileScan"),
    }


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--json"]
    as_json = "--json" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from week4_musemotion_spark.plans.audit import plan_string
    from week4_musemotion_spark.queries import REGISTRY
    from week4_musemotion_spark.session import get_spark

    spark = get_spark("audit-plans")
    out: dict[str, dict[str, int]] = {}
    if not as_json:
        print(f"{'query':30s} {'exch':>4} {'bhj':>3} {'smj':>3} {'topk':>4} {'wsc':>3} {'scans':>5}")
    for name, spec in REGISTRY.items():
        try:
            df = spec.builder(spark, sf_dir)
            simple = plan_string(df, "simple")
        except Exception as e:  # noqa: BLE001
            if as_json:
                out[name] = {"error": f"{type(e).__name__}: {e}"}
            else:
                print(f"{name:30s} ERROR {type(e).__name__}: {e}")
            continue
        if as_json:
            out[name] = plan_metrics(simple)
            continue
        p = plan_string(df)
        exch = sum(1 for ln in p.splitlines() if "Exchange" in ln and "Reused" not in ln)
        print(
            f"{name:30s} {exch:>4} "
            f"{p.count('BroadcastHashJoin'):>3} {p.count('SortMergeJoin'):>3} "
            f"{p.count('TakeOrderedAndProject'):>4} "
            f"{'y' if '*(' in simple else 'n':>3} "
            f"{p.count('Scan parquet') + p.count('FileScan'):>5}"
        )
    if as_json:
        print(json.dumps(out, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
