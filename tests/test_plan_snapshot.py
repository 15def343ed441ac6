"""Plan-shape regression canaries against the tracked PLANS_r{N}
snapshot (tools/audit_plans.py --json at sf0.01).

A handful of queries spanning the engine's plan shapes are re-planned
and their metrics compared to the committed snapshot — an
accidentally introduced Exchange/scan (the class of regression the
round-5 verdict flagged in q_pii_density) fails the suite instead of
waiting for a judge sweep.  Full-registry diffs run out-of-band via
tools/compare_plans.py.
"""

from __future__ import annotations

import glob
import json
import os

import pytest

_SF = "/root/testdata/sf0.01"

#: Canaries by plan family: broadcast top-k join, banded near-dup
#: join, sketch+verify aggregate, scaled semantic dedup, window
#: battery, pure scan-agg, CC clustering, bucketed set-join.
_CANARIES = (
    "q_cte_topk_join",
    "q_dedup_minhash",
    "q_heavy_hitters",
    "q_semantic_dedup_scaled",
    "q_rolling_window",
    "q_text_quality",
    "q_dedup_clusters",
    "q_jaccard_simjoin",
    "q_winnow_pairs",
)


def _latest_snapshot() -> dict:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = sorted(glob.glob(os.path.join(root, "PLANS_r*.json")))
    if not paths:
        pytest.skip("no PLANS_r*.json snapshot committed")
    with open(paths[-1]) as fh:
        return json.load(fh)


def test_canary_plan_shapes_match_snapshot(spark):
    from week4_musemotion_spark.plans.audit import plan_string
    from week4_musemotion_spark.queries import REGISTRY
    from tools.audit_plans import plan_metrics

    snap = _latest_snapshot()
    mismatches = {}
    for name in _CANARIES:
        want = snap.get(name)
        if want is None or "error" in want:
            mismatches[name] = f"missing/error in snapshot: {want}"
            continue
        got = plan_metrics(plan_string(REGISTRY[name].builder(spark, _SF), "simple"))
        if got != want:
            mismatches[name] = {"snapshot": want, "now": got}
    assert not mismatches, mismatches
