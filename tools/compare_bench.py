"""Diff two bench snapshots per query.

Usage: python tools/compare_bench.py OLD.json NEW.json [threshold]
       python tools/compare_bench.py OLD1.json,OLD2.json NEW1.json,NEW2.json

Reads the ``BENCH_FULL.json`` shape that ``bench.py`` writes
(``queries`` at the top level, seconds per query).  Compare two trees
measured in the same time window, never two rounds on their own.

Either side may be a COMMA-SEPARATED list of snapshots: per-query
times are then min-combined across the list.  This is the round-10
interleaved-A/B statistic (SCALING.md): on a host whose throughput
oscillates, the per-query minimum across same-window reps is the
only attributable number — single snapshots carry the oscillation.

Prints queries slower by more than ``threshold`` (default 1.5×, min
0.3s absolute — tiny queries are scheduler noise), new/removed
queries, and the total delta.  Exit 1 if any regression exceeds the
threshold, so CI/driver rounds can gate on it.
"""

from __future__ import annotations

import json
import sys


def load_queries(path: str) -> dict[str, float]:
    """Per-query seconds from a ``BENCH_FULL.json`` snapshot."""
    doc = json.load(open(path))
    if not isinstance(doc.get("queries"), dict):
        raise ValueError(f"{path}: no top-level queries map (not a BENCH_FULL.json)")
    return doc["queries"]


def load_side(spec: str) -> dict[str, float]:
    """One comparison side: a snapshot path, or a comma-separated
    list of same-tree rep snapshots min-combined per query (only
    queries present in EVERY rep survive — a query absent from one
    rep has no defensible minimum)."""
    maps = [load_queries(p) for p in spec.split(",")]
    common = set(maps[0]).intersection(*maps[1:])
    return {q: min(m[q] for m in maps) for q in common}


def main() -> int:
    old_path, new_path = sys.argv[1], sys.argv[2]
    threshold = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5
    old = load_side(old_path)
    new = load_side(new_path)

    regressions = []
    for name, t_new in sorted(new.items(), key=lambda kv: -kv[1]):
        t_old = old.get(name)
        if t_old is None:
            print(f"NEW       {name:32s} {t_new:6.2f}s")
            continue
        if t_new > t_old * threshold and t_new - t_old > 0.3:
            regressions.append(name)
            print(f"SLOWER    {name:32s} {t_old:6.2f}s -> {t_new:6.2f}s ({t_new / t_old:.1f}x)")
        elif t_old > t_new * threshold and t_old - t_new > 0.3:
            print(f"faster    {name:32s} {t_old:6.2f}s -> {t_new:6.2f}s")
    for name in sorted(set(old) - set(new)):
        print(f"REMOVED   {name}")
    t_old_sum, t_new_sum = sum(old.values()), sum(new.values())
    print(f"total: {t_old_sum:.1f}s -> {t_new_sum:.1f}s over {len(old)} -> {len(new)} queries")
    return 1 if regressions else 0


if __name__ == "__main__":
    sys.exit(main())
