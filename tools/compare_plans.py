"""Diff two plan-metrics snapshots (tools/audit_plans.py --json).

Usage: python tools/compare_plans.py OLD.json NEW.json

Prints one line per query whose plan shape changed (exchanges,
joins, top-k fusion, codegen, scans), plus added/removed queries.
Exit code 1 when any EXISTING query's metrics regressed (more
exchanges, scans or sort-merge joins, lost top-k fusion) so a CI
step can gate on it; shape changes that are strict improvements
report but do not fail.  Fewer broadcast joins is not a regression
by itself: joins moved under a new ``localCheckpoint`` drop out of
the static plan, and a broadcast join that degrades to a sort-merge
join still fails through ``smj``.
"""

from __future__ import annotations

import json
import sys

#: Metrics where an increase is a regression.
_UP_BAD = ("exch", "scans", "smj")
#: Metrics where a decrease is a regression.
_DOWN_BAD = ("topk",)


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__)
        return 2
    old = json.loads(open(sys.argv[1]).read())
    new = json.loads(open(sys.argv[2]).read())

    regressed = 0
    for name in sorted(set(old) | set(new)):
        if name not in old:
            print(f"ADDED    {name}: {new[name]}")
            continue
        if name not in new:
            print(f"REMOVED  {name}")
            continue
        o, n = old[name], new[name]
        if "error" in o or "error" in n:
            if o != n:
                print(f"ERRSTATE {name}: {o} -> {n}")
                regressed += "error" in n
            continue
        deltas = {k: (o.get(k, 0), n.get(k, 0)) for k in set(o) | set(n) if o.get(k, 0) != n.get(k, 0)}
        if not deltas:
            continue
        bad = any(nv > ov for k, (ov, nv) in deltas.items() if k in _UP_BAD) or any(
            nv < ov for k, (ov, nv) in deltas.items() if k in _DOWN_BAD
        )
        tag = "REGRESS " if bad else "improve "
        regressed += bad
        print(f"{tag} {name}: " + ", ".join(f"{k} {ov}->{nv}" for k, (ov, nv) in sorted(deltas.items())))
    print(f"{regressed} regressions")
    return 1 if regressed else 0


if __name__ == "__main__":
    sys.exit(main())
