"""Generate QUERIES.md — the full query catalog from the registry.

Usage: python tools/gen_query_catalog.py > QUERIES.md
"""

from __future__ import annotations

import os
import sys


def main() -> int:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from week4_musemotion_spark.queries import REGISTRY

    out = sys.stdout
    out.write("# QUERIES — the named query catalog\n\n")
    out.write(
        "Auto-generated from `week4_musemotion_spark.queries.REGISTRY` "
        "(`python tools/gen_query_catalog.py > QUERIES.md`).  Every row is a\n"
        "`queries()` entry in the driver contract; oracle = full DuckDB "
        "value-hash check, rows-only = approximate operator by design.\n\n"
    )
    n_oracle = sum(1 for s in REGISTRY.values() if s.oracle is not None)
    out.write(f"{len(REGISTRY)} queries, {n_oracle} with value oracles.\n\n")
    out.write("| query | covers | check | what it does |\n|---|---|---|---|\n")
    for name, spec in REGISTRY.items():
        doc = " ".join((spec.doc or "").split())
        if len(doc) > 160:
            doc = doc[:157] + "..."
        covers = ", ".join(spec.covers) or "—"
        check = "oracle" if spec.oracle is not None else "rows-only"
        out.write(f"| `{name}` | {covers} | {check} | {doc} |\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
