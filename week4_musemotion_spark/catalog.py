"""Schema reconciliation: header normalization + fuzzy column mapping.

Driver-side metadata logic (operates on schema, not rows — reference
streamlit_app.py:24-28,100-107); deliberately NOT a distributed
operator (SURVEY.md §7.4 item 6).
"""

from __future__ import annotations

import difflib
import re

#: Fuzzy-match cutoff for column mapping (reference
#: streamlit_app.py:106 uses difflib cutoff 0.6).
MAP_CUTOFF = 0.6


def normalize_name(name: str) -> str:
    """lowercase, strip, collapse non-alnum runs to underscores
    (reference streamlit_app.py:24-28)."""
    return re.sub(r"[^a-z0-9]+", "_", str(name).strip().lower()).strip("_")


def fuzzy_map_columns(actual: list[str], expected: list[str], cutoff: float = MAP_CUTOFF) -> dict[str, str]:
    """Map expected→actual column names with difflib fuzzy matching.

    Exact (normalized) matches win; remaining expected names take
    their closest unclaimed actual name above ``cutoff``.
    """
    norm_actual = {normalize_name(a): a for a in actual}
    mapping: dict[str, str] = {}
    claimed: set[str] = set()
    for e in expected:
        ne = normalize_name(e)
        if ne in norm_actual and norm_actual[ne] not in claimed:
            mapping[e] = norm_actual[ne]
            claimed.add(norm_actual[ne])
    for e in expected:
        if e in mapping:
            continue
        pool = [a for a in norm_actual if norm_actual[a] not in claimed]
        hit = difflib.get_close_matches(normalize_name(e), pool, n=1, cutoff=cutoff)
        if hit:
            mapping[e] = norm_actual[hit[0]]
            claimed.add(norm_actual[hit[0]])
    return mapping


def require_columns(mapping: dict[str, str], required: list[str]) -> None:
    """Required-column gate (reference streamlit_app.py:112-120)."""
    missing = [c for c in required if c not in mapping]
    if missing:
        raise ValueError(f"source is missing required columns: {missing}")
