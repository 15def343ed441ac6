"""Property tests for the winnowing selection (provenance) — pure
Python reference vs the DuckDB oracle fragment on ADVERSARIAL token
streams the real corpus never produces: tiny alphabets (mass hash
ties, exercising the rightmost-on-ties packed-key encoding), lengths
straddling the k and w boundaries, and constant documents (every
window tied).  No Spark session — the Spark twin is pinned to the
same oracle by the provenance oracle tests on the real corpus.
"""

from __future__ import annotations

import hashlib
import re

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st

from week4_musemotion_spark.queries.provenance import _WK, _WW, _winnow_sel_sql

#: 3-token alphabet: with k=4 grams over 3 symbols there are at most
#: 81 distinct grams, so long documents repeat grams constantly and
#: every window is tie-heavy.
_TOKENS = st.lists(st.sampled_from(["a", "b", "ab"]), min_size=0, max_size=64)


def _py_selection(text: str) -> set[tuple[int, int]]:
    """Literal Schleimer et al. selection: min hash per window of
    _WW grams, rightmost on ties; returns (hash, pos) prints."""
    toks = [t for t in re.split(r"\s+", text) if t]
    grams = [" ".join(toks[i : i + _WK]) for i in range(len(toks) - _WK + 1)]
    hs = [int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % (1 << 40) for g in grams]
    sel: set[tuple[int, int]] = set()
    for i in range(_WW - 1, len(hs)):
        lo, best = None, None
        for j in range(i - _WW + 1, i + 1):
            if lo is None or hs[j] <= lo:  # <= keeps the rightmost
                lo, best = hs[j], j
        sel.add((hs[best], best))
    return sel


def _oracle_selection(text: str) -> set[tuple[int, int]]:
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents (doc_id BIGINT, source VARCHAR, text VARCHAR)"
    )
    con.execute("INSERT INTO documents VALUES (1, 's', ?)", [text])
    rows = con.execute(
        f"""WITH {_winnow_sel_sql()}
        SELECT DISTINCT selkey FROM sel WHERE pos >= {_WW - 1}"""
    ).fetchall()
    # unpack the 40+20-bit key: hash = key >> 20, pos = 2^20-1 - low20
    return {(k >> 20, (1 << 20) - 1 - (k & ((1 << 20) - 1))) for (k,) in rows}


@settings(max_examples=60, deadline=None)
@given(_TOKENS)
def test_packed_key_selection_equals_literal_rule(toks):
    text = " ".join(toks)
    assert _oracle_selection(text) == _py_selection(text)


def test_constant_document_all_ties():
    # every gram identical -> every window fully tied -> the
    # rightmost position of each window is selected, one print per
    # position from w-1 onward, all sharing one hash
    text = " ".join(["a"] * 30)
    got = _oracle_selection(text)
    n_grams = 30 - _WK + 1
    assert got == _py_selection(text)
    assert len({h for h, _ in got}) == 1
    assert {p for _, p in got} == set(range(_WW - 1, n_grams))
