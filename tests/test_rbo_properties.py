"""Property tests for the exact-integer RBO machinery (ranking_audits)
— the grid/X_d SQL against a literal Fraction implementation of
RBO_min on ADVERSARIAL rank lists (disjoint, identical, reversed,
random with partial overlap).  No Spark: the Spark twin shares the
coefficient table and is pinned to the same oracle by
the ranking-audit oracle tests on the real corpus."""

from __future__ import annotations

from fractions import Fraction

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st

from week4_musemotion_spark.queries.ranking_audits import (
    _RBO_COEF_SQL,
    _RBO_D,
    _RBO_K,
    _RBO_NUMS,
)

#: doc-id universe small enough to force overlaps AND allow disjoint
_LISTS = st.tuples(
    st.lists(st.integers(0, 30), min_size=0, max_size=_RBO_K, unique=True),
    st.lists(st.integers(0, 30), min_size=0, max_size=_RBO_K, unique=True),
)


def _py_rbo_min_ppm(a: list[int], b: list[int]) -> int:
    """Literal RBO_min (Webber et al. eq. 4 truncated at K, prefix
    overlaps over the given ranked lists) in exact ppm: Fraction
    arithmetic, floor to ppm — the independent model."""
    p = Fraction(9, 10)
    total = Fraction(0)
    for d in range(1, _RBO_K + 1):
        xd = len(set(a[:d]) & set(b[:d]))
        total += (1 - p) * p ** (d - 1) * Fraction(xd, d)
    return int(total * 1_000_000)  # floor for non-negative values


def _sql_rbo_min_ppm(a: list[int], b: list[int]) -> int:
    con = duckdb.connect()
    def rows(lst):
        if not lst:
            return "SELECT NULL::BIGINT AS doc_id, NULL::BIGINT AS rnk WHERE 1=0"
        return " UNION ALL ".join(
            f"SELECT {doc}::BIGINT AS doc_id, {r}::BIGINT AS rnk"
            for r, doc in enumerate(lst, 1)
        )
    q = f"""
    WITH a AS ({rows(a)}), b AS ({rows(b)}),
    c AS (SELECT greatest(a.rnk, b.rnk) AS m FROM a JOIN b USING (doc_id)),
    g AS (SELECT unnest(range(1, {_RBO_K + 1})) AS d),
    x AS (SELECT g.d, count(c.m) AS xd FROM g LEFT JOIN c ON c.m <= g.d GROUP BY g.d),
    s AS (SELECT sum({_RBO_COEF_SQL} * xd) AS num FROM x)
    SELECT CAST(coalesce(num, 0) * 1000000 // CAST('{_RBO_D}' AS HUGEINT) AS BIGINT) FROM s
    """
    return con.execute(q).fetchone()[0]


@settings(max_examples=60, deadline=None)
@given(_LISTS)
def test_grid_xd_formulation_equals_literal_rbo(lists):
    a, b = lists
    assert _sql_rbo_min_ppm(a, b) == _py_rbo_min_ppm(a, b)


def test_rbo_extremes():
    ident = list(range(_RBO_K))
    # identical top-K lists hit the truncated ceiling exactly
    assert _sql_rbo_min_ppm(ident, ident) == 878_423 == _py_rbo_min_ppm(ident, ident)
    # disjoint lists score exactly 0
    assert _sql_rbo_min_ppm(ident, list(range(100, 100 + _RBO_K))) == 0
    # reversed list: same SET at every full depth but maximally
    # different head — strictly between 0 and the ceiling
    r = _sql_rbo_min_ppm(ident, ident[::-1])
    assert 0 < r < 878_423
    assert r == _py_rbo_min_ppm(ident, ident[::-1])
