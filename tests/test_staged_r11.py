"""Spark-vs-DuckDB differential and semantic checks for the ranking audits
in ``queries/ranking_audits.py``."""

from __future__ import annotations

from tests.conftest import oracle_diff

TABLES = ("documents",)

#: truncated-RBO ceiling for identical top-20 lists at p=0.9:
#: 1 - 0.9^20 in ppm (exact bound, see _rbo_coeffs)
_RBO_CEIL_PPM = 878_423


def _diff(spark, name, tables=TABLES):
    return oracle_diff(spark, name, tables)


def test_rank_overlap_rbo_matches_oracle(spark):
    got = _diff(spark, "q_rank_overlap_rbo")
    r = got.iloc[0]
    assert r.n_bm25 <= 20 and r.n_tfidf <= 20
    assert r.overlap_topk <= min(r.n_bm25, r.n_tfidf)
    # RBO is bounded by the truncated ceiling and positive when the
    # rankings overlap at all (both scorers share the idf core, so
    # they must agree substantially)
    assert 0 < r.rbo_min_ppm <= _RBO_CEIL_PPM, r.rbo_min_ppm
    assert r.overlap_topk > 0


def test_rbo_coefficients_are_exact():
    # the integer table must reproduce the closed forms exactly:
    # sum(num_d * d) / D == 1 - p^K (identical rankings), and each
    # coefficient equals (1-p) p^(d-1)/d over the common denominator
    from fractions import Fraction

    from week4_musemotion_spark.queries.ranking_audits import (
        _RBO_D,
        _RBO_K,
        _RBO_NUMS,
    )

    p = Fraction(9, 10)
    for d, n in enumerate(_RBO_NUMS, 1):
        assert Fraction(n, _RBO_D) == (1 - p) * p ** (d - 1) / d, d
    ident = sum(Fraction(n * d, _RBO_D) for d, n in enumerate(_RBO_NUMS, 1))
    assert ident == 1 - p**_RBO_K
    assert _RBO_CEIL_PPM == (ident * 1_000_000).__floor__()


def test_self_repetition_runs_matches_oracle(spark):
    got = _diff(spark, "q_self_repetition_runs")
    # the synthesized loop (doc_id % 5 == 0, block of 8 repeated)
    # guarantees positives; a future regenerated corpus could add
    # ORGANIC repeats (short degenerate docs stay in the occurrence
    # band by design), so pin the planted subset, not exclusivity
    assert len(got) == 100, len(got)  # top-100 cap reached
    assert (got.longest_repeat_tokens >= 7).all()  # >= n+1 by 2-gram min
    planted = got[got.doc_id % 5 == 0]
    assert len(planted) > 0
    # the planted cycle length is the 8-token block (shorter docs can
    # produce a shorter period when the doc itself is < 8 tokens)
    assert (planted.min_period <= 8).all()
    assert planted.min_period.max() == 8
    assert (got.n_runs >= 1).all()


def test_benford_audit_matches_oracle(spark):
    got = _diff(spark, "q_benford_audit", ("orders",))
    assert set(got.first_digit) <= set(range(1, 10))
    assert abs(got.observed_ppm.sum() - 1_000_000) < 10  # trunc slack
    assert (got.abs_dev_ppm == (got.observed_ppm - got.benford_ppm).abs()).all()
    # the benford constants are the Python-side log table
    import math

    for _, row in got.iterrows():
        assert row.benford_ppm == round(math.log10(1 + 1 / row.first_digit) * 1e6)
