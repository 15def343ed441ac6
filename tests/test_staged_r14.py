"""Spark-vs-DuckDB differential and semantic checks for
``queries/retrieval_eval.py``."""

from __future__ import annotations

from tests.conftest import oracle_diff


def _diff(spark, name, tables):
    return oracle_diff(spark, name, tables)


def test_ndcg_eval_matches_oracle_and_bounds(spark):
    got = _diff(spark, "q_ndcg_eval", ("documents",))
    r = got.iloc[0]
    assert r.k == 20
    # nDCG in (0, 1e6]; BM25 ranks by the same terms relevance
    # grades on, so the score must land in the strong half
    assert 0 < r.dcg_e9 <= r.idcg_e9
    assert 500_000 < r.ndcg_e6 <= 1_000_000, r.ndcg_e6


def test_ndcg_discount_table_is_the_log2_rounding():
    import math

    from week4_musemotion_spark.queries.retrieval_eval import _NDCG_K, _NDCG_W

    assert len(_NDCG_W) == _NDCG_K
    for i, w in enumerate(_NDCG_W, start=1):
        assert w == round(1_000_000_000 / math.log2(i + 1))
    assert all(a >= b for a, b in zip(_NDCG_W, _NDCG_W[1:]))  # monotone discounts
    assert _NDCG_W[0] == 1_000_000_000  # rank 1: no discount
