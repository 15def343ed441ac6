"""Spark-vs-DuckDB differential and semantic checks for the corpus-accounting
queries in ``queries/corpus_accounting.py``."""

from __future__ import annotations

from tests.conftest import SF_SMOKE as SF, oracle_diff

TABLES = ("documents",)


def _diff(spark, name, tables=TABLES):
    return oracle_diff(spark, name, tables)


def test_effective_tokens_matches_oracle(spark):
    got = _diff(spark, "q_effective_tokens")
    assert len(got) == 20, "one row per source"
    # discounting can only shrink: effective <= raw (in e6 units)
    assert (got.effective_tokens_e6 <= got.raw_tokens * 1_000_000).all()
    assert (got.retention_ppm <= 1_000_000).all()
    # planted near-dups exist, so SOME source lost mass...
    assert got.retention_ppm.min() < 1_000_000
    # ...but duplication is a minority of the corpus
    assert got.retention_ppm.max() > 900_000


def test_quasi_identifier_risk_matches_oracle(spark):
    got = _diff(spark, "q_quasi_identifier_risk")
    assert len(got) == 20
    assert (got.risky_groups <= got.n_groups).all()
    assert (got.risky_docs >= got.risky_groups).all() | (got.risky_groups == 0).all()
    assert (got.risky_ppm <= 1_000_000).all()
    # a risky group has at most k-1 docs
    assert (got.risky_docs <= got.risky_groups * 4).all()
    # min_group == 1 somewhere is expected on a 500-doc corpus with
    # a 3-dim QI; the audit exists to surface exactly that
    assert (got.min_group >= 1).all()


def test_bm25_topk_matches_oracle(spark):
    got = _diff(spark, "q_bm25_topk")
    assert 0 < len(got) <= 20
    assert (got.n_terms_hit >= 1).all() and (got.n_terms_hit <= 3).all()
    # scores strictly positive and sorted desc (doc_id tie-break)
    assert (got.score > 0).all()
    assert (got.score.diff().dropna() <= 0).all()


def test_bm25_saturates_vs_tfidf(spark):
    # the reason BM25 exists: per-term contribution saturates near
    # idf*(k1+1) instead of growing linearly with tf.  Verify on the
    # oracle scores: max score <= sum over terms of idf*(k1+1) (e3).
    # n_docs here matches the query's own count(*) over documents
    # (NOT distinct doc_ids of the token stream — zero-token docs
    # would silently shrink that and understate the cap).
    from tests.conftest import duckdb_oracle

    from week4_musemotion_spark.queries import corpus_accounting as s10
    from week4_musemotion_spark.queries.registry import REGISTRY

    top = duckdb_oracle(REGISTRY["q_bm25_topk"].oracle, TABLES)
    idf = duckdb_oracle(
        f"""
        WITH tok AS (SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'), w -> w != '')) AS term
                     FROM documents),
        n AS (SELECT count(*) AS nd FROM documents)
        SELECT term, (SELECT nd FROM n) * 1000 // count(DISTINCT doc_id) AS idf
        FROM tok WHERE term IN ({s10._BM25_TERMS_SQL}) GROUP BY term
        """,
        TABLES,
    )
    cap = int(idf.idf.sum()) * (s10._BM25_K1_E3 + 1000) // 1000
    assert (top.score <= cap).all(), (top.score.max(), cap)


def test_seasonal_residuals_matches_oracle(spark):
    got = _diff(spark, "q_seasonal_residuals", ("events",))
    assert len(got) == 5, "one row per event_type"
    assert (got.max_abs_resid <= got.sum_abs_resid).all()
    assert (got.n_resid >= 1).all()


def test_stream_counts_report_matches_oracle(spark):
    got = _diff(spark, "q_stream_counts_report", ("events",))
    assert (got.cnt >= 1).all()
    assert got.cnt.sum() == 1_000  # sf0.001 events rows — replay counted once


def test_stream_counts_compacted_matches_oracle(spark):
    import os

    got = _diff(spark, "q_stream_counts_compacted", ("events",))
    assert got.cnt.sum() == 1_000
    # the compacted fixture's log really is one folded batch
    from week4_musemotion_spark.queries.corpus_accounting import (
        _compacted_count_store_fixture,
    )
    from tests.conftest import SF_SMOKE

    data = os.path.join(_compacted_count_store_fixture(spark, SF_SMOKE), "store", "counts")
    assert {n.split("-")[1] for n in os.listdir(data)} == {"c1"}


def test_lang_confusion_matches_oracle(spark):
    got = _diff(spark, "q_lang_confusion")
    assert got.n_docs.sum() == 500
    # this synthetic corpus is exactly the pathology the audit hunts:
    # texts draw mostly English-marker vocabulary under non-en labels,
    # so the off-diagonal mass is LARGE (declared fr -> detected en is
    # the biggest cell after en/en).  Assert the structural facts, not
    # a clean diagonal: some agreement exists, disagreements exist,
    # and every 'und' cell is evidence-free by definition.
    diag = got[got.declared_lang == got.lang_pred].n_docs.sum()
    assert diag > 0
    assert (got.declared_lang != got.lang_pred).any()
    assert (got.loc[got.lang_pred == "und", "marker_hits"] == 0).all()


def test_winnow_recall_matches_oracle(spark):
    got = _diff(spark, "q_winnow_recall")
    r = got.iloc[0]
    assert r.jaccard_pairs > 0
    assert r.caught_min <= r.caught_1 <= r.jaccard_pairs
    # the winnowing guarantee covers CONTIGUOUS runs >= w+k-1 = 11
    # tokens, and it is exactly sharp on this corpus: sf0.001 has
    # one Jaccard-0.8 pair (docs of 11 and 10 tokens) whose longest
    # shared contiguous run is 10 tokens — one short of the bound —
    # and that is precisely the single miss (27/28).  Assert the
    # measured floor, not perfect recall; a drop BELOW it means the
    # selection broke, not that the theory has exceptions.
    assert r.recall_1_ppm >= 950_000, r.recall_1_ppm
    assert r.jaccard_pairs - r.caught_1 <= 1
