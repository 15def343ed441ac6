"""Spark-vs-DuckDB differential and semantic checks for the provenance
queries in ``queries/provenance.py``."""

from __future__ import annotations

from tests.conftest import SF_SMOKE as SF, oracle_diff

TABLES = ("documents", "events")


def _diff(spark, name):
    return oracle_diff(spark, name, TABLES)


def test_winnow_density_matches_oracle(spark):
    got = _diff(spark, "q_winnow_density")
    assert len(got) == 20, "one row per source"
    assert (got.n_prints <= got.n_grams).all()
    # Schleimer et al. density bound: expected 2/(w+1) for random
    # hashes; real text sits near it — assert a generous corridor
    # that still catches a broken window (density 1.0) or a broken
    # distinct (density ~0)
    assert got.density_ppm.between(120_000, 450_000).all(), got.density_ppm


def test_winnow_matches_pure_python_reference(spark):
    """Third-engine pin for the packed-key winnowing trick: a direct
    pure-Python implementation of Schleimer et al.'s selection rule
    (min hash per window of 8, rightmost on ties) over the real
    sf0.001 corpus must reproduce the Spark per-doc print counts
    exactly — independent of BOTH the window-min/key-encoding
    formulation and the DuckDB oracle."""
    import hashlib
    import re

    from pyspark.sql import functions as F

    from week4_musemotion_spark.queries import provenance

    got = {
        r["doc_id"]: (r["n_grams"], r["n_prints"])
        for r in provenance._winnow_selected(spark, SF)
        .groupBy("doc_id")
        .agg(
            (F.max("pos") + 1).alias("n_grams"),
            F.countDistinct(
                F.when(F.col("pos") >= provenance._WW - 1, F.col("selkey"))
            ).alias("n_prints"),
        )
        .collect()
    }

    import pyarrow.parquet as pq

    tbl = pq.read_table(f"{SF}/documents.parquet", columns=["doc_id", "text"])
    k, w = provenance._WK, provenance._WW
    for doc_id, text in zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist()):
        toks = [t for t in re.split(r"\s+", text) if t]
        grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
        if not grams:
            assert doc_id not in got
            continue
        # winnowing selection, literal form: min hash per window,
        # rightmost wins ties (no packed key anywhere)
        hs = [
            int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % (1 << 40)
            for g in grams
        ]
        sel = set()
        for i in range(w - 1, len(hs)):
            lo, best = None, None
            for j in range(i - w + 1, i + 1):
                if lo is None or hs[j] <= lo:  # <= keeps the rightmost
                    lo, best = hs[j], j
            sel.add((hs[best], best))
        assert got[doc_id] == (len(grams), len(sel)), doc_id


def test_winnow_position_guard_survives_catalyst(spark):
    # the 2^20-token contract guard must reach the physical plan
    # (F.assert_true lowers to raise_error; Catalyst prunes it unless
    # it rides a used expression — verify-skill round-6 note)
    from week4_musemotion_spark.plans.audit import plan_string
    from week4_musemotion_spark.queries.registry import REGISTRY

    df = REGISTRY["q_winnow_density"].builder(spark, "/root/testdata/sf0.001")
    assert "raise_error" in plan_string(df, "simple")


def test_winnow_pairs_matches_oracle(spark):
    got = _diff(spark, "q_winnow_pairs")
    assert len(got) > 0, "planted near-dups must share winnowed prints"
    assert (got.containment_ppm <= 1_000_000).all()
    assert (got.shared_prints <= got[["na_prints", "nb_prints"]].min(axis=1)).all()
    # planted near-dup pairs are close to containment 1
    assert got.containment_ppm.max() > 500_000


def test_substring_runs_matches_oracle(spark):
    got = _diff(spark, "q_substring_runs")
    assert len(got) > 0, "planted near-dups carry long shared runs"
    # run length is grams + n - 1 >= n + 1 by the 2-gram minimum
    assert (got.longest_run_tokens >= 9).all()
    assert (got.run_grams >= got.n_runs * 2).all()
    # planted near-dups share long spans, not just 9-token slivers
    assert got.longest_run_tokens.max() >= 20


def test_detector_agreement_matches_oracle(spark):
    got = _diff(spark, "q_detector_agreement")
    assert len(got) == 1
    r = got.iloc[0]
    assert r.n_pairs == r.n_docs * (r.n_docs - 1) // 2
    # both detectors fire on this corpus and overlap on planted dups
    assert r.both_dup > 0
    # near-all pairs are true negatives -> raw agreement ~ 1
    assert r.agree_ppm > 990_000
    # kappa's baseline on this corpus is SMALL (the detectors target
    # different similarity bands: 63-bit SimHash Hamming<=1 fires on
    # ~600 stopword-dominated pairs, 3-gram Jaccard>=0.8 on ~28
    # planted near-dups) but must be strictly positive: observed
    # both_dup is ~30x the independence expectation
    # (sim_pos * jac_pos / n_pairs < 1), and kappa > 0 iff
    # both > expected.  A kappa collapse to <= 0 is the rot alarm.
    assert r.kappa_ppm > 0, r.kappa_ppm
    exp_both = (r.both_dup + r.simhash_only) * (r.both_dup + r.jaccard_only) / r.n_pairs
    assert r.both_dup > exp_both, (r.both_dup, exp_both)


def test_dedup_simhash_ngram_matches_oracle(spark):
    got = _diff(spark, "q_dedup_simhash_ngram")
    assert len(got) > 0, "planted near-dups must land within Hamming 4"
    assert (got.hamming <= 4).all()
    assert (got.doc_a < got.doc_b).all()


def test_detector_agreement_ngram_matches_oracle(spark):
    got = _diff(spark, "q_detector_agreement_ngram")
    r = got.iloc[0]
    assert r.n_pairs == r.n_docs * (r.n_docs - 1) // 2
    # the feature-space fix: shingle-space SimHash agrees strongly
    # with shingle Jaccard (measured kappa ~0.92 at sf0.001, vs the
    # unigram detector's 0.012 in test_detector_agreement)
    assert r.kappa_ppm > 800_000, r.kappa_ppm
    assert r.both_dup > 0
    # shingle-space Hamming<=4 is high-precision vs Jaccard 0.8 on
    # this corpus: false fires stay a small fraction of true overlaps
    assert r.simhash_only <= r.both_dup


def test_provenance_bits_matches_oracle(spark):
    got = _diff(spark, "q_provenance_bits")
    assert (got.n_sources >= 1).all()
    assert (got.n_docs >= got.n_groups).all()
    # every doc lands in exactly one mask bucket (sf0.001 documents
    # has 500 rows, all unique text -> single-bit masks only; the
    # multi-bit cross-source path is exercised at sf0.1, which ships
    # 8 two-source exact-dup groups — covered by the manual per-SF
    # differential run)
    assert got.n_docs.sum() == 500
    # single-source masks are powers of two
    ones = got.loc[got.n_sources == 1, "mask"]  # .mask is a pandas method
    assert all((m & (m - 1)) == 0 for m in ones)


def test_dup_cluster_purity_matches_oracle(spark):
    got = _diff(spark, "q_dup_cluster_purity")
    assert len(got) > 0, "planted near-dup clusters exist"
    assert (got["size"] >= 2).all(), "clusters are >=2 docs by construction"
    assert (got.purity_ppm <= 1_000_000).all()
    # purity of a single-source cluster is exactly 1
    pure = got[got.n_sources == 1]
    if len(pure):
        assert (pure.purity_ppm == 1_000_000).all()
    # majority share can never be below 1/n_sources
    assert (got.purity_ppm * got.n_sources >= 1_000_000 - got.n_sources).all()


def test_dup_quality_bias_matches_oracle(spark):
    got = _diff(spark, "q_dup_quality_bias")
    # every source appears; is_dup in {0, 1}
    assert set(got.is_dup.unique()) <= {0, 1}
    assert got.n_docs.sum() == 500  # every sf0.001 doc in exactly one cell
    assert (got.mean_quality_e4.between(0, 10_000)).all()
    # dup + non-dup doc counts per source reconcile to the source total
    per_src = got.groupby("source").n_docs.sum()
    assert (per_src == 25).all()  # 500 docs / 20 sources


def test_cusum_drift_matches_oracle(spark):
    got = _diff(spark, "q_cusum_drift")
    assert len(got) > 0, "one row per event_type"
    assert (got.s_max >= 0).all() and (got.s_min <= 0).all(), "cusum sums to 0"
    assert (got.drift_range == got.s_max - got.s_min).all()
    assert (got.n_days > 1).all()
