"""Spark-vs-DuckDB differential checks for the sketch audits in
``queries/sketch_audits.py``."""

from __future__ import annotations

from tests.conftest import oracle_diff

TABLES = ("documents", "lineitem", "part", "events", "embeddings")


def _diff(spark, name):
    return oracle_diff(spark, name, TABLES)


def test_dup_span_coverage_matches_oracle(spark):
    got = _diff(spark, "q_dup_span_coverage")
    assert len(got) == 20, "one row per source"
    assert (got.dup_spans <= got.n_spans).all()
    assert got.coverage_ppm.between(0, 1_000_000).all()
    # planted near-dups must register as duplicated spans somewhere
    assert got.dup_spans.sum() > 0


def test_bloom_fp_audit_matches_oracle(spark):
    got = _diff(spark, "q_bloom_fp_audit")
    assert (got.outcome != "lost_true_key").all(), "bloom dropped a true key"
    small, big = got[got.num_bits == 64], got[got.num_bits == 32768]
    # saturated end exhibits FPs; provisioned end actually prunes
    assert small[small.outcome == "false_positive"].n_keys.sum() > 0
    assert big[big.outcome == "pruned"].n_keys.sum() > 0
    # fp KEY count is monotone non-increasing in bitmap size
    fp = got[got.outcome == "false_positive"].set_index("num_bits").n_keys
    fps = [fp.get(b, 0) for b in (64, 512, 4096, 32768)]
    assert all(a >= b for a, b in zip(fps, fps[1:])), fps
    # every size sees every true key as a hit
    hit = got[got.outcome == "hit"].set_index("num_bits").n_keys
    assert hit.nunique() == 1


def test_source_overlap_sketch_matches_oracle(spark):
    got = _diff(spark, "q_source_overlap_sketch")
    assert len(got) == 190, "all unordered source pairs"
    # the pointwise register max guarantees union >= each part
    # EXACTLY (smaller harmonic denominator); <= a+b is NOT an
    # estimate-level invariant, so only the hard bound is asserted
    assert (got.union_e2 >= got[["a_e2", "b_e2"]].max(axis=1)).all()
    assert (got.overlap_e2 >= 0).all()
    # this corpus' sources share a common generator vocabulary —
    # a real overlap signal must surface somewhere
    assert (got.overlap_e2 > 0).any()


def test_cms_point_error_matches_oracle(spark):
    got = _diff(spark, "q_cms_point_error")
    assert len(got) == 60, "top-20 terms x 3 grid widths"
    # CMS one-sided guarantee, visible in the audit itself
    assert (got.cms_est >= got.exact_cnt).all()
    assert (got.over_ppm >= 0).all()
    # provisioning curve: per-term error monotone non-increasing in
    # width is NOT guaranteed cell-by-cell, but the aggregate
    # collision mass must collapse as the grid widens
    tot = got.groupby("width").over_ppm.sum()
    assert tot.loc[1024] >= tot.loc[8192] >= tot.loc[65536]
    # the widest grid must be near-exact on this stream
    assert (got[got.width == 65536].cms_est == got[got.width == 65536].exact_cnt).mean() > 0.5


def test_stream_distinct_report_matches_oracle(spark):
    got = _diff(spark, "q_stream_distinct_report")
    assert len(got) == 5, "one row per event type"
    assert set(got.regime) <= {"raw", "linear-counting"}
    assert got.zero_regs.between(0, 256).all()


def test_semantic_threshold_sweep_matches_oracle(spark):
    got = _diff(spark, "q_semantic_threshold_sweep")
    assert len(got) == 4, "one row per grid threshold, even empty ones"
    s = got.sort_values("thr_e6")
    assert (s.n_pairs.diff().dropna() <= 0).all(), "pair count monotone in threshold"
    assert (s.n_dup_vecs <= 2 * s.n_pairs).all()
    assert s.n_pairs.iloc[0] > 0, "base threshold must catch organic pairs"


def test_hll_fold_grid_matches_oracle(spark):
    got = _diff(spark, "q_hll_fold_grid")
    assert len(got) == 60, "20 sources x 3 grid precisions"
    # the fold contract: register-exact, therefore estimate-exact
    assert (got.reg_mismatch == 0).all()
    assert (got.hll_e2_fold == got.hll_e2_direct).all()


def test_rp_distortion_matches_oracle(spark):
    got = _diff(spark, "q_rp_distortion")
    assert len(got) == 3, "one row per grid dim"
    s = got.set_index("t")
    # every vector participates in the norm audit (corpus has no
    # zero-norm embeddings at smoke SF)
    assert (s.n_vecs == s.n_vecs.iloc[0]).all() and s.n_vecs.iloc[0] > 0
    # Rademacher norm preservation: E[|y_t|^2 / (t*|x|^2)] = 1
    assert ((s.mean_norm_ratio_e6 - 1_000_000).abs() < 150_000).all()
    # distortion grows as the target dim shrinks (expectation ~ 1/sqrt(t);
    # compare the grid extremes, robust to small-pair-count noise)
    assert s.mean_abs_err_e6.loc[32] <= s.mean_abs_err_e6.loc[8]
    assert (s.mean_abs_err_e6 < 500_000).all()
