"""Spark-vs-DuckDB differential and semantic checks for the distribution
audits in ``queries/distribution_audits.py``."""

from __future__ import annotations

import pytest

from tests.conftest import oracle_diff


def _diff(spark, name, tables):
    return oracle_diff(spark, name, tables)


def test_len_quantiles_matches_oracle_and_brackets_truth(spark):
    got = _diff(spark, "q_len_quantiles", ("documents",))
    assert (got.p50 <= got.p90).all() and (got.p90 <= got.p99).all()
    # sketch contract: each read is a lower bound on the true
    # quantile and within 25% relative of it
    import duckdb

    from tests.conftest import SF_SMOKE

    con = duckdb.connect()
    truth = con.execute(
        f"""SELECT source,
               quantile_disc(length(text), 0.5) AS t50,
               quantile_disc(length(text), 0.9) AS t90
        FROM '{SF_SMOKE}/documents.parquet' GROUP BY source"""
    ).fetchdf()
    m = got.merge(truth, on="source")
    assert (m.p50 <= m.t50).all(), m
    assert (m.p50 * 4 >= m.t50 * 3).all(), m  # lb > 0.75 * truth


def test_embed_norm_quantiles_matches_oracle(spark):
    got = _diff(spark, "q_embed_norm_quantiles", ("embeddings",))
    assert (got.p50 <= got.p90).all() and (got.p90 <= got.p99).all()
    assert (got.n > 0).all()


def test_tv_distance_matches_oracle_and_bounds(spark):
    got = _diff(spark, "q_tv_distance_sources", ("documents",))
    # TV in [0, 1e6]; a pair spine covers every unordered source pair
    assert got.tv_e6.between(0, 1_000_000).all()
    n_src = len(set(got.src_a) | set(got.src_b))
    assert len(got) == n_src * (n_src - 1) // 2
    # shared-vocabulary corpus: distances must be far from disjoint
    assert got.tv_e6.max() < 1_000_000


def test_repetition_simpson_matches_oracle(spark):
    got = _diff(spark, "q_repetition_simpson", ("documents",))
    assert got.micro_e6.between(0, 1_000_000).all()
    assert (got.max_doc_e6 >= got.micro_e6).all()
    assert got.worst_doc_id.notna().all()


def test_repetition_simpson_flags_planted_degenerate_doc(spark):
    # a doc that is one token repeated 50x must dominate its source:
    # simpson = 1e6 exactly (any two draws collide)
    import pandas as pd

    rows = [(i, "alpha beta gamma delta epsilon zeta", "en", "clean", 1) for i in range(20)]
    rows.append((99, " ".join(["loop"] * 50), "en", "degen", 1))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
    )
    df.createOrReplaceTempView("degen_docs")
    from pyspark.sql import functions as F

    from week4_musemotion_spark.functions.exact import dec, int_div_trunc
    from week4_musemotion_spark.functions.text import tokens

    tok = df.select("source", "doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    c = tok.groupBy("source", "doc_id", "term").agg(F.count(F.lit(1)).alias("cnt"))
    docs = c.groupBy("source", "doc_id").agg(
        F.sum(dec(F.col("cnt")) * (F.col("cnt") - 1)).alias("m2"),
        F.sum("cnt").alias("nt"),
    )
    e6 = {
        r.doc_id: int_e6
        for r in docs.collect()
        for int_e6 in [int(r.m2) * 1_000_000 // (r.nt * (r.nt - 1))]
    }
    assert e6[99] == 1_000_000  # all-same-token doc: certain collision
    assert e6[0] == 0  # all-distinct doc: zero collision


def test_watermark_audit_matches_oracle_and_grid_semantics(spark):
    got = _diff(spark, "q_watermark_audit", ("events",))
    # lateness must be monotone non-increasing in the delay, and the
    # 4h row must be exactly zero (lateness is bounded by the 4h
    # jitter span)
    for et, grp in got.groupby("event_type"):
        g = grp.sort_values("delay_s")
        assert (g.n_late.diff().dropna() <= 0).all(), (et, g)
    assert (got.loc[got.delay_s == 14400, "n_late"] == 0).all()
    # the replay must actually produce lateness at delay 0, or the
    # audit is testing nothing
    assert got.loc[got.delay_s == 0, "n_late"].sum() > 0


def test_gap_histogram_matches_oracle(spark):
    got = _diff(spark, "q_gap_histogram", ("events",))
    g = got.sort_values("bucket")
    assert (g.lb_s <= g.ub_s).all()
    assert g.cum_ppm.is_monotonic_increasing
    assert g.cum_ppm.iloc[-1] == 1_000_000  # trunc of n/n is exact
    assert (g.n_gaps > 0).all()


def test_band_tune_matches_oracle_and_dominance(spark):
    got = _diff(spark, "q_band_tune", ("documents",))
    assert len(got) == 4
    assert (got.n_true_hit <= got.n_true).all()
    assert (got.n_sub_hit <= got.n_sub).all()
    # an (8,2) band hit implies at least one agreeing seed, i.e. a
    # (16,1) hit — the hit counts must be monotone in rows_per_band
    m = got.set_index("rows_per_band").sort_index()
    assert m.n_true_hit.is_monotonic_decreasing or m.n_true_hit.nunique() == 1, m
    assert m.n_sub_hit.is_monotonic_decreasing or m.n_sub_hit.nunique() == 1, m
    # single-row bands collide whenever ANY seed agrees — on true
    # near-dups (j >= 0.8) that must catch essentially everything
    r1 = got[got.rows_per_band == 1].iloc[0]
    assert r1.n_true_hit == r1.n_true, r1


def test_log_bucket_engines_agree_on_boundaries(spark):
    # octave and sub-bucket boundaries are the spots an off-by-one
    # would hide: 2^k - 1, 2^k, 2^k + 1 and quarter-points
    import duckdb
    import pandas as pd

    from pyspark.sql import functions as F

    from week4_musemotion_spark.operators.qsketch import log_bucket, log_bucket_sql

    vals = sorted(
        {0, 1, 2, 3}
        | {(1 << k) + d for k in range(2, 62) for d in (-1, 0, 1)}
        | {(1 << k) + s * (1 << (k - 2)) for k in range(2, 62) for s in range(4)}
    )
    pdf = pd.DataFrame({"v": vals})
    sb = [
        r[0]
        for r in spark.createDataFrame(pdf).select(log_bucket(F.col("v"))).collect()
    ]
    con = duckdb.connect()
    con.register("t", pdf)
    db = [r[0] for r in con.execute(f"SELECT {log_bucket_sql('v')} FROM t").fetchall()]
    assert sb == db
    assert sb == sorted(sb)  # bucket id monotone in v
