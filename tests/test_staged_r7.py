"""Spark-vs-DuckDB differential and semantic checks for the sketch-quality
queries in ``queries/sketch_quality.py``."""

from __future__ import annotations

import pandas as pd
import pytest

from tests.conftest import SF_SMOKE, oracle_diff

TABLES = ("documents", "embeddings")


def _diff(spark, name):
    return oracle_diff(spark, name, TABLES)


def test_minhash_fidelity_matches_oracle(spark):
    got = _diff(spark, "q_minhash_fidelity")
    assert len(got) > 0, "fixture corpus must contain near-dup pairs"
    # high-Jaccard pairs must agree on most signatures
    hi = got[got.jaccard_e4 >= 9000]
    assert (hi.sig_agree >= 12).all()
    assert got.sig_agree.between(0, 16).all()


def test_dedup_threshold_sweep_matches_oracle(spark):
    got = _diff(spark, "q_dedup_threshold_sweep")
    assert len(got) == 5, "one row per grid threshold, even empty ones"
    s = got.sort_values("thr_e4")
    assert (s.n_pairs.diff().dropna() <= 0).all(), "pair count monotone in threshold"
    assert (s.n_dup_docs <= 2 * s.n_pairs).all()


def test_stopword_density_matches_oracle(spark):
    got = _diff(spark, "q_stopword_density_by_source")
    assert got.hh_ppm.between(0, 1_000_000).all()
    assert (got.n_hh <= got.n_tokens).all()


def test_embedding_whiten_shape(spark):
    # Driver contract: output must be SCALAR-typed even for rows-only
    # queries (the driver's canonicalizer pandas-sorts every column;
    # array<double> output was round 7's one red driver row).
    from week4_musemotion_spark.queries.registry import REGISTRY

    df = REGISTRY["q_embedding_whiten"].builder(spark, SF_SMOKE)
    assert REGISTRY["q_embedding_whiten"].oracle is None
    for f in df.schema.fields:
        assert f.dataType.typeName() in ("long", "integer"), f
    pdf = df.toPandas()
    n = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet").shape[0]
    assert len(pdf) == n * 8, "k=8 scalar rows per vector"
    assert list(pdf.columns) == ["vec_id", "comp_idx", "proj_e6"]
    assert sorted(pdf.comp_idx.unique()) == list(range(8))
    # the driver's rows-only canon must be able to sort+hash this
    pdf.sort_values(by=list(pdf.columns))
    # whitened projection: each component has unit variance, so the
    # e6-quantized coordinates should have stdev ~1e6 per component
    sd = pdf.groupby("comp_idx").proj_e6.std()
    assert ((sd > 0.8e6) & (sd < 1.25e6)).all(), sd


def test_dup_inflation_matches_oracle(spark):
    got = _diff(spark, "q_dup_inflation")
    assert len(got) == 20, "one row per source"
    assert (got.chars_dropped <= got.chars_total).all()
    assert (got.n_dropped <= got.n_docs).all()
    assert got.drop_ppm.between(0, 1_000_000).all()


def test_ann_recall_report(spark):
    from week4_musemotion_spark.queries.registry import REGISTRY

    spec = REGISTRY["q_ann_recall_report"]
    assert spec.oracle is None
    got = spec.builder(spark, SF_SMOKE).toPandas()
    assert set(got.method) == {"lsh", "ivf"}
    assert len(got) == 10, "5 queries x 2 methods"
    assert got.n_hits.between(0, 3).all()
    assert (got.recall_e4 == (got.n_hits * 10000 / 3).round()).all()
    # both ANNs are tuned to near-perfect recall on this corpus
    assert got.groupby("method").n_hits.sum().min() >= 10, got
