"""Spark-vs-DuckDB differential and semantic checks for the quantile and
PQ queries in ``queries/pq_quantiles.py``."""

from __future__ import annotations

import os

from tests.conftest import oracle_diff


def _diff(spark, name, tables):
    return oracle_diff(spark, name, tables)


def test_stream_len_quantiles_matches_batch_oracle(spark):
    # the streamed readout must equal the batch quantile SQL to the
    # digit: this single diff pins sketch math + marker protocol +
    # mid-stream compaction at once (the fixture replays batch 1 and
    # compacts after batch 3)
    got = _diff(spark, "q_stream_len_quantiles", ("documents",))
    assert (got.p50 <= got.p90).all() and (got.p90 <= got.p99).all()
    assert (got.n > 0).all()


def test_qsketch_store_replay_and_torn_files_are_exactly_once(spark, tmp_path):
    import pandas as pd
    from pyspark.sql import functions as F

    from week4_musemotion_spark.operators.qsketch import bucket_counts
    from week4_musemotion_spark.sources.sinks import _append_keyed
    from week4_musemotion_spark.streaming.counts import (
        compact_counts,
        make_count_sink,
        read_daily_counts,
    )

    df = spark.createDataFrame(
        pd.DataFrame({"g": ["a"] * 6 + ["b"] * 6, "v": [1, 2, 4, 8, 16, 32] * 2})
    )
    store = str(tmp_path / "store")
    sink = make_count_sink(store, lambda b: bucket_counts(b.select("g", "v"), ["g"], "v"))
    sink(df, 0)
    sink(df, 0)  # full replay: marker must short-circuit
    # torn batch: files land but no marker — readers must ignore them
    _append_keyed(df.groupBy("g").agg(F.count("*").alias("cnt")), os.path.join(store, "counts"), "99")
    folded = read_daily_counts(
        spark, store, "g string, bucket int, cnt long"
    ).toPandas()
    # every (g, bucket) count must equal ONE pass over df: 6 values,
    # all distinct buckets (1,2,4-octaves...), count 1 each per group
    assert folded.cnt.eq(1).all() and len(folded) == 12
    # compaction must not change the fold
    sink(df.filter(F.col("v") > 2), 1)
    before = read_daily_counts(
        spark, store, "g string, bucket int, cnt long"
    ).toPandas().sort_values(["g", "bucket"]).reset_index(drop=True)
    compact_counts(spark, store)
    after = read_daily_counts(
        spark, store, "g string, bucket int, cnt long"
    ).toPandas().sort_values(["g", "bucket"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(before, after)


def test_len_quantiles_exact_matches_oracle_and_bounds_sketch(spark):
    got = _diff(spark, "q_len_quantiles_exact", ("documents",))
    assert (got.p50 <= got.p90).all() and (got.p90 <= got.p99).all()
    # the sketch's lower-bound contract against the exact twin:
    # sketch_p <= exact_p and within a quarter octave (lb > 3/4 * p)
    from week4_musemotion_spark.queries.registry import REGISTRY
    from tests.conftest import SF_SMOKE

    sk = REGISTRY["q_len_quantiles"].builder(spark, SF_SMOKE).toPandas()
    m = got.merge(sk, on="source", suffixes=("_x", "_s"))
    for p in ("p50", "p90", "p99"):
        assert (m[f"{p}_s"] <= m[f"{p}_x"]).all(), p
        assert (m[f"{p}_s"] * 4 >= m[f"{p}_x"] * 3).all(), p


def test_price_quantiles_nation_matches_oracle(spark):
    got = _diff(spark, "q_price_quantiles_nation", ("orders", "customer", "nation"))
    assert (got.p50 <= got.p90).all() and (got.p90 <= got.p99).all()
    assert len(got) == 25  # every nation has orders at every SF


def test_fd_violations_matches_oracle_and_semantics(spark):
    got = _diff(spark, "q_fd_violations", ("documents",))
    assert len(got) == 3
    assert (got.n_violations <= got.n_rows).all()
    assert got.violation_ppm.between(0, 1_000_000).all()
    # a determinant with a single value per group would read 0; this
    # corpus' lang/source are near-independent, so rates must be high
    ind = got[got.fd == "lang->source"].iloc[0]
    assert ind.violation_ppm > 500_000  # far from a functional dependency


def test_fd_violations_detects_a_planted_exact_fd(spark):
    # plant an exact FD (lang -> source) and assert 0 violations
    import pandas as pd
    from pyspark.sql import functions as F

    from week4_musemotion_spark.functions.exact import dec, int_div_trunc

    rows = [(i, f"l{i%3}", f"s{i%3}") for i in range(30)]  # lang determines source
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "lang", "source"]))
    c = df.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("cnt"))
    per = c.groupBy("lang").agg(F.sum("cnt").alias("tot"), F.max("cnt").alias("mx"))
    viol = per.agg(F.sum(F.col("tot") - F.col("mx")).alias("v")).collect()[0].v
    assert viol == 0


def test_pq_distortion_matches_oracle_and_fitted_beats_it(spark):
    got = _diff(spark, "q_pq_distortion", ("embeddings",))
    assert len(got) == 4 and (got.err_e6_total > 0).all()
    # the Lloyd-fitted model must beat the seed baseline per corpus
    from tests.test_pq import _distortion, _emb

    from week4_musemotion_spark.operators.pq import pq_fit

    emb = _emb(spark)
    fitted_total_e6 = _distortion(emb, pq_fit(emb, m=4, k=8, iters=2)) * got.n_vecs.iloc[0] * 1e6
    assert fitted_total_e6 < got.err_e6_total.sum()


def test_pq_collisions_matches_oracle_and_accounting(spark):
    got = _diff(spark, "q_pq_collisions", ("embeddings",))
    # block accounting: sizes x groups = vectors; pairs = C(size, 2)
    assert (got.group_size * got.n_groups == got.n_vecs).all()
    assert (
        got.n_pairs == got.n_groups * got.group_size * (got.group_size - 1) // 2
    ).all()
    # the corpus has planted cluster structure: blocking must actually
    # block (some group bigger than a singleton)
    assert got.group_size.max() > 1
