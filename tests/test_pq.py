"""Product quantization (operators/pq.py): numpy-vs-expression encode
parity, fitted-beats-seed distortion, ADC recall against exact KNN,
and contract guards."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

_M, _K = 4, 8


def _emb(spark):
    from week4_musemotion_spark.sources.tables import load_table

    return load_table(spark, SF_SMOKE, "embeddings")


def _distortion(emb, model) -> float:
    """Mean squared reconstruction error over the corpus, numpy
    recompute driver-side (test corpus is small)."""
    from week4_musemotion_spark.operators.similarity import _collect_matrix

    ids, X = _collect_matrix(emb.select("vec_id", "embedding"), "vec_id", "embedding")
    m, k, dsub = model.m, model.k, model.dsub
    Xs = X.reshape(len(ids), m, dsub)
    err = 0.0
    for j in range(m):
        d = ((Xs[:, j, :][:, None, :] - model.codebooks[j][None, :, :]) ** 2).sum(axis=2)
        err += d.min(axis=1).sum()
    return err / len(ids)


def test_numpy_encode_equals_expression_encode_on_seed_codebooks(spark):
    # the production numpy kernel and the oracle-able Catalyst
    # expression path must assign identical codes on real data — this
    # is what licenses the value-oracled q_pq_code_hist to stand in
    # for the numpy path's argmin law
    from week4_musemotion_spark.operators.pq import (
        pq_encode,
        pq_encode_expr,
        seed_codebooks,
    )

    emb = _emb(spark)
    model = seed_codebooks(emb, m=_M, k=_K)
    wide = {
        r.vec_id: list(r.code) for r in pq_encode(emb, model).collect()
    }
    long = {}
    for r in pq_encode_expr(emb, model).collect():
        long.setdefault(r.vec_id, [0] * _M)[r.j] = r.code
    assert wide == long


def test_fitted_codebooks_beat_seed_distortion(spark):
    from week4_musemotion_spark.operators.pq import pq_fit, seed_codebooks

    emb = _emb(spark)
    seed = _distortion(emb, seed_codebooks(emb, m=_M, k=_K))
    fitted = _distortion(emb, pq_fit(emb, m=_M, k=_K, iters=2))
    assert fitted < seed, (fitted, seed)


def test_adc_recall_against_exact_l2(spark):
    # ADC approximates L2 — the exact baseline must be L2 too (the
    # engine's knn_brute_force is COSINE, which ranks differently on
    # unnormalized vectors, so it is recomputed here in numpy)
    from week4_musemotion_spark.operators.pq import adc_topk, pq_encode, pq_fit
    from week4_musemotion_spark.operators.similarity import _collect_matrix

    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 5)
    model = pq_fit(emb, m=_M, k=_K, iters=2)
    got = adc_topk(pq_encode(emb, model), model, queries, k=3)
    g = {(r.query_id, r.neighbor_id) for r in got.collect()}
    ids, X = _collect_matrix(emb.select("vec_id", "embedding"), "vec_id", "embedding")
    qids, Q = _collect_matrix(
        queries.select("vec_id", "embedding"), "vec_id", "embedding"
    )
    e = set()
    for qi, q in zip(qids, Q):
        d = ((X - q) ** 2).sum(axis=1)
        order = np.lexsort((ids, d))[:3]  # dist, then id — adc's tie law
        e |= {(int(qi), int(ids[i])) for i in order}
    assert len(g) == len(e) == 15
    # 32-bit codes are coarse; the corpus has planted cluster
    # structure, so ADC must still recover a solid share of the
    # exact top-3 (empirical floor with margin)
    recall = len(g & e) / len(e)
    assert recall >= 0.4, recall


def test_pq_contract_guards(spark):
    from week4_musemotion_spark.operators.pq import pq_fit, seed_codebooks

    emb = _emb(spark)
    with pytest.raises(ValueError, match="not divisible"):
        seed_codebooks(emb, m=7, k=4)
    with pytest.raises(ValueError, match="not divisible"):
        pq_fit(emb, m=7, k=4)
    tiny = emb.limit(3)
    with pytest.raises(ValueError, match="< k"):
        seed_codebooks(tiny, m=_M, k=_K)


def test_pq_fit_empty_corpus_raises_clear_error(spark):
    from week4_musemotion_spark.operators.pq import pq_fit

    empty = _emb(spark).filter(F.lit(False))
    with pytest.raises(ValueError, match="no non-null vector"):
        pq_fit(empty, m=_M, k=_K)
    # NULL vectors in the corpus must not break the fit — they carry
    # no information and are excluded from probe AND kmeans
    base = _emb(spark).limit(40)
    first_id = base.select("vec_id").orderBy("vec_id").first()[0]
    with_null = base.select(
        "vec_id",
        F.when(F.col("vec_id") == first_id, F.lit(None))
        .otherwise(F.col("embedding"))
        .alias("embedding"),
    )
    model = pq_fit(with_null, m=_M, k=_K)
    assert model.m == _M


def test_adc_topk_ties_break_to_lowest_neighbor_id(spark):
    """PQ guarantees exact ADC-distance ties (all vectors sharing the
    same m codes score identically), so the per-batch prune must keep
    the LOWEST-id members of a tie group that straddles the cutoff —
    the documented global tie law.  20 identical vectors fed in
    DESCENDING id order (the adversarial layout for an unstable
    argpartition prune) must still rank ids 0,1,2."""
    from week4_musemotion_spark.operators.pq import adc_topk, pq_encode, seed_codebooks

    base = _emb(spark)
    one = base.orderBy("vec_id").limit(1).select("embedding")
    vec = one.first()[0]
    rows = [(int(i), vec) for i in range(19, -1, -1)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>").coalesce(1)
    model = seed_codebooks(base, m=_M, k=_K)
    queries = spark.createDataFrame([(100, vec)], "vec_id long, embedding array<float>")
    got = adc_topk(pq_encode(corpus, model), model, queries, k=3).collect()
    by_rank = {r.rank: r.neighbor_id for r in got}
    assert by_rank == {1: 0, 2: 1, 3: 2}, got


def test_adc_topk_partial_nan_keeps_finite_neighbors(spark):
    """A NaN codebook centroid poisons SOME neighbors' distances; the
    per-batch prune must still keep every finite-distance candidate —
    an all-or-nothing NaN fallback would replace the true nearest
    neighbors with lowest-id NaN junk."""
    from week4_musemotion_spark.operators.pq import PQModel, adc_topk

    # m=2, k=2, dsub=1; centroid (1, j=0) is NaN
    books = np.array([[[0.0], [np.nan]], [[0.0], [1.0]]])
    model = PQModel(books)
    # ids 0..2 coded to the NaN centroid; ids 8, 9 finite (dist 0)
    rows = [(i, [1, 0]) for i in range(3)] + [(8, [0, 0]), (9, [0, 0])]
    codes = spark.createDataFrame(rows, "vec_id long, code array<int>").coalesce(1)
    queries = spark.createDataFrame(
        [(100, [0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    got = {r.rank: r.neighbor_id for r in adc_topk(codes, model, queries, k=4).collect()}
    # the two finite-distance neighbors MUST rank first; NaN rows fill
    # the tail by lowest id (Spark windows order NaN last)
    assert got[1] == 8 and got[2] == 9, got
    assert got[3] == 0 and got[4] == 1, got


def test_fused_fit_matches_per_subspace_kmeans(spark):
    """pq_fit's one Lloyd pass over all m subspaces must reproduce m
    separate kmeans_fit runs over the sliced subvectors — same
    seeding, same argmin, same empty-cluster rule — up to float-sum
    reassociation (the sliced scans may batch rows differently)."""
    import numpy as np
    from pyspark.sql import functions as F

    from week4_musemotion_spark.operators.pq import pq_fit
    from week4_musemotion_spark.operators.similarity import kmeans_fit

    emb = _emb(spark).limit(120)
    fused = pq_fit(emb, m=_M, k=_K, iters=2)
    dsub = fused.dsub
    for j in range(_M):
        sub = emb.select(
            "vec_id", F.slice("embedding", j * dsub + 1, dsub).alias("embedding")
        )
        ref = kmeans_fit(sub, k=_K, iters=2)
        assert np.allclose(fused.codebooks[j], ref, rtol=1e-9, atol=1e-12), j
