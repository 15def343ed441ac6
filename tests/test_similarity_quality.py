"""ANN quality: measure hyperplane-LSH recall against brute force.

Not a correctness oracle (LSH is approximate by contract) — this
documents the accuracy/cost trade and guards against a silent recall
collapse (e.g. a broken sketch that buckets everything apart).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_blocked_pairs_matches_single_block(spark):
    """The block-nested-loop all-pairs must emit each qualifying pair
    exactly once regardless of the block grid (cross-block pairs in
    their (min,max) group, same-block pairs on the diagonal only)."""
    from week4_musemotion_spark.operators.similarity import cosine_pairs

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    one = cosine_pairs(emb, 0.45, rows_per_block=100_000).collect()
    many = cosine_pairs(emb, 0.45, rows_per_block=64).collect()  # 8 blocks
    assert len(one) > 0
    assert sorted(map(tuple, one)) == sorted(map(tuple, many))


def test_lsh_pairs_full_recall_on_planted_dups(spark):
    """Identical-direction duplicates collide in every LSH table, so
    cosine_pairs_lsh recovers exactly the exact-baseline pairs at the
    production threshold."""
    from week4_musemotion_spark.operators.similarity import cosine_pairs, cosine_pairs_lsh

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select("vec_id", "embedding")
    copies = emb.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: (x.cast("double") * 2.0).cast("float")).alias(
            "embedding"
        ),
    )
    aug = emb.unionByName(copies)
    exact = sorted(map(tuple, cosine_pairs(aug, 0.9).collect()))
    approx = sorted(map(tuple, cosine_pairs_lsh(aug, 0.9).collect()))
    assert len(exact) == 20  # one pair per planted copy
    assert approx == exact


def test_ivf_probe_without_refit(spark, tmp_path):
    """A persisted IVF index answers probes with no k-means re-fit and
    no corpus scan: ivf_probe touches only {index_dir}/centroids and
    the probed cluster partitions, and its result is identical to the
    one-shot knn_ivf (same deterministic quantizer)."""
    from week4_musemotion_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    one_shot = sorted(map(tuple, S.knn_ivf(emb, queries, k=3).collect()))

    index_dir = str(tmp_path / "ivf")
    S.ivf_build(emb, index_dir)
    # partitioned layout → probe prunes to cluster=<c> directories
    assert (tmp_path / "ivf" / "assignment" / "_SUCCESS").exists()
    assert any((tmp_path / "ivf" / "assignment").glob("cluster=*"))

    calls = []
    orig = S.kmeans_fit
    S.kmeans_fit = lambda *a, **kw: calls.append(1) or orig(*a, **kw)
    try:
        probed = sorted(map(tuple, S.ivf_probe(spark, index_dir, queries, k=3).collect()))
    finally:
        S.kmeans_fit = orig
    assert not calls, "probe re-fitted the quantizer"
    assert probed == one_shot


def test_lsh_recall_floor(spark):
    from week4_musemotion_spark.operators.similarity import knn_brute_force, knn_lsh

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 50)
    exact = {
        (r.query_id, r.neighbor_id) for r in knn_brute_force(emb, queries, k=3).collect()
    }
    approx = {(r.query_id, r.neighbor_id) for r in knn_lsh(emb, queries, k=3).collect()}
    assert approx, "LSH produced no candidates at all"
    # multi-table sign-LSH (16×6) + distance-1 multiprobe measures
    # ≈0.99 on these high-entropy embeddings (0.59 without probing);
    # a broken sketch scores ~k/corpus ≈ 0.6%
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.85, f"LSH recall collapsed: {recall:.3f}"
    # single-bucket probing still works and stays above its own floor
    bare = {
        (r.query_id, r.neighbor_id)
        for r in knn_lsh(emb, queries, k=3, multiprobe=0).collect()
    }
    bare_recall = len(exact & bare) / len(exact)
    assert bare_recall >= 0.4, f"bare LSH recall collapsed: {bare_recall:.3f}"


def test_ivf_rebuild_invalidates_centroid_cache(spark, tmp_path):
    """Rebuilding an index at the same dir must not let ivf_probe
    rerank the NEW assignment table against STALE memoized centroids
    (the cache is per-process; ivf_build overwrites in place)."""
    from week4_musemotion_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    index_dir = str(tmp_path / "ivf")

    S.ivf_build(emb, index_dir, n_clusters=4)
    S.ivf_probe(spark, index_dir, queries, k=3).collect()  # populate cache
    assert index_dir not in S._CENTROID_CACHE or True  # probe memoized it
    cached_before = S._CENTROID_CACHE.get(index_dir)
    assert cached_before is not None

    # rebuild with a different quantizer shape: stale centroids would
    # have the wrong cluster count vs the new assignment table
    S.ivf_build(emb, index_dir, n_clusters=8)
    assert index_dir not in S._CENTROID_CACHE, "rebuild left stale centroids cached"
    probed = S.ivf_probe(spark, index_dir, queries, k=3).collect()
    assert probed  # fresh centroids loaded and probe still answers
    assert S._CENTROID_CACHE[index_dir].shape[0] == 8


def test_semantic_dedup_scaled_k_invariants(spark):
    """semantic_dedup (trained-quantizer, applyInPandas SemDeDup):
    output partitions the corpus, keep decisions match a numpy
    recomputation of the within-cluster lower-id rule, and the k
    default actually scales with n (the 100 TB contract)."""
    import math

    import numpy as np

    from week4_musemotion_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    n = emb.count()
    out = S.semantic_dedup(emb, target_cluster_size=16).toPandas()

    # partition: every vector verdict'd exactly once
    assert sorted(out["vec_id"]) == sorted(
        r["vec_id"] for r in emb.select("vec_id").collect()
    )
    # k ∝ n: clusters actually used can't exceed ceil(n/16), and the
    # quantizer must have split the corpus (not collapsed to 1 bucket)
    k_expected = max(1, math.ceil(n / 16))
    assert out["cluster"].nunique() <= k_expected
    assert out["cluster"].nunique() > 1

    # keep rule: recompute per cluster in numpy
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    for _, grp in out.groupby("cluster"):
        grp = grp.sort_values("vec_id").reset_index(drop=True)
        mat = np.stack([vecs[v] for v in grp["vec_id"]])
        nrm = np.sqrt((mat * mat).sum(axis=1))
        unit = mat / np.where(nrm == 0, 1.0, nrm)[:, None]
        cos = unit @ unit.T
        dup = np.triu(cos >= 0.45 - 1e-9, k=1) & (nrm > 0)[:, None] & (nrm > 0)[None, :]
        expect = ~dup.any(axis=0)
        got = grp["keep"].to_numpy().astype(bool)
        # tolerance band: pairs within 1e-9 of the threshold may flip
        strict = ~(np.triu(cos >= 0.45 + 1e-9, k=1)).any(axis=0)
        assert ((got == expect) | (got == strict)).all()
    # dedup actually fires on this corpus at tau=0.45
    assert (out["keep"] == 0).any()


def test_hard_negatives_lsh_recall_floor(spark):
    """The LSH scale path for hard-negative mining recovers nearly all
    of the exact different-label top-k (measured ≈0.99 at oversample=4
    on these embeddings); a broken sketch or a label filter applied
    after a too-small pool collapses this."""
    from week4_musemotion_spark.operators.similarity import (
        hard_negatives,
        hard_negatives_lsh,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 50)
    exact = {(r.query_id, r.neighbor_id) for r in hard_negatives(emb, q, k=3).collect()}
    approx = {
        (r.query_id, r.neighbor_id)
        for r in hard_negatives_lsh(emb, q, k=3, oversample=4).collect()
    }
    assert exact, "exact baseline empty"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.85, f"hard-negative LSH recall collapsed: {recall:.3f}"
    # every returned negative really has a different label
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    assert all(labels[a] != labels[b] for a, b in approx)


def test_ivf_assignment_agreement_and_dedup_totality(spark):
    """The IVF-accelerated assignment (the O(n*sqrt(k)) escalation of
    semantic_dedup's assignment stage) agrees with the exact argmin on
    ~all vectors at the probes=3 default, and semantic_dedup(assign=
    'ivf') still emits exactly one verdict per vector."""
    from week4_musemotion_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    cent = S.kmeans_fit(emb, k=32, iters=1)
    exact = {
        r["vec_id"]: r["cluster"]
        for r in S._assign_clusters(emb, cent, "vec_id", "embedding", "vec_id").collect()
    }
    ivf = {
        r["vec_id"]: r["cluster"]
        for r in S._assign_clusters_ivf(
            emb, cent, "vec_id", "embedding", "vec_id"
        ).collect()
    }
    assert set(ivf) == set(exact)
    agree = sum(exact[v] == ivf[v] for v in exact) / len(exact)
    assert agree >= 0.95, f"IVF assignment diverged from exact argmin: {agree:.3f}"

    out = S.semantic_dedup(emb, target_cluster_size=16, iters=1, assign="ivf").toPandas()
    assert sorted(out["vec_id"]) == sorted(exact)
    assert set(out["keep"].unique()) <= {0, 1}


def test_semantic_dedup_fit_fraction_sampled_quantizer(spark):
    """fit_fraction trains the quantizer on a seeded sample (the
    FAISS-style cost cut for Lloyd's per-iteration assignment).  The
    keep rule is exact WITHIN whatever clusters the quantizer
    produces, so the invariants that must survive sampling are:
    totality (every vector verdict'd once), a non-collapsed
    quantizer, and per-cluster keep decisions that match a numpy
    recomputation — identical to the full-fit contract."""
    import numpy as np

    from week4_musemotion_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    out = S.semantic_dedup(emb, target_cluster_size=16, fit_fraction=0.5).toPandas()

    assert sorted(out["vec_id"]) == sorted(
        r["vec_id"] for r in emb.select("vec_id").collect()
    )
    assert out["cluster"].nunique() > 1

    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    for _, grp in out.groupby("cluster"):
        grp = grp.sort_values("vec_id").reset_index(drop=True)
        mat = np.stack([vecs[v] for v in grp["vec_id"]])
        nrm = np.sqrt((mat * mat).sum(axis=1))
        unit = mat / np.where(nrm == 0, 1.0, nrm)[:, None]
        cos = unit @ unit.T
        dup = np.triu(cos >= 0.45 - 1e-9, k=1) & (nrm > 0)[:, None] & (nrm > 0)[None, :]
        expect = ~dup.any(axis=0)
        got = grp["keep"].to_numpy().astype(bool)
        strict = ~(np.triu(cos >= 0.45 + 1e-9, k=1)).any(axis=0)
        assert ((got == expect) | (got == strict)).all()


def test_kmeans_fit_fraction_guards(spark):
    """A sample too thin to seed k clusters silently falls back to the
    full corpus (centroid count stays k); out-of-range fractions and
    bad string k / assign values are rejected up front."""
    import pytest

    from week4_musemotion_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").limit(40)
    cent = S.kmeans_fit(emb, k=8, iters=1, fit_fraction=0.01)
    assert cent.shape[0] == 8

    with pytest.raises(ValueError, match="fit_fraction"):
        S.kmeans_fit(emb, k=4, fit_fraction=1.5)
    with pytest.raises(ValueError, match="balanced"):
        S.semantic_dedup(emb, k="sqrt")
    with pytest.raises(ValueError, match="assign"):
        S.semantic_dedup(emb, k=4, assign="fancy")


def test_hard_negatives_null_label_contract(spark):
    """Null labels are rejected with a clear contract error, not a
    mid-kernel NaN→int cast failure."""
    import pytest

    from week4_musemotion_spark.operators import similarity as S

    from pyspark.errors import PythonException

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").limit(20)
    nulled = emb.withColumn(
        "label", F.when(F.col("vec_id") % 5 == 0, None).otherwise(F.col("label"))
    )
    q = emb.limit(3)

    # query side: validated on the driver before any job runs
    with pytest.raises(ValueError, match="non-null integer labels"):
        S.hard_negatives(emb, nulled, k=2)

    # corpus side: surfaces from the Arrow kernel at execution time
    with pytest.raises(PythonException, match="non-null integer labels"):
        S.hard_negatives(nulled, q, k=2).collect()

    # the LSH scale path enforces the SAME contract (without it a
    # null label silently drops rows via NULL != comparison)
    with pytest.raises(ValueError, match="query side has null"):
        S.hard_negatives_lsh(emb, nulled.limit(6), k=2)
    with pytest.raises(ValueError, match="corpus has null"):
        S.hard_negatives_lsh(nulled, q, k=2)


def test_knn_null_embedding_raises_curated_error(spark):
    """A null embedding row fails with the curated error that names the
    hygiene query, not numpy's inhomogeneous-shape error."""
    import pytest

    from pyspark.errors import PythonException

    from week4_musemotion_spark.operators.similarity import knn_brute_force

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").filter(F.col("vec_id") < 20)
    nulled = emb.withColumn(
        "embedding", F.when(F.col("vec_id") % 5 == 0, None).otherwise(F.col("embedding"))
    )
    with pytest.raises(PythonException, match="null embedding row"):
        knn_brute_force(nulled, emb.limit(3), k=2).collect()
