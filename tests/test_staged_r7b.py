"""Spark-vs-DuckDB differential and semantic checks for the distinct,
Bloom-join and leakage-split queries in ``queries/sketch_quality.py``."""

from __future__ import annotations

from tests.conftest import SF_SMOKE, oracle_diff

TABLES = ("documents", "embeddings", "lineitem", "part", "supplier")


def _diff(spark, name):
    return oracle_diff(spark, name, TABLES)


def test_distinct_sketch_matches_oracle(spark):
    got = _diff(spark, "q_distinct_sketch")
    assert len(got) == 20, "one row per source"
    # raw-regime guard: every source's cardinality must clear 2.5m,
    # or the query's no-linear-counting design assumption broke
    assert (got.exact_distinct > 2.5 * 256).all()
    # sketch error within ~3 standard errors (1.04/sqrt(256) ≈ 6.5%)
    assert (got.err_ppm < 200_000).all()
    assert got.zero_regs.between(0, 256).all()


def test_bloom_pruned_join_matches_oracle(spark):
    got = _diff(spark, "q_bloom_pruned_join")
    assert len(got) > 0 and (got.n_items > 0).all()
    assert (got.revenue_e4 > 0).all()


def test_leakage_split_matches_oracle(spark):
    got = _diff(spark, "q_leakage_split")
    assert set(got.split) <= {"train", "val", "test"}
    assert (got.straddle_pairs == 0).all(), "near-dup pair crossed a split"
    assert got.n_docs.sum() == 500, "every document assigned exactly once"
    assert (got.n_clusters <= got.n_docs).all()
    # hash-bucketing should land near 80/10/10 (loose: binomial noise)
    frac = got.set_index("split").n_docs / got.n_docs.sum()
    assert frac.get("train", 0) > 0.6


def test_leakage_split_stable_under_append_unless_clusters_merge(spark):
    """Appending documents must not move EXISTING docs between splits
    — except docs whose cluster gained a lower-id representative via
    a merge (the honest caveat: a new doc bridging two clusters
    re-keys the component).  On this corpus the planted near-dups
    never bridge across the append boundary, so assignments are
    byte-stable."""
    from pyspark.sql import functions as F

    from week4_musemotion_spark.operators.dedup import jaccard_pairs
    from week4_musemotion_spark.operators.graph import dedup_clusters
    from week4_musemotion_spark.functions.hashing import stable_hash64
    from week4_musemotion_spark.sources.tables import load_table

    d = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")

    def _assign(corpus):
        clusters = dedup_clusters(jaccard_pairs(corpus, 0.8))
        b = F.pmod(stable_hash64(F.col("rep").cast("string")), 100)
        return {
            r.doc_id: r.split
            for r in corpus.select("doc_id")
            .join(clusters, "doc_id", "left")
            .select("doc_id", F.coalesce("keep_id", "doc_id").alias("rep"))
            .select(
                "doc_id",
                F.when(b < 80, "train").when(b < 90, "val").otherwise("test").alias("split"),
            )
            .collect()
        }

    old = d.filter(F.col("doc_id") % 5 != 0)
    before = _assign(old)
    after = _assign(d)
    # reps of old docs may only change via a cross-boundary merge;
    # count the moved docs and require each to be explained by a
    # pair linking it (transitively) to an appended doc
    moved = {k for k in before if after[k] != before[k]}
    if moved:
        pairs = jaccard_pairs(d, 0.8)
        appended = {r.doc_id for r in d.filter(F.col("doc_id") % 5 == 0).collect()}
        touching = {
            r.doc_a for r in pairs.collect() if r.doc_b in appended
        } | {r.doc_b for r in pairs.collect() if r.doc_a in appended}
        assert moved <= touching, (
            "split moved a doc whose cluster gained no appended member",
            moved - touching,
        )
