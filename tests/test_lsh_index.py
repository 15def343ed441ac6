"""Persisted MinHash-LSH index lifecycle (operators/lsh_index):
build → query equals the recompute join; streaming appends compact
without changing query results."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _docs(spark):
    from week4_musemotion_spark.sources.tables import load_table

    return load_table(spark, SF_SMOKE, "documents")


def _pairs(df):
    return sorted((r["doc_a"], r["doc_b"], r["jaccard_e4"]) for r in df.collect())


def test_query_matches_recompute_join(spark, tmp_path):
    from week4_musemotion_spark.operators.dedup import minhash_lsh_join
    from week4_musemotion_spark.operators.lsh_index import build_index, query_index

    d = _docs(spark)
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    batch = d.filter(F.col("doc_id") % 10 == 0)
    path = str(tmp_path / "idx")
    build_index(corpus, path)
    got = _pairs(query_index(batch, path, threshold=0.8))
    want = _pairs(minhash_lsh_join(batch, corpus, threshold=0.8))
    assert got == want and len(got) > 0


def test_compact_index_bounds_files_and_preserves_queries(spark, tmp_path):
    """20 streaming micro-batches accrete ~20 part-files per index
    subdir; compact_index folds each subdir to a bounded file count,
    query results are identical before/after, torn (uncommitted)
    batch files are purged rather than folded in, and committed-batch
    replays still no-op afterwards (markers survive compaction)."""
    import os

    from week4_musemotion_spark.operators.lsh_index import (
        build_index,
        compact_index,
        query_index,
    )
    from week4_musemotion_spark.streaming import neardup

    d = _docs(spark).select("doc_id", "text")
    seed = d.filter(F.col("doc_id") % 2 == 1)
    idx = str(tmp_path / "idx")
    build_index(seed, idx)
    ingest = neardup.make_ingest_fn(idx, str(tmp_path / "corpus"), str(tmp_path / "quar"))
    arrivals = d.filter(F.col("doc_id") % 2 == 0)
    for bid in range(20):
        ingest(arrivals.filter((F.col("doc_id") / 2 % 20).cast("int") == bid), bid)

    probe = d.filter(F.col("doc_id") % 7 == 3).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    before = _pairs(query_index(probe, idx, threshold=0.8))
    assert before, "probe must hit the indexed corpus"

    bands_dir, shingles_dir = os.path.join(idx, "bands"), os.path.join(idx, "shingles")
    n_before = sum(1 for f in os.listdir(bands_dir) if f.endswith(".parquet"))
    assert n_before >= 20  # the small-files field compaction exists for

    # a torn attempt (bid files, no commit marker) must be purged, not folded
    with open(os.path.join(bands_dir, "bid-99-00000.parquet"), "wb") as fh:
        fh.write(b"torn")

    # under-trigger: skipped
    assert compact_index(spark, idx, trigger_files=10_000) == {
        "shingles": -1,
        "bands": -1,
    }
    assert not os.path.exists(os.path.join(bands_dir, "bid-99-00000.parquet"))

    res = compact_index(spark, idx)
    assert all(v >= 1 for v in res.values()), res
    n_after = sum(1 for f in os.listdir(bands_dir) if f.endswith(".parquet"))
    assert n_after < n_before and n_after <= max(res["bands"], 4)
    assert _pairs(query_index(probe, idx, threshold=0.8)) == before
    # committed batch replays still no-op: corpus row count unchanged
    corpus_rows = spark.read.parquet(str(tmp_path / "corpus" / "docs")).count()
    ingest(arrivals.filter((F.col("doc_id") / 2 % 20).cast("int") == 5), 5)
    assert spark.read.parquet(str(tmp_path / "corpus" / "docs")).count() == corpus_rows
