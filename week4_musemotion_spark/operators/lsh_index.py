"""Persisted MinHash-LSH index: build once, query batches — the
materialized form of the band table that ``dedup.minhash_lsh_join``
recomputes per call.  Batches are appended only by the streaming
near-dup gate (``streaming/neardup.py``), under its batch-id commit
log.

Layout under ``path`` (plain parquet; note ``spark.read.parquet`` does
NOT check ``_SUCCESS`` — reads are not commit-gated, see the crash
contract below):

- ``bands/``     — ``(_id, band, bh)``: one row per document per LSH
  band; the candidate-generation index.  Candidates come from an
  equi-join on ``bh`` (see :func:`_bucket_candidates`).
- ``shingles/``  — ``(_id, shingle)``: the distinct shingle-hash sets
  the exact-Jaccard verification needs (candidates are verified, so
  index false positives never surface).

Ids must be unique across the build and every appended batch (the
ingest pipeline's natural monotonic doc ids).  Crash contract:
:func:`build_index` writes ``shingles/`` (the verification data)
BEFORE ``bands/`` (the candidate index), so a crash between the two
leaves shingle sets with no band rows — those ids simply never become
candidates, which is safe; the reverse order would leave band rows
whose exact-Jaccard verification data is missing, silently dropping
true near-dups in the inner ``_intersections`` join.  The streaming
gate appends in the same order.  A crash mid-write can still leave
partial part-files that a later read will see (parquet reads are not
``_SUCCESS``-gated); for replay-exact multi-writer semantics use the
streaming gate's batch commit log (``sources/sinks.commit_batch``),
whose committed tags (``sinks.committed_batches``) also decide what
:func:`compact_index` keeps.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from week4_musemotion_spark.operators.dedup import (
    _band_rows,
    _intersections,
    _jaccard_e4,
    minhash_signatures,
    shingle_sets,
)
from week4_musemotion_spark.sources.sinks import committed_batches, purge_uncommitted


def build_index(
    df: DataFrame, path: str, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> None:
    """Materialize the LSH index for a corpus (overwrite)."""
    sh = shingle_sets(df, text_col, id_col, n).persist()
    # shingles (verification data) FIRST: a crash after this write but
    # before the band write only hides the batch from candidate
    # generation; bands-first would emit candidates that verification
    # silently drops (see module docstring crash contract).
    sh.write.mode("overwrite").parquet(os.path.join(path, "shingles"))
    _band_rows(minhash_signatures(sh)).write.mode("overwrite").parquet(
        os.path.join(path, "bands")
    )
    sh.unpersist()


def _bucket_candidates(bband: DataFrame, idx_bands: DataFrame) -> DataFrame:
    """Distinct (doc_a=batch, doc_b=corpus) candidate pairs from a
    band-bucket join.  The equi-join key is ``bh`` ALONE: the band
    index is already folded into the hash (``_band_rows`` seeds
    xxhash64 with ``10_000 + band``), so a cross-band bh collision is
    a ~2⁻⁶⁴ accident — and a harmless one, because every candidate is
    exact-Jaccard verified."""
    return (
        bband.alias("a")
        .join(idx_bands.alias("b"), F.col("a.bh") == F.col("b.bh"))
        .select(F.col("a._id").alias("doc_a"), F.col("b._id").alias("doc_b"))
        .distinct()
    )


def _query_against(
    batch: DataFrame,
    idx_bands: DataFrame,
    idx_sh: DataFrame,
    threshold: float,
    text_col: str,
    id_col: str,
    n: int,
) -> DataFrame:
    # deliberately NOT persisted: the shingle subtree appears twice in
    # the plan (signatures + verification union), but it is O(batch)
    # projection/explode work — recomputing it is cheaper than what a
    # lazy builder cannot do, which is unpersist after the caller's
    # action (each streaming micro-batch would strand one cached frame;
    # the expensive corpus side is an index scan either way)
    bsh = shingle_sets(batch, text_col, id_col, n)
    cands = _bucket_candidates(_band_rows(minhash_signatures(bsh)), idx_bands)
    sh_all = bsh.unionByName(idx_sh)
    verified = _intersections(cands, sh_all).filter(F.col("jac") >= threshold)
    return verified.select("doc_a", "doc_b", _jaccard_e4())


def query_index(
    batch: DataFrame,
    path: str,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Near-dup pairs between ``batch`` and the indexed corpus:
    ``(doc_a=batch id, doc_b=corpus id, jaccard_e4)`` with exact
    verification, identical output contract to
    ``dedup.minhash_lsh_join`` — but the corpus side is a parquet
    scan of the index, not a recompute.  Batch ids must not collide
    with indexed ids."""
    spark: SparkSession = batch.sparkSession
    idx_bands = spark.read.parquet(os.path.join(path, "bands"))
    idx_sh = spark.read.parquet(os.path.join(path, "shingles"))
    return _query_against(batch, idx_bands, idx_sh, threshold, text_col, id_col, n)


def compact_index(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    trigger_files: int | None = None,
    committed: set[str] | None = None,
) -> dict[str, int]:
    """Small-files compaction for the parquet index: every streaming
    append adds part-files to ``bands/`` and ``shingles/``; after N
    micro-batches the band table is a small-files field and every
    ``query_index`` scan pays N file opens.  Routes both directories
    through ``operators/layout.compact_parquet`` (crash-safe
    staging/rename swap).  Returns {subdir: output file count}
    (-1 = skipped under the trigger).

    Streaming-gate aware: files of UNCOMMITTED batches (a batch-log
    tag with no ``_ingest_commits`` marker — a torn attempt) are
    purged first, exactly what that batch's own replay would do, so
    compaction never folds half-written output into the compacted
    files.  Committed batches lose their batch-log file names but keep
    their markers, so a post-compaction replay still skips them.

    ``trigger_files``: only compact a subdir once it holds more than
    this many parquet files (None = always).

    NOT concurrent-writer safe: run only while no ingest gate is
    active on this index — a live batch's not-yet-committed files
    would be purged as torn mid-flight, and the directory swap races
    the gate's renames.  (Same single-maintainer contract as any
    OPTIMIZE/rewrite without a table-format lock manager; the
    streaming gate's trigger(availableNow) drains to a natural
    quiesce point.)
    """
    # `committed` lets a caller coordinating multiple dirs (compact_gate)
    # pass ONE commit-log snapshot, so every dir purges against the same
    # view even if a batch commits mid-pass
    if committed is None:
        committed = committed_batches(os.path.join(path, "_ingest_commits"))
    out: dict[str, int] = {}
    for sub in ("shingles", "bands"):
        d = os.path.join(path, sub)
        if os.path.isdir(d):
            out[sub] = _compact_dir(spark, d, committed, target_file_bytes, trigger_files)
    return out


def _compact_dir(
    spark: SparkSession,
    d: str,
    committed: set[str],
    target_file_bytes: int,
    trigger_files: int | None,
) -> int:
    """One gate-output directory's compaction step, shared by
    :func:`compact_index` and ``streaming.neardup.compact_gate`` so
    the purge/trigger rules can never diverge between the index and
    the doc dirs: purge what uncommitted (torn) batches left
    (``sinks.purge_uncommitted``), then compact unless at-or-under the
    file-count trigger (returns -1 when skipped)."""
    from week4_musemotion_spark.operators.layout import compact_parquet

    purge_uncommitted(d, committed)
    n_files = sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
    if trigger_files is not None and n_files <= trigger_files:
        return -1
    return compact_parquet(spark, d, target_file_bytes)
