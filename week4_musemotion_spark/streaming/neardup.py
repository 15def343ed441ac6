"""Streaming near-dup ingest: every micro-batch of documents is
LSH-checked against the persisted corpus index, flagged rows are
diverted to a quarantine sink, clean rows are appended to BOTH the
corpus parquet and the LSH index — the continuously-ingesting form
of ``operators/lsh_index``.

Dataflow per micro-batch (``foreachBatch`` — the idiomatic bridge to
batch-only logic like our index):

    batch ──query_index──> near-dup pairs vs corpus-so-far
          ├─ flagged  (batch ids that matched)  → quarantine/
          └─ clean    (the rest)                → corpus/ + index append

Cost per batch is O(batch): the corpus side is a parquet scan of the
band index, never a recompute — which is what makes the loop viable
on an unbounded stream.  Batch-internal duplicates are NOT resolved
here (two near-identical docs arriving in the same micro-batch both
pass); run ``minhash_lsh_pairs`` inside the batch first if that
matters for the workload — at production batch sizes the
corpus-check dominates.

Exactly-once: foreachBatch replays a failed batch with the same
``batch_id``, and this gate is IDEMPOTENT under that replay.  Each
batch runs through the batch commit log (``sources/sinks.commit_batch``)
with the marker dir ``<index>/_ingest_commits``: marker present ⇒ the
replay returns at once; marker absent ⇒ the torn attempt's files are
purged from all four outputs (quarantine, corpus, index shingles,
index bands) BEFORE the batch is recomputed, so the near-dup decision
is made against exactly the pre-batch corpus state and the rewrite
reproduces the original outcome.

The commit log and staging dirs are ``_``/``.``-prefixed, which Spark's
file readers skip, so readers of ``corpus/docs`` etc. never see them.
Reference analogue: the upsert loader's key-idempotent semantics
(load_musemotion_to_db.py:91-143) — same guarantee, batch-granular.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from week4_musemotion_spark.operators.dedup import _band_rows, minhash_signatures, shingle_sets
from week4_musemotion_spark.operators.lsh_index import query_index
from week4_musemotion_spark.sources.sinks import commit_batch, committed_batches


def make_ingest_fn(
    index_path: str,
    corpus_path: str,
    quarantine_path: str,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """The foreachBatch body, exposed so tests can drive replays
    deterministically (call it twice with the same batch_id)."""
    commit_dir = os.path.join(index_path, "_ingest_commits")
    quarantine_dir = os.path.join(quarantine_path, "docs")
    corpus_dir = os.path.join(corpus_path, "docs")
    shingles_dir = os.path.join(index_path, "shingles")
    bands_dir = os.path.join(index_path, "bands")

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        commit_batch(
            commit_dir,
            str(batch_id),
            (quarantine_dir, corpus_dir, shingles_dir, bands_dir),
            lambda append: _gate(batch_df, append),
        )

    def _gate(batch_df: DataFrame, append) -> None:
        batch_df = batch_df.persist()
        flagged_ids = clean = sh = None
        try:
            pairs = query_index(
                batch_df, index_path, threshold=threshold, text_col=text_col, id_col=id_col
            )
            # persist + materialize the flagged id set NOW: the
            # quarantine write and the clean anti-join both derive from
            # it, and without the cache each append re-runs the whole
            # index-join + exact-verification subtree — the dominant
            # per-batch cost, paid twice
            flagged_ids = pairs.select(F.col("doc_a").alias(id_col)).distinct().persist()
            flagged_ids.count()
            flagged = batch_df.join(flagged_ids, id_col, "left_semi")
            clean = batch_df.join(flagged_ids, id_col, "left_anti").persist()
            append(flagged, quarantine_dir)
            append(clean, corpus_dir)
            # shingles before bands — same crash contract as lsh_index
            sh = shingle_sets(clean, text_col, id_col, 3).persist()
            append(sh, shingles_dir)
            append(_band_rows(minhash_signatures(sh)), bands_dir)
        finally:
            # unpersist on EVERY path: a failed attempt is expected
            # here (the replay protocol exists for it), and stranding
            # cached frames per retry would bleed executor storage
            batch_df.unpersist()
            for frame in (flagged_ids, clean, sh):
                if frame is not None:
                    frame.unpersist()

    return _ingest


def compact_gate(
    spark,
    index_path: str,
    corpus_path: str,
    quarantine_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    trigger_files: int | None = None,
) -> dict[str, int]:
    """Small-files maintenance for ALL the gate's outputs: the index
    (via ``lsh_index.compact_index``) plus the quarantine and corpus
    doc dirs, each accreting one batch-log file per micro-batch.  Same
    gate-aware rules everywhere: uncommitted (torn) batches' files are
    purged first — what their own replay would do — and committed
    batches keep their ``_ingest_commits`` markers, so post-compaction
    replays still no-op.  Same single-maintainer contract as
    ``compact_index``: run only while no ingest is active (the
    ``trigger(availableNow)`` stream drains to a natural quiesce
    point).  Returns {dir: output file count} (-1 = under trigger)."""
    from week4_musemotion_spark.operators.lsh_index import _compact_dir, compact_index

    committed = committed_batches(os.path.join(index_path, "_ingest_commits"))
    # one commit-log snapshot for ALL dirs: index and doc dirs must
    # agree on which batches are torn
    out = compact_index(spark, index_path, target_file_bytes, trigger_files, committed)
    for label, d in (
        ("quarantine", os.path.join(quarantine_path, "docs")),
        ("corpus", os.path.join(corpus_path, "docs")),
    ):
        if os.path.isdir(d):
            out[label] = _compact_dir(spark, d, committed, target_file_bytes, trigger_files)
    return out
