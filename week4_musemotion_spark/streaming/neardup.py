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
``batch_id``, and this gate is IDEMPOTENT under that replay.  The
protocol (the same txn-marker idea Delta's ``txnAppId``/``txnVersion``
writer option implements at the table-format layer):

1. every file a batch produces carries a ``bid-<batch_id>-`` name
   prefix and lands via staging + ``sinks.publish``, so a batch's
   output is identifiable and removable as a unit;
2. a commit marker ``_ingest_commits/<batch_id>`` is created only
   AFTER all four outputs (quarantine, corpus, index shingles, index
   bands) are in place — marker present ⇒ replay returns immediately;
3. marker absent ⇒ any torn files from the failed attempt are purged
   by prefix BEFORE the batch is recomputed, so the near-dup decision
   is made against exactly the pre-batch corpus state and the rewrite
   reproduces the original outcome.

The commit log and staging dirs are ``_``/``.``-prefixed, which Spark's
file readers skip, so readers of ``corpus/docs`` etc. never see them.
Reference analogue: the upsert loader's key-idempotent semantics
(load_musemotion_to_db.py:91-143) — same guarantee, batch-granular.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from week4_musemotion_spark.operators.dedup import _band_rows, minhash_signatures, shingle_sets
from week4_musemotion_spark.operators.lsh_index import query_index
from week4_musemotion_spark.sources.sinks import publish


def _purge_keyed(target: str, tag: str) -> None:
    """Remove every file a previous attempt of batch ``tag`` left in
    ``target`` (identified by the bid name prefix)."""
    if not os.path.isdir(target):
        return
    prefix = f"bid-{tag}-"
    for name in os.listdir(target):
        if name.startswith(prefix):
            os.remove(os.path.join(target, name))


def _append_keyed(df: DataFrame, target: str, tag: str) -> None:
    """Append ``df`` to the parquet dir ``target`` as files named
    ``bid-<tag>-<i>.parquet``: write to a dot-prefixed staging dir
    (invisible to Spark readers), then publish each part file into
    place.  Combined with ``_purge_keyed`` this makes the append
    replayable — the batch's contribution is removable as a unit."""
    os.makedirs(target, exist_ok=True)
    staging = os.path.join(target, f".staging-{tag}-{uuid.uuid4().hex[:8]}")
    try:
        df.write.mode("overwrite").parquet(staging)
        parts = [n for n in os.listdir(staging) if n.startswith("part-") and n.endswith(".parquet")]
        for i, name in enumerate(sorted(parts)):
            publish(
                os.path.join(target, f"bid-{tag}-{i:05d}.parquet"),
                None,
                stage=os.path.join(staging, name),
            )
    finally:
        shutil.rmtree(staging, ignore_errors=True)


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
        tag = str(batch_id)
        marker = os.path.join(commit_dir, tag)
        if os.path.exists(marker):
            return  # replay of a fully committed batch: nothing to do
        # torn previous attempt: remove its files BEFORE querying the
        # index, so the near-dup decision sees the pre-batch corpus
        for d in (quarantine_dir, corpus_dir, shingles_dir, bands_dir):
            _purge_keyed(d, tag)
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
            _append_keyed(flagged, quarantine_dir, tag)
            _append_keyed(clean, corpus_dir, tag)
            # shingles before bands — same crash contract as lsh_index
            sh = shingle_sets(clean, text_col, id_col, 3).persist()
            _append_keyed(sh, shingles_dir, tag)
            _append_keyed(_band_rows(minhash_signatures(sh)), bands_dir, tag)
            # all outputs in place: publish the commit marker LAST
            os.makedirs(commit_dir, exist_ok=True)
            with open(marker, "w") as fh:
                fh.write("committed\n")
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
    doc dirs, each accreting one ``bid-*`` file per micro-batch.  Same
    gate-aware rules everywhere: uncommitted (torn) batches' files are
    purged first — what their own replay would do — and committed
    batches keep their ``_ingest_commits`` markers, so post-compaction
    replays still no-op.  Same single-maintainer contract as
    ``compact_index``: run only while no ingest is active (the
    ``trigger(availableNow)`` stream drains to a natural quiesce
    point).  Returns {dir: output file count} (-1 = under trigger)."""
    from week4_musemotion_spark.operators.lsh_index import _compact_dir, compact_index

    commit_dir = os.path.join(index_path, "_ingest_commits")
    committed = set(os.listdir(commit_dir)) if os.path.isdir(commit_dir) else set()
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


def stream_neardup_ingest(
    stream: DataFrame,
    index_path: str,
    corpus_path: str,
    quarantine_path: str,
    checkpoint_dir: str,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Run the near-dup-gated ingest loop; returns the StreamingQuery
    (caller awaits termination).  The index at ``index_path`` must
    already exist (``lsh_index.build_index`` on the seed corpus, or
    on an empty frame)."""
    ingest = make_ingest_fn(
        index_path,
        corpus_path,
        quarantine_path,
        threshold=threshold,
        text_col=text_col,
        id_col=id_col,
    )
    return (
        stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
