"""Streaming count store: a ``foreachBatch``-maintained append-only log
of per-batch keyed count partials, folded at read time.  Two stores
run on it: per-(group, day) event counts, the unbounded-stream feeder
for the daily-grid drift monitors (CUSUM / seasonal residuals), and
per-(group, bucket) log-bucket counts (``operators/qsketch.py``), whose
fold reads out quantiles; both in O(groups × keys) read-side state.

This is the ADDITIVE branch of the engine's streaming design rule
(see streaming/sketches.py): counts are NOT an idempotent monoid —
re-adding a replayed micro-batch double-counts — so algebra cannot
give exactly-once, and every batch goes through the batch commit log
(``sources/sinks.py``: ``commit_batch`` under ``_count_commits``).
A batch's partial counts once its marker exists; a replay of a
committed batch returns at once, and a torn attempt's files are
purged before the rewrite.

The store is a LOG of committed partials, not a materialized total:
totals fold at read time (``read_daily_counts``) — a sum over
committed batch partials is exactly the map-side-combine shape, and
keeping the store append-only is what makes the per-batch write
O(batch) instead of O(history) (a read-modify-republish total table
would re-write the whole history every micro-batch; the HLL store
can afford republish because its state is capped at m rows/group).
Folding with SUM is also what makes the quantile store exact: the
bucket sketch's merge IS addition, so the streamed readout equals the
batch query's to the digit.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from week4_musemotion_spark.sources.sinks import batch_tag, commit_batch, committed_batches


def _layout(store_path: str) -> tuple[str, str, str]:
    """``(data_dir, commit_dir, folded_dir)`` of a count store."""
    return (
        os.path.join(store_path, "counts"),
        os.path.join(store_path, "_count_commits"),
        os.path.join(store_path, "_compacted"),
    )


def _files_of(data_dir: str, tags: set[str]) -> list[str]:
    """The data files of the batches ``tags``."""
    if not tags or not os.path.isdir(data_dir):
        return []
    return [os.path.join(data_dir, n) for n in os.listdir(data_dir) if batch_tag(n) in tags]


def make_count_sink(store_path: str, partial):
    """The ``foreachBatch`` body maintaining the partial log: batch
    ``batch_id`` appends ``partial(batch_df)``, a keyed partial with a
    ``cnt`` column, exactly once.  Exposed so fixtures and tests can
    drive replays deterministically (call it twice with the same
    batch_id).

        stream.writeStream.foreachBatch(
            make_count_sink(store, lambda b: bucket_counts(b, ["source"], "doc_len"))
        ).option("checkpointLocation", ckpt).start()
    """
    data_dir, commit_dir, _ = _layout(store_path)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        commit_batch(
            commit_dir, str(batch_id), [data_dir], lambda append: append(partial(batch_df), data_dir)
        )

    return _sink


#: Schema of an empty/uncommitted store with the default group cols —
#: callers with other group columns pass their own ``empty_schema``.
_DEFAULT_EMPTY = "event_type string, day_idx long, cnt long"


def _fold(df: DataFrame) -> DataFrame:
    keys = [c for c in df.columns if c != "cnt"]
    return df.groupBy(*keys).agg(F.sum("cnt").alias("cnt"))


def read_daily_counts(
    spark: SparkSession, store_path: str, empty_schema: str = _DEFAULT_EMPTY
) -> DataFrame:
    """Fold the committed partial log to per-key totals (every column
    but ``cnt`` is a key).

    Only files of COMMITTED, not-yet-folded batches are read
    (``sinks.committed_batches``): a torn attempt's files sit in the
    data dir until the replay purges them, and a committed
    compaction's originals sit there until the sweep removes them —
    filtering on markers + compaction manifests makes reads correct
    under BOTH races (committed ⇒ counted exactly once, torn or
    folded ⇒ not counted).  An empty or all-torn store returns zero
    rows with ``empty_schema`` (pass your own when the keys differ
    from the default)."""
    data_dir, commit_dir, folded_dir = _layout(store_path)
    files = _files_of(data_dir, committed_batches(commit_dir, folded_dir))
    if not files:
        return spark.createDataFrame([], empty_schema)
    return _fold(spark.read.parquet(*files))


def compact_counts(spark: SparkSession, store_path: str) -> dict[str, int]:
    """Fold every committed, not-yet-folded batch's partials into ONE
    compacted batch — the maintenance pass that keeps read cost
    O(groups × keys) instead of O(#micro-batches) on a long-running
    stream (the count log's analogue of the near-dup gate's
    compact_gate; the HLL store needs none because it republishes m
    rows/group every batch).

    Crash-safe ordering (readers stay exactly-once at every point):

    1. one ``sinks.commit_batch`` under the next tag ``c<n>``: append
       the live batches' fold, then write the folded-tag manifest
       ``_compacted/c<n>``, then the marker — from that instant readers
       count the compacted partials and exclude the originals
       (manifest + marker, not file deletion, flips the switch);
    2. sweep the files of every committed batch that a committed
       compaction folded — pure garbage collection, so it also removes
       what an earlier crashed sweep left, and re-runs after any crash.

    Original markers are KEPT forever: a foreachBatch replay of a
    folded batch must still see its marker and no-op.  Returns
    ``{"folded": n_batches, "files_removed": n}``."""
    data_dir, commit_dir, folded_dir = _layout(store_path)
    live = committed_batches(commit_dir, folded_dir)
    files = _files_of(data_dir, live)
    folded = 0
    if len(live) > 1 and files:
        # monotonic compaction tag from the full (never-deleted) marker
        # log, so a new compaction can never collide with a committed one
        marks = committed_batches(commit_dir)
        seq = 1 + max((int(b[1:]) for b in marks if b.startswith("c") and b[1:].isdigit()), default=0)
        tag = f"c{seq}"

        def _writes(append) -> None:
            append(_fold(spark.read.parquet(*files)), data_dir)
            os.makedirs(folded_dir, exist_ok=True)
            with open(os.path.join(folded_dir, tag), "w") as fh:
                fh.write("\n".join(sorted(live)) + "\n")

        commit_batch(commit_dir, tag, [data_dir], _writes)
        folded = len(live)
    garbage = committed_batches(commit_dir) - committed_batches(commit_dir, folded_dir)
    removed = 0
    for p in _files_of(data_dir, garbage):
        os.remove(p)
        removed += 1
    return {"folded": folded, "files_removed": removed}
