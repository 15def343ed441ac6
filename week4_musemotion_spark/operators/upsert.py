"""Upsert (merge) semantics on immutable columnar storage.

The reference upserts via a temp table + ``ON DUPLICATE KEY UPDATE``
(load_musemotion_to_db.py:91-143).  Spark+Parquet has no in-place
update, so the engine implements merge as *last-write-wins dedup over
the union of snapshot and updates*, then snapshot replacement — the
standard pattern underneath table formats' MERGE INTO (SURVEY.md §4
custom-work item 1; Delta Lake would provide this transactionally and
is a drop-in upgrade).

Cost model at scale: one shuffle on the merge key over
snapshot+updates.  With the snapshot bucketed/partitioned by key,
only touched partitions need rewriting (dynamic partition overwrite).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from week4_musemotion_spark.sources.sinks import publish


def last_wins(df: DataFrame, keys: list[str], order_by: list) -> DataFrame:
    """Keep one row per key: highest ``order_by`` wins.

    ``order_by`` must be a total order within a key group (append a
    unique id as tie-break) or the winner is nondeterministic.
    """
    w = Window.partitionBy(*keys).orderBy(
        *[F.col(c).desc() if isinstance(c, str) else c for c in order_by]
    )
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def merge_upsert(
    snapshot: DataFrame | None,
    updates: DataFrame,
    keys: list[str],
    order_by: list | None = None,
) -> DataFrame:
    """MERGE: update rows matching on ``keys``, insert the rest.

    Updates take priority over snapshot rows.  Within a source,
    duplicate keys need a total order or the winner is
    shuffle-dependent: pass ``order_by`` (e.g. a version/timestamp
    column) when one exists; otherwise a whole-row hash tie-break
    makes the choice arbitrary-but-stable across runs.
    """
    tagged_updates = updates.withColumn("_src", F.lit(1))
    if snapshot is None:
        merged = tagged_updates
    else:
        merged = snapshot.withColumn("_src", F.lit(0)).unionByName(tagged_updates)
    if order_by is None:
        non_key = [c for c in updates.columns if c not in keys]
        order_by = [F.xxhash64(*[F.col(c) for c in non_key]).desc()] if non_key else []
    order = [F.col("_src").desc(), *[F.col(c).desc() if isinstance(c, str) else c for c in order_by]]
    return last_wins(merged, keys, order).drop("_src")


def upsert_parquet_snapshot(
    spark: SparkSession, path: str, updates: DataFrame, keys: list[str]
) -> None:
    """Merge ``updates`` into the parquet snapshot at ``path``.

    Write-audit-publish with crash-safe promotion: the merge
    materializes into a staging dir and replaces the live snapshot by
    a ``replace`` :func:`~week4_musemotion_spark.sources.sinks.publish`
    (renamed aside, never deleted first), so a crash at any point
    leaves the old snapshot or the new one intact, and the next call
    recovers.
    """

    def _write(staging: str) -> None:
        # read after publish's crash recovery restored any orphaned snapshot
        snapshot = spark.read.parquet(path) if os.path.exists(path) else None
        merge_upsert(snapshot, updates, keys).write.mode("overwrite").parquet(staging)

    publish(path, _write, mode="replace")


def apply_cdc(
    snapshot: DataFrame | None,
    changes: DataFrame,
    keys: list[str],
    op_col: str = "op",
    order_by: list | None = None,
) -> DataFrame:
    """Apply an insert/update/delete change log to a snapshot — the
    CDC-merge underneath every table format's ``MERGE ... WHEN
    MATCHED AND s.op = 'D' THEN DELETE``.

    ``changes`` carries the snapshot columns plus ``op_col`` with
    ``'U'`` (upsert: insert-or-update) or ``'D'`` (delete).  Per key
    the LATEST change wins (``order_by`` must totally order changes
    within a key — a version/sequence column); a winning delete
    removes the key, a winning upsert replaces the row, keys without
    changes pass through.  One shuffle on the merge key, same cost
    model as :func:`merge_upsert`.

    Output schema: exactly the snapshot's columns when a snapshot is
    given (change-log-only columns such as the ordering sequence are
    dropped after the merge decides winners); with ``snapshot=None``
    the surviving change rows keep the change-log schema minus
    ``op_col``.
    """
    tagged = changes.withColumn("_src", F.lit(1))
    # allowMissingColumns: the change log may carry columns the
    # snapshot lacks (a version/sequence column used only for
    # ordering) — snapshot rows get NULLs there, which never decide a
    # winner because the _src tag dominates the sort
    base = (
        tagged
        if snapshot is None
        else snapshot.withColumn(op_col, F.lit("U"))
        .withColumn("_src", F.lit(0))
        .unionByName(tagged, allowMissingColumns=True)
    )
    if order_by is None:
        order_by = []
    order = [F.col("_src").desc(), *[F.col(c).desc() if isinstance(c, str) else c for c in order_by]]
    won = last_wins(base, keys, order)
    alive = won.filter(F.col(op_col) != "D").drop(op_col, "_src")
    if snapshot is not None:
        # project back to the snapshot contract: ordering/sequence
        # columns that exist only in the change log must not leak
        # (they would be NULL on pass-through rows anyway)
        alive = alive.select(*snapshot.columns)
    return alive
