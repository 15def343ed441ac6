"""Sinks: the reference's four load paths, Spark-native.

Reference → engine mapping (SURVEY.md §2.1):
- K1 full-replace JDBC  → Spark's ``DataFrameWriter.jdbc`` with
  ``mode="overwrite"`` (no engine wrapper: the writer already takes
  the mode, the batch size and the partition count)
- K2 explicit-DDL append→ ``DataFrameWriter.jdbc`` with
  ``mode="append"`` (DDL via ``spark.sql`` where a metastore exists)
- K3 create-if-absent   → :func:`write_parquet` (CREATE IF NOT
  EXISTS semantics are native to ``saveAsTable``)
- K4 upsert             → operators.upsert (last-write-wins merge;
  Spark does not enforce uniqueness, the merge does)

Parquet is the engine-native format: columnar, splittable,
stats-backed (min/max pruning), and the basis for everything the
optimizer pushes down.  ``partition_by`` should be a low-cardinality
column used in filters (at 100 TB, partition pruning is the first
and cheapest IO saver).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def export_with_manifest(
    df: DataFrame,
    path: str,
    manifest_fn,
    partition_by: tuple[str, ...] = ("source", "lang"),
) -> None:
    """Manifest-driven partitioned corpus export (the writer twin of
    ``queries/textmix.q_data_card``): the data lands
    ``partitionBy(*partition_by)`` (one directory family per shard —
    the layout a 100 TB training corpus ships in), then the manifest
    (one row per shard: ``manifest_fn(re-read df)``) is computed from
    the data AS WRITTEN — a re-read of the published files, so the
    counts describe what is actually on disk, not the plan that
    produced it — and published LAST to ``<path>/_manifest``.
    Manifest-present ⇒ export complete: readers treat it as the
    commit marker (the underscore prefix hides it from Spark's data
    scan).  For the marker claim to hold on its own, the manifest is
    written to a dot-prefixed staging dir and atomically ``os.rename``d
    into place — a crash mid-manifest-write leaves only staging
    litter, never a partial ``_manifest`` a presence-checking reader
    would trust."""
    df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
    back = df.sparkSession.read.parquet(path)
    _publish_manifest(manifest_fn(back), path)


def _publish_manifest(manifest_df: DataFrame, path: str) -> None:
    """Atomically (re)publish ``<path>/_manifest``: write to a
    ``.manifest_stage`` dir, remove any prior manifest, rename the
    staging dir into place.  The reader-visible states are only
    absent (not committed / being replaced) or complete."""
    import os
    import shutil

    stage = os.path.join(path, ".manifest_stage")
    final = os.path.join(path, "_manifest")
    shutil.rmtree(stage, ignore_errors=True)
    manifest_df.write.mode("overwrite").parquet(stage)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(stage, final)


def refresh_manifest(
    spark,
    path: str,
    manifest_fn,
    partitions: list[dict],
    keys: tuple[str, ...] = ("source", "lang"),
) -> None:
    """Incrementally re-card an :func:`export_with_manifest` dataset:
    recompute manifest rows for ONLY the named shards (e.g. after a
    single-shard append) and atomically republish the merged manifest.

    ``export_with_manifest`` deliberately re-reads the whole dataset so
    the manifest describes on-disk truth — but at 100 TB that makes
    every single-shard touch a full-corpus scan.  This is the
    incremental path: each entry of ``partitions`` is a dict keyed by
    ``keys`` (``{"source": "web", "lang": "en"}``); the touched shards
    are selected with a PARTITION-PRUNED filter (never hand-built
    ``key=value`` paths — Spark escapes special characters in
    partition directory names and spells NULL as
    ``__HIVE_DEFAULT_PARTITION__``, so only its own pruning resolves a
    value back to its directory), their manifest rows are recomputed
    from the files as written, all other shards' rows are carried over
    from the stored manifest untouched, and the merge is published via
    the same staging-dir + ``os.rename`` commit as the full export.
    Cost is O(touched shards) scan volume — the pruned filter reads
    only the named directories — not O(corpus)."""
    import os

    if not partitions:
        raise ValueError("partitions must be non-empty (nothing to refresh)")
    for p in partitions:
        missing = [k for k in keys if k not in p]
        if missing:
            raise ValueError(f"partition spec {p!r} missing key(s) {missing}")

    def _match(p: dict):
        cond = F.lit(True)
        for k in keys:
            cond = cond & F.col(k).eqNullSafe(F.lit(p[k]))
        return cond

    touched = _match(partitions[0])
    for p in partitions[1:]:
        touched = touched | _match(p)
    sub = spark.read.parquet(path).filter(touched)
    fresh = manifest_fn(sub)
    stored = spark.read.parquet(os.path.join(path, "_manifest"))
    kept = stored.filter(~touched)
    _publish_manifest(kept.unionByName(fresh).coalesce(1), path)
