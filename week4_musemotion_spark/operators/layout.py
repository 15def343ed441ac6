"""Physical data layout: the Morton (Z-order) key and small-files
compaction.

- :func:`interleave_bits` — the Morton z-value of two integer columns.
  A sorted write clusters ONE column; interleaving the bits of two
  columns gives BOTH locality, so a table range-partitioned and sorted
  by the z-value has tight per-row-group min/max stats on either
  dimension (the layout Delta's OPTIMIZE ZORDER BY ships).
  ``q_morton_tiles`` audits the tiles such a layout would write.
- :func:`compact_parquet` — crash-safe small-files compaction.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def interleave_bits(a: Column, b: Column, bits: int) -> Column:
    """Morton z-value of two ``bits``-wide non-negative ints.

    Expression tree of 2·``bits`` masked shifts OR'd together — wide
    but flat, stays inside whole-stage codegen (no UDF).
    """
    parts = []
    for i in range(bits):
        parts.append(F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i + 1))
        parts.append(F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i))
    z = parts[0]
    for p in parts[1:]:
        z = z.bitwiseOR(p)
    return z


def compact_parquet(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-files compaction: rewrite a parquet dataset into
    ``ceil(total_bytes / target_file_bytes)`` files (the 100-TB
    operational hygiene op — a table accreted by micro-batches or
    row-appends degrades every scan with per-file open/footer costs
    and starves the scheduler with million-task stages).

    The rewrite replaces the live dataset by a ``replace``
    :func:`~week4_musemotion_spark.sources.sinks.publish`, the upsert
    sink's crash-safe swap: the live dataset is never deleted before
    its replacement is fully written.  Returns the output file count.
    At warehouse scale the equivalent is the table format's
    OPTIMIZE/rewrite action; partition-preserving compaction composes
    this per partition directory.
    """
    import math
    import os

    from week4_musemotion_spark.sources.sinks import publish

    base = path.rstrip("/")

    def _write(staging: str) -> None:
        total = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(base)
            for f in fs
            if f.endswith(".parquet")
        )
        n_files = max(1, math.ceil(total / target_file_bytes))
        # coalesce, not repartition: compaction must not pay a shuffle —
        # it only glues input splits together
        spark.read.parquet(base).coalesce(n_files).write.mode("overwrite").parquet(staging)

    publish(base, _write, mode="replace")
    return sum(
        1 for r, _, fs in os.walk(base) for f in fs if f.endswith(".parquet")
    )
