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

    Uses the same crash-safe staging/rename promotion as the upsert
    sink: the live dataset is never deleted before its replacement is
    fully written.  Returns the output file count.  At warehouse
    scale the equivalent is the table format's OPTIMIZE/rewrite
    action; partition-preserving compaction composes this per
    partition directory.
    """
    import math
    import os
    import shutil

    base = path.rstrip("/")
    staging, old = base + "._staging", base + "._old"
    if os.path.exists(old):
        if not os.path.exists(base):
            # crashed between rename(base, old) and rename(staging,
            # base): the old data is still the only copy — restore it
            os.rename(old, base)
        else:
            # crashed after the swap completed but before cleanup:
            # base is the new data, old is the superseded copy —
            # remove it or the next compaction's rename(base, old)
            # hits an existing directory and raises
            shutil.rmtree(old)
    if os.path.exists(staging):
        shutil.rmtree(staging)

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
    os.rename(base, old)
    os.rename(staging, base)
    shutil.rmtree(old)
    return sum(
        1 for r, _, fs in os.walk(base) for f in fs if f.endswith(".parquet")
    )
