"""Versioned parquet snapshots with time travel.

The reference's loaders overwrite their SQL tables in place
(pipeline.py:166 ``if_exists='replace'``) — one bad run destroys the
previous state.  Table formats solve this with versioned snapshots;
this is the same idea on plain parquet: every write lands in a fresh
``v_<n>`` directory, readers resolve ``latest`` (or any committed
version — time travel).  Writers never mutate a committed version,
so readers are isolated from concurrent writes for free.

Commit protocol: every write lands in a ``.staging-*`` directory (a
name the version regex never matches, so no other writer's cleanup
can touch an in-flight write), then is atomically ``rename``d to the
next free ``v_<n>`` — the rename either claims the number or fails
because a concurrent writer claimed it first, in which case this
writer retries with the next number.  A version directory is only
visible to ``list_versions`` once parquet's ``_SUCCESS`` marker
exists; since rename publishes only COMPLETE staging output, readers
can never observe a torn version, and any ``v_*`` without the marker
is definitionally garbage (pre-protocol crash) that the next
``write_version`` removes.  Crashed staging dirs are swept by age.
Concurrent writers thus serialize safely on rename atomicity
(last-committer gets the higher number); local-FS implementation —
on an object store this is the table-format commit layer
(Delta/Iceberg), which this module is a conscious stand-in for — the
API (write/read/list) maps 1:1.
"""

from __future__ import annotations

import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

_VERSION_RE = re.compile(r"^v_(\d{5})$")


def _committed(base: str) -> list[int]:
    if not os.path.isdir(base):
        return []
    out = []
    for name in os.listdir(base):
        m = _VERSION_RE.match(name)
        if m and os.path.exists(os.path.join(base, name, "_SUCCESS")):
            out.append(int(m.group(1)))
    return sorted(out)


def list_versions(base: str) -> list[int]:
    """Committed version numbers, ascending."""
    return _committed(base)


_STAGING_TTL_S = 24 * 3600


def write_version(df: DataFrame, base: str) -> int:
    """Write ``df`` as the next snapshot version; returns its number.

    Stage → atomic rename: the parquet lands in ``.staging-*`` first
    (complete, ``_SUCCESS`` and all), then a rename claims the next
    free ``v_<n>``.  Rename is atomic on a local FS, so two
    concurrent writers can never publish into the same number — the
    loser's rename fails and it retries with the next one.  ``v_*``
    leftovers lacking ``_SUCCESS`` (crashes under the old in-place
    protocol) and day-old staging dirs are swept first.
    """
    os.makedirs(base, exist_ok=True)
    committed = set(_committed(base))
    now = time.time()
    for name in list(os.listdir(base)):
        m = _VERSION_RE.match(name)
        # Garbage is decided at sweep time by the _SUCCESS marker itself,
        # never by membership in the `committed` snapshot above: a version
        # published by a concurrent writer between the two listdirs appears
        # WITH its marker atomically (rename publishes complete staging
        # output), so this check can never doom a committed snapshot.
        if m and not os.path.exists(os.path.join(base, name, "_SUCCESS")):
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)
        elif name.startswith(".staging-"):
            p = os.path.join(base, name)
            try:
                stale = now - os.stat(p).st_mtime > _STAGING_TTL_S
            except OSError:
                continue
            if stale:
                shutil.rmtree(p, ignore_errors=True)
    staging = os.path.join(base, f".staging-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    try:
        df.write.parquet(staging)
        n = (max(committed) + 1) if committed else 1
        while True:
            try:
                os.rename(staging, os.path.join(base, f"v_{n:05d}"))
                return n
            except OSError:
                if not os.path.exists(os.path.join(base, f"v_{n:05d}")):
                    raise  # not a claim collision — surface it
                n += 1  # a concurrent writer took this number
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def read_version(spark: SparkSession, base: str, version: int | None = None) -> DataFrame:
    """Read a committed snapshot (default: latest). Raises on an
    unknown/uncommitted version instead of silently reading garbage."""
    committed = _committed(base)
    if not committed:
        raise FileNotFoundError(f"no committed versions under {base}")
    if version is None:
        version = committed[-1]
    if version not in committed:
        raise FileNotFoundError(f"version {version} not committed under {base} (have {committed})")
    return spark.read.parquet(os.path.join(base, f"v_{version:05d}"))
