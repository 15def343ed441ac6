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

Every directory this engine commits goes through :func:`publish`, and
every fixture it reuses across runs through :func:`cached_fixture`.

Every batch log lives here too: the streaming stores (``streaming/``)
and the LSH index's compaction (``operators/lsh_index``) share one
file naming and one commit protocol.  A batch writes its files as
``bid-<tag>-<i>.parquet`` (:func:`batch_tag` reads the tag back), and
the batch counts once the marker ``<commit_dir>/<tag>`` exists
(:func:`commit_batch` runs a batch exactly once).  A compaction that
folds batches into one records the folded tags in a manifest named
after its own tag; :func:`committed_batches` reads the log.  This is
the Delta ``txnAppId``/``txnVersion`` idea at file granularity, and the
reference upsert loader's land-each-key-once guarantee
(load_musemotion_to_db.py:91-143) made batch-granular.
"""

from __future__ import annotations

import functools
import hashlib
import os
import shutil
import tempfile
import uuid
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def publish(path: str, write_fn, mode: str = "fresh", stage: str | None = None) -> None:
    """Commit ``path`` by writing a staging copy with ``write_fn(staging)``
    and renaming it into place — the one rename in the package.

    ``mode="fresh"`` publishes a key that many writers may race for
    (a cached fixture): the staging name is unique to this writer
    (``stage`` if given, else ``<path>.tmp-<pid>-<uuid>``; with
    ``write_fn=None`` the stage is already written).  A failed rename
    is tolerated ONLY when ``path`` exists — a racer published the same
    key, whose content is a function of the key — and any other error
    re-raises.  The stage is removed on every exit path.

    ``mode="replace"`` swaps a live dataset for a new version, single
    writer: write ``path._staging``, rename ``path`` → ``path._old``,
    rename staging → ``path``, remove ``._old``.  The live data is never
    deleted before its replacement is complete, so a crash leaves the
    old version (at ``path`` or ``path._old``) or the new one.  Before
    writing it recovers from such a crash: ``._old`` without ``path`` is
    restored, ``._old`` beside ``path`` is the superseded copy and is
    dropped, and stale staging is swept.  ``write_fn`` runs after that
    recovery, so it may read ``path``.  A write that raises leaves the
    live data in place and no staging behind.  On an object store this
    is the table format's commit protocol."""
    base = path.rstrip("/")
    if mode == "fresh":
        stage = stage or f"{base}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        try:
            if write_fn is not None:
                write_fn(stage)
            try:
                os.rename(stage, base)
            except OSError:
                if not os.path.exists(base):
                    raise
        finally:
            shutil.rmtree(stage, ignore_errors=True)
        return
    if mode != "replace":
        raise ValueError(f"unknown publish mode {mode!r}")
    staging, old = base + "._staging", base + "._old"
    if os.path.exists(old):
        if os.path.exists(base):
            shutil.rmtree(old)
        else:
            os.rename(old, base)
    if os.path.exists(staging):
        shutil.rmtree(staging)
    try:
        write_fn(staging)
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    if os.path.exists(base):
        os.rename(base, old)
    os.rename(staging, base)
    if os.path.exists(old):
        shutil.rmtree(old)


def batch_tag(name: str) -> str | None:
    """The tag of a batch-log file ``bid-<tag>-<i>.parquet``; None for
    any other name (staging dirs, files a batch log did not write)."""
    return name.split("-")[1] if name.startswith("bid-") else None


def _purge_keyed(target: str, tag: str) -> None:
    """Remove every file a previous attempt of batch ``tag`` left in
    ``target``."""
    if not os.path.isdir(target):
        return
    for name in os.listdir(target):
        if batch_tag(name) == tag:
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


def commit_batch(commit_dir: str, tag: str, dirs, writes) -> None:
    """Run batch ``tag`` of a batch log exactly once.

    Marker ``<commit_dir>/<tag>`` present: the batch committed, and a
    replay returns at once.  Otherwise every ``bid-<tag>-*`` file a
    torn attempt left in ``dirs`` is purged, ``writes(append)`` runs
    (``append(df, target)`` lands ``df`` in ``target`` as this batch's
    files, and ``writes`` may write other files too), and the marker
    is written LAST.  A crash anywhere before the marker leaves files
    that readers ignore and the replay removes, so the rewrite sees
    exactly the pre-batch state."""
    marker = os.path.join(commit_dir, tag)
    if os.path.exists(marker):
        return
    for d in dirs:
        _purge_keyed(d, tag)
    writes(lambda df, target: _append_keyed(df, target, tag))
    os.makedirs(commit_dir, exist_ok=True)
    with open(marker, "w") as fh:
        fh.write("committed\n")


def committed_batches(commit_dir: str, folded_dir: str | None = None) -> set[str]:
    """The tags whose files a reader of the log counts: every tag with a
    marker, minus the tags a committed compaction folded.  A manifest
    ``<folded_dir>/<tag>`` lists the tags compaction ``tag`` folded; it
    applies once ``tag`` has a marker, whether or not the folded files
    are swept yet, and whether or not ``tag`` was itself folded later.
    With no ``folded_dir`` this is the full marker set."""
    committed = set(os.listdir(commit_dir)) if os.path.isdir(commit_dir) else set()
    live = set(committed)
    if folded_dir is not None and os.path.isdir(folded_dir):
        for tag in os.listdir(folded_dir):
            if tag in committed:
                with open(os.path.join(folded_dir, tag)) as fh:
                    live -= set(fh.read().split())
    return live


def purge_uncommitted(target: str, committed: set[str]) -> None:
    """Remove what uncommitted attempts left in ``target``: staging dirs
    and the files of every tag outside ``committed`` — what each torn
    batch's own replay would remove."""
    for name in os.listdir(target):
        tag = batch_tag(name)
        if name.startswith(".staging-"):
            shutil.rmtree(os.path.join(target, name), ignore_errors=True)
        elif tag is not None and tag not in committed:
            os.remove(os.path.join(target, name))


def _sf_fingerprint(sf_dir: str, tag: bytes, table: str = "documents") -> str:
    """Content fingerprint of a testdata table, the input half of a
    fixture key: file paths + sizes + mtimes, so regenerated testdata
    invalidates every cached fixture.  Pass the table the fixture is
    actually BUILT from — fingerprinting a different table would serve
    a stale cache when only the input table changes."""
    src = os.path.join(os.path.abspath(sf_dir), f"{table}.parquet")
    finger = hashlib.md5(tag + b":" + os.path.abspath(sf_dir).encode())
    paths = [src] if os.path.isfile(src) else sorted(
        os.path.join(r, f) for r, _, fs in os.walk(src) for f in fs
    )
    for p in paths:
        st = os.stat(p)
        finger.update(f"{p}|{st.st_size}|{st.st_mtime_ns}".encode())
    return finger.hexdigest()[:16]


@functools.cache
def _code_digest() -> str:
    """md5 over the package's sorted ``*.py`` paths and bytes, the code
    half of a fixture key: a fixture built by other code is never
    served.  Computed on first use, once per process."""
    root = Path(__file__).resolve().parents[1]
    digest = hashlib.md5()
    for p in sorted(root.rglob("*.py")):
        digest.update(p.relative_to(root.parent).as_posix().encode())
        digest.update(p.read_bytes())
    return digest.hexdigest()[:16]


def cached_fixture(subdir: str, sf_dir: str, tag: bytes, build_fn, table: str = "documents") -> str:
    """Build a fixture once and reuse it: the directory
    ``$TMPDIR/<subdir>/<input fingerprint>-<code digest>``, built by
    ``build_fn(staging)`` and committed by a ``fresh`` :func:`publish`.
    The rename is the commit, so the key directory existing means the
    fixture is complete.  Returns the fixture directory."""
    out = os.path.join(
        tempfile.gettempdir(), subdir, f"{_sf_fingerprint(sf_dir, tag, table)}-{_code_digest()}"
    )
    if not os.path.isdir(out):
        publish(out, build_fn)
    return out


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
    committed by a ``replace`` :func:`publish` — a crash mid-manifest-write
    leaves only staging litter, never a partial ``_manifest`` a
    presence-checking reader would trust."""
    df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
    back = df.sparkSession.read.parquet(path)
    publish(
        os.path.join(path, "_manifest"),
        lambda stage: manifest_fn(back).write.mode("overwrite").parquet(stage),
        mode="replace",
    )


def read_manifest(spark, path: str) -> DataFrame:
    """The manifest an :func:`export_with_manifest` published under
    ``path``.  It is read by explicit ``part-*.parquet`` file list: the
    ``_`` prefix that hides the manifest from the export's data scan
    also makes Spark ignore the directory itself as a read root
    (logging ``All paths were ignored``), and a glob path trades that
    for a ``FileStreamSink`` warning with a stack trace."""
    parts = sorted(str(f) for f in Path(path, "_manifest").glob("part-*.parquet"))
    if not parts:
        raise FileNotFoundError(f"no published manifest under {path}")
    return spark.read.parquet(*parts)


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
    the same ``replace`` :func:`publish` as the full export.
    Cost is O(touched shards) scan volume — the pruned filter reads
    only the named directories — not O(corpus)."""
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

    def _write(stage: str) -> None:
        # the stored manifest is read after publish's crash recovery
        kept = read_manifest(spark, path).filter(~touched)
        kept.unionByName(fresh).coalesce(1).write.mode("overwrite").parquet(stage)

    publish(os.path.join(path, "_manifest"), _write, mode="replace")
