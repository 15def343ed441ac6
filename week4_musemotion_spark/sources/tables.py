"""Parquet loaders for the driver testdata star schema (TESTDATA.md)."""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession

from week4_musemotion_spark.schemas import TESTDATA_TABLES
from week4_musemotion_spark.session import ensure_runtime_conf


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan of one testdata table.

    Plain ``spark.read.parquet`` so Catalyst keeps full pushdown /
    pruning freedom — callers express filters and projections
    declaratively and the scan narrows itself.  Runtime-settable
    semantic configs are ensured first so the engine behaves the same
    on a SparkSession it did not build (see session.RUNTIME_CONF).
    """
    ensure_runtime_conf(spark)
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names or TESTDATA_TABLES}


def register_views(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> None:
    """Register testdata tables as temp views for the SQL entry path.

    ``createOrReplaceTempView`` is metadata-only: each view is a lazy
    plan over the parquet scan, not a materialization.
    """
    for name, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(name)


#: Logical-plan node names that imply an exchange (or an explode)
#: somewhere below — a round-robin repartition ABOVE such a node
#: cannot parallelize the narrow scan underneath it (the exchange
#: already did, for everything downstream of itself); it only adds
#: a shuffle.  Measured round 7: spread() on the already-shuffled
#: pairs/incremental frames cost +0.4-1.4 s per query at sf0.1.
_WIDE_MARKERS = (
    "Join",
    "Aggregate",
    "Window",
    "Sort",
    "Repartition",
    "Generate",
    "Deduplicate",
    "Distinct",
    "Intersect",
    "Except",
    "GlobalLimit",
    # a repartition above an Arrow kernel cannot parallelize the
    # kernel below it either — widen BEFORE mapInPandas, never above
    "MapInPandas",
    "FlatMap",
)


@functools.lru_cache(maxsize=4096)
def _file_width(local: str, mtime_ns: int, size: int, max_split: int) -> int:
    """Achievable scan tasks for ONE parquet file: Spark cuts the
    file into ``ceil(size / maxPartitionBytes)`` byte splits, but a
    split with no row-group START in it is empty — so the real bound
    is the SMALLER of byte splits and row groups (round-4 note for
    the one-row-group side; a 60 MB file with 6 row groups is still
    ONE task at the default 128 MB split).  ``mtime_ns``/``size``
    are cache keys: a file regenerated in place (the driver rewrites
    testdata between rounds) must not serve last generation's
    footer."""
    try:
        import pyarrow.parquet as pq

        rgs = pq.ParquetFile(local).metadata.num_row_groups
    except Exception:
        return 1  # unreadable footer (remote FS, non-parquet): assume narrow
    splits = max(1, -(-size // max_split)) if size else 1
    return max(1, min(splits, rgs))


def _row_groups(path: str, max_split: int = 128 * 1024 * 1024) -> int:
    """Per-file width via :func:`_file_width`, stat-keyed."""
    local = path
    for prefix in ("file://", "file:"):
        if local.startswith(prefix):
            local = local[len(prefix):]
            break
    try:
        st = os.stat(local)
    except OSError:
        return 1
    return _file_width(local, st.st_mtime_ns, st.st_size, max_split)


def scan_width(df: DataFrame, probe_cap: int = 64) -> int | None:
    """Achievable scan parallelism of a narrow (scan+project/filter)
    frame, or None when the frame is already wide / not file-backed.

    Decision inputs are pure metadata — the analyzed logical plan
    string (no physical planning) and parquet footers (cached) — so
    the per-call driver cost is ~10 ms, vs ~45 ms for the
    ``df.rdd.getNumPartitions()`` physical-planning pass this
    replaces (which the round-6 bench charged to every CPU-heavy
    query build)."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
        # node names sit at the start of each tree line, after the
        # ":  +- " scaffolding — match there, not anywhere in the
        # line, so a column literally named e.g. "sort_key" can't
        # flip the decision
        for line in plan.splitlines():
            node = line.lstrip(" :+-")
            if node.startswith(_WIDE_MARKERS):
                return None
        paths = df.inputFiles()
    except Exception:
        return None
    if not paths:
        return None  # LocalRelation/RDD-backed: partitions already track parallelism
    if len(paths) >= probe_cap:
        return len(paths)  # plenty of files — footers can only raise the width
    try:
        max_split = int(
            df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes", "134217728").rstrip("b")
        )
    except ValueError:
        max_split = 128 * 1024 * 1024
    return sum(_row_groups(p, max_split) for p in paths)


@functools.lru_cache(maxsize=4096)
def _file_rows(local: str, mtime_ns: int, size: int) -> int | None:
    """Footer num_rows for ONE parquet file, stat-keyed like
    :func:`_file_width` so an in-place regeneration (the driver
    rewrites testdata between rounds) cannot serve stale counts."""
    try:
        import pyarrow.parquet as pq

        return pq.ParquetFile(local).metadata.num_rows
    except Exception:
        return None


def _footer_rows_sum(df: DataFrame) -> int | None:
    """Sum of parquet footer ``num_rows`` over a frame's input files
    (stat-keyed cache), or None when unknowable: no/too many files
    (past 256 the driver-side footer loop IS the guide §7.3
    file-listing bottleneck — let a distributed count read footers
    executor-side), a non-local path, or an unreadable footer.  The
    ONE shared footer loop behind :func:`exact_scan_rows` (which adds
    the plan-shape exactness gate) and :func:`_scan_rows_upper` — the
    two copies used to duplicate it verbatim and could drift."""
    try:
        paths = df.inputFiles()
    except Exception:
        return None
    if not paths or len(paths) > 256:
        return None
    total = 0
    for p in paths:
        local = p
        for prefix in ("file://", "file:"):
            if local.startswith(prefix):
                local = local[len(prefix):]
                break
        try:
            st = os.stat(local)
        except OSError:
            return None
        n = _file_rows(local, st.st_mtime_ns, st.st_size)
        if n is None:
            return None
        total += n
    return total


def exact_scan_rows(df: DataFrame) -> int | None:
    """EXACT row count of a pure scan+project frame from parquet
    footer metadata (cached), or None when it cannot be proven exact
    — any Filter/join/aggregate/etc. in the analyzed plan, a
    non-file source, or an unreadable footer.

    Replaces a sizing ``df.count()`` job (a full cluster round-trip:
    schedule, scan footers executor-side, aggregate) with a ~ms
    driver-side metadata read.  Callers MUST fall back to
    ``df.count()`` on None.  Exactness matters: several operators
    derive k ∝ n from the count, so an estimate would change
    results — footer num_rows is exact only when no row can be
    dropped, hence the no-Filter rule.  The Relation line must also
    name a parquet HadoopFsRelation: ``DataFrame.inputFiles`` is
    documented best-effort, and for parquet file relations it
    enumerates the file index exhaustively — other source types
    (for which completeness is not established) fall back to
    ``count()`` instead of risking a silently short listing."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
        for line in plan.splitlines():
            node = line.lstrip(" :+-")
            if not node:
                continue
            if node.startswith("Relation"):
                if "parquet" not in line:
                    return None
            elif not node.startswith("Project"):
                return None
    except Exception:
        return None
    return _footer_rows_sum(df)


def _scan_rows_upper(df: DataFrame) -> int | None:
    """UPPER BOUND on a narrow frame's row count from parquet footers
    (filters may drop rows, never add them), or None when unknowable.
    Only meaningful for frames :func:`scan_width` already judged
    narrow — callers use it as a cheap work heuristic, never for
    results."""
    return _footer_rows_sum(df)


def spread(df: DataFrame, min_factor: int = 2, min_rows: int | None = None) -> DataFrame:
    """Round-robin repartition to ``defaultParallelism`` when the
    input is a genuinely narrow file scan feeding CPU-heavy work
    (shingling, hashing, Arrow kernels).

    Why: a single-file/single-row-group parquet scan is ONE task no
    matter the split knobs (splits beyond the row-group start are
    empty — SCALING.md round-4 note), so an expensive lineage above
    it inherits single-threaded execution right up to the first
    shuffle; worse, the shuffle WRITE of the exploded stream is also
    that one task.  Redistributing the small pre-explosion rows first
    costs one trivial shuffle and lets every core work (measured 8×
    on sf0.1 shingle hashing).

    Two guards keep it from hurting where it can't help:

    - frames that already contain a shuffle-inducing node (join,
      aggregate, window, …) are returned untouched — a repartition
      above an exchange cannot parallelize the narrow scan below it,
      it only adds a shuffle (round-7 isolation: +0.4-1.4 s/query);
    - the narrow-scan width comes from parquet FOOTER metadata
      (cached), not a ``df.rdd`` physical-planning pass (~45 ms per
      query build on the driver).

    At production scale (many files / row groups) the scan is already
    wide and this is a no-op."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    width = scan_width(df)
    if width is not None and width * min_factor <= target:
        if min_rows is not None:
            # caller-declared work floor for CHEAP per-row kernels
            # (vectorized numpy maps): below it a single scan task
            # computes faster than the repartition exchange costs —
            # on any deployment, not just local mode.  Footer counts
            # are an upper bound (filters only drop rows), so staying
            # un-spread is only ever chosen when provably tiny; at
            # production scale the bound blows past the floor and
            # spread fires exactly as before.
            ub = _scan_rows_upper(df)
            if ub is not None and ub < min_rows:
                return df
        return df.repartition(target)
    return df
