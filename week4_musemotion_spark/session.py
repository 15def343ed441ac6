"""SparkSession factory with engine-wide configuration.

Design decisions (SURVEY.md §7.4):

- ``spark.sql.ansi.enabled=false`` — the reference's cleaning
  semantics are "parse-don't-trust": failed numeric parses become
  NULL, never errors (``pd.to_numeric(errors='coerce')``,
  reference pipeline.py:108-110).  Non-ANSI casts give the same
  null-on-failure behaviour JVM-side.
- ``spark.sql.legacy.parquet.nanosAsLong=true`` — the current
  testdata ``events.ts`` is TIMESTAMP(MICROS)/NTZ (the driver
  regenerated it from an earlier TIMESTAMP(NANOS) layout), for
  which this conf is a no-op; it stays set so a NANOS layout —
  which Spark cannot represent natively — would again read as a
  nanosecond-epoch BIGINT instead of throwing.  All temporal math
  dispatches on the arrived dtype (functions/eventtime.py), so
  either encoding yields identical instants.
- AQE on (coalesce + skew-join): at 100 TB the static shuffle
  partition count is always wrong for some stage; AQE re-plans
  from runtime statistics.
- UTC session timezone so ``year(current_date())``-style derived
  columns are reproducible across hosts.
- ``spark.python.sql.dataFrameDebugging.enabled=false`` — PySpark
  otherwise records the Python call site of every DataFrame/Column API
  call, about 5 py4j round trips each (a ``curation_ops`` warm pass
  sent 16,664 py4j commands with it and 8,912 without).  The cost:
  DataFrame error messages lose their Python call-site section.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Conservative default for local[N]; a real cluster deployment
#: would set this to ~2-3x total executor cores (or rely on AQE
#: coalescing from a higher initial value).
DEFAULT_SHUFFLE_PARTITIONS = 32


def configure(builder: SparkSession.Builder) -> SparkSession.Builder:
    """Apply the engine's configuration to any SparkSession builder.

    Kept separate from :func:`get_spark` so a caller that already
    owns a builder (e.g. the verification driver) can adopt the
    same semantics.
    """
    return (
        builder.config("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.mergeSchema", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Spark's JVM-wide cache of generated classes holds 100 by
        # default; a cold registry pass generates 2,820 at sf0.001 and
        # a curation_ops pass about 265, so at 100 every warm pass
        # would recompile nearly every stage.  Static conf: sized once
        # per JVM at the first codegen, so it can only be set here.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )


#: Semantics-critical configs that are runtime-settable.  The
#: verification driver hands our queries a SparkSession *it* built,
#: without :func:`configure`'s settings — nanosAsLong is harmless for
#: the current MICROS/NTZ events files but required if a
#: TIMESTAMP(NANOS) layout returns (those scans otherwise throw
#: PARQUET_TYPE_ILLEGAL).  Applied idempotently at every table load.
RUNTIME_CONF = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.ansi.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
}


def ensure_runtime_conf(spark: SparkSession) -> SparkSession:
    """Apply semantics-critical runtime configs to a foreign session."""
    for k, v in RUNTIME_CONF.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf missing in future versions
            pass
    return spark


def get_spark(
    app_name: str = "week4-musemotion-spark",
    master: str | None = None,
    ui: bool = False,
) -> SparkSession:
    """Create (or get) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (all cores if
    unset).  On a real cluster the caller passes its own master /
    lets spark-submit decide.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.master(master).appName(app_name)
    builder = configure(builder)
    # local mode runs every "executor" thread inside the driver JVM,
    # whose 1g default heap is far below what 32 concurrent sort/join
    # tasks need; honored only if the JVM isn't already running
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEMORY")
    if mem:
        builder = builder.config("spark.driver.memory", mem)
    if not ui:
        builder = builder.config("spark.ui.enabled", "false")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
