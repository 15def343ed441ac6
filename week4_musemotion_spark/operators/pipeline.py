"""End-to-end MuseMotion batch ETL — the reference's primary entry
point (``python pipeline.py``, reference pipeline.py:177-209) as one
declarative Spark job.

Reference lifecycle → engine lifecycle:
- discover + download + concat CSVs (driver RAM wall) → one lazy
  glob scan, union implicit, executors stream partitions
- eager pandas mutations → a single narrow-transform plan
- chunked to_sql INSERTs → a parallel columnar parquet write
  (or Spark's ``DataFrameWriter.jdbc`` for an actual database target)

Nothing materializes on the driver at any point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from week4_musemotion_spark.operators.etl import clean_musemotion
from week4_musemotion_spark.operators.upsert import merge_upsert
from week4_musemotion_spark.sources.csv import read_headerless_csv
from week4_musemotion_spark.sources.sinks import write_parquet


def run_musemotion_pipeline(
    spark: SparkSession,
    source: str,
    dest: str,
    mode: str = "overwrite",
    dedup_key: str | None = None,
    partition_by: list[str] | None = None,
) -> DataFrame:
    """Extract (headerless CSV file/dir/glob) → clean → load parquet.

    ``dedup_key`` applies the upsert path's last-write-wins dedup
    before writing (the reference's ON DUPLICATE KEY semantics for
    its 317 duplicate VINs); ``partition_by`` enables partition
    pruning for downstream readers.  Returns the cleaned DataFrame
    (lazy) for further use.
    """
    raw = read_headerless_csv(spark, source)
    clean = clean_musemotion(raw)
    out = merge_upsert(None, clean, [dedup_key]) if dedup_key else clean
    write_parquet(out, dest, mode=mode, partition_by=partition_by)
    return out
