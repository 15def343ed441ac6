"""week4_musemotion_spark — a PySpark-native analytics engine.

A brand-new, idiomatic PySpark implementation of the query and
data-processing capabilities of the reference repo
Aobakwe2025/Week4-MuseMotion (an ETL + SQL-analytics + dashboard
project), re-designed Spark-first for 100 TB scale:

- declarative DataFrame/SQL plans (Catalyst optimizes: pushdown,
  pruning, broadcast, AQE skew handling),
- built-in ``pyspark.sql.functions`` everywhere in the hot path
  (no row-at-a-time Python UDFs for parity operators),
- Parquet at rest, partition-aware writes, broadcast dim joins,
- extensions for large-scale training-data pipelines: dedup
  (exact / MinHash-LSH / SimHash / n-gram Jaccard), similarity
  search over embeddings, text analysis, multimodal column
  plumbing, and exactly-once Structured Streaming stores.

See SURVEY.md for the operator inventory this package covers.
"""

__version__ = "0.1.0"

from week4_musemotion_spark.session import get_spark  # noqa: F401
