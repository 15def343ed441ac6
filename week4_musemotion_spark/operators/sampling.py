"""Deterministic hash-based sampling and dataset splits.

``df.sample()`` uses per-partition RNG: resampling after a
repartition, a retry, or an engine upgrade yields a different subset
— poison for reproducible training data.  Hash sampling assigns each
row a stable bucket from a key (``stable_hash64 % granularity``), so
membership is a pure function of the row key: re-runs, backfills, and
other engines agree row-for-row, and train/test splits can never leak
rows across the boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from week4_musemotion_spark.functions.hashing import stable_hash64

#: Bucket granularity: per-mille gives 0.1% resolution.
GRANULARITY = 1000


def hash_bucket(key_col, granularity: int = GRANULARITY):
    """Stable bucket in [0, granularity) from a key column (cast to
    string so any key type works)."""
    c = F.col(key_col) if isinstance(key_col, str) else key_col
    return F.pmod(stable_hash64(c.cast("string")), F.lit(granularity))


def hash_sample(df: DataFrame, key_col: str, fraction: float) -> DataFrame:
    """Deterministic ``fraction`` sample keyed on ``key_col``."""
    return df.filter(hash_bucket(key_col) < int(fraction * GRANULARITY))


def weighted_hash_sample(
    df: DataFrame, key_col: str, weight_e4_col, granularity: int = 10_000
) -> DataFrame:
    """Weighted Bernoulli sampling with deterministic membership:
    keep a row iff ``hash(key) % granularity < weight`` — inclusion
    probability is the row's own weight (an e4 integer, ≥granularity
    ⇒ always kept), yet membership stays a pure function of the key,
    so re-runs, backfills, and other engines agree row-for-row.  The
    quality-weighted corpus-mixing primitive: up-weight good
    documents without RNG state or a shuffle (a pure filter)."""
    w = F.col(weight_e4_col) if isinstance(weight_e4_col, str) else weight_e4_col
    return df.filter(hash_bucket(key_col, granularity) < F.least(w, F.lit(granularity)))
