"""Event-time normalization — encoding-agnostic epoch math.

The testdata ``events.ts`` column has shipped in two physical
encodings across generations: parquet TIMESTAMP(NANOS) (which Spark
reads as an epoch-ns BIGINT under ``nanosAsLong`` — round-1 layout)
and parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) (which Spark
reads as TIMESTAMP_NTZ — current layout).  All engine event-time math
is integer epoch-MICROseconds; :func:`epoch_micros` derives that from
whichever encoding arrived, so queries and streams never hardcode the
layout.  DuckDB oracles coerce either layout to µs TIMESTAMP, so
``epoch_us(ts)`` lands on exactly the same integers.

Session timezone is pinned UTC (session.RUNTIME_CONF), making the
NTZ→instant cast shift-free; never float math, which loses precision
above 2^53.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


#: Micro-seconds per day — the day-bucketing divisor every daily-grid
#: consumer shares (CUSUM/seasonal monitors, streaming count
#: store).  Bucketing truncates, so epochs are assumed NON-NEGATIVE
#: (int_div_trunc's p ≥ 0 contract; DuckDB ``//`` truncates toward
#: zero and would disagree on pre-1970 timestamps).
US_PER_DAY = 86_400_000_000


def epoch_micros(df: DataFrame, col: str = "ts") -> Column:
    """Epoch-µs BIGINT from any supported encoding of ``col``."""
    dt = df.schema[col].dataType
    if isinstance(dt, T.LongType):  # epoch-ns BIGINT (nanosAsLong layout)
        return F.expr(f"{col} div 1000")
    if isinstance(dt, T.TimestampNTZType):  # NTZ ≡ UTC under the pinned session tz
        return F.unix_micros(F.col(col).cast("timestamp"))
    if isinstance(dt, (T.TimestampType,)):
        return F.unix_micros(F.col(col))
    raise TypeError(f"unsupported event-time type for {col!r}: {dt}")


def event_time(df: DataFrame, col: str = "ts") -> Column:
    """TIMESTAMP event time (exact integer µs) from any encoding."""
    return F.timestamp_micros(epoch_micros(df, col))
