"""Temporal / window operators: analytic window battery,
gap-based sessionization, as-of join, and range (interval) join —
operators Spark lacks as primitives (as-of/range) implemented as
compositions of builtin ops, with independent DuckDB oracles (DuckDB
has native ASOF JOIN, so the oracle is a genuinely different
implementation).

All event-time math is integer microseconds, derived
encoding-agnostically via functions.eventtime.epoch_micros (the
testdata's ts column has shipped both as TIMESTAMP(NANOS)→BIGINT and
TIMESTAMP(MICROS)→NTZ); DuckDB coerces either layout to µs TIMESTAMP,
so ``epoch_us(ts)`` lands on exactly the same integers — comparisons,
window orders, and spans agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from week4_musemotion_spark.functions.eventtime import epoch_micros
from week4_musemotion_spark.queries.registry import query
from week4_musemotion_spark.sources.tables import load_table

#: All cross-engine temporal comparisons happen at MICROsecond
#: resolution: DuckDB coerces the parquet layout to µs TIMESTAMP, so
#: Spark derives epoch_micros(df) to match exactly.
US_PER_MIN = 60 * 1_000_000


@query(
    "q_window_funcs",
    covers=("X-WINDOW",),
    oracle="""
    SELECT user_id, event_id,
           CAST(row_number() OVER w AS BIGINT) AS rn,
           lag(event_id) OVER w AS prev_event_id,
           lead(event_id) OVER w AS next_event_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
               AS running_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    """,
)
def q_window_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window battery per user ordered by event time:
    row_number, lag, lead, running sum.  One shuffle on the partition
    key; running sums accumulate in window order (deterministic)."""
    e = load_table(spark, sf_dir, "events")
    e = e.withColumn("tsu", epoch_micros(e))
    w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
    return e.select(
        "user_id",
        "event_id",
        F.row_number().over(w).cast("long").alias("rn"),
        F.lag("event_id").over(w).alias("prev_event_id"),
        F.lead("event_id").over(w).alias("next_event_id"),
        F.round(F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 4).alias(
            "running_value"
        ),
    )


@query(
    "q_sessionize",
    covers=("X-SESSION",),
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, event_id, epoch_us(ts) AS tsn,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                        OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                        > {30 * US_PER_MIN}
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    sessions AS (
        SELECT user_id, event_id, tsn,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY tsn, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_seq
        FROM flagged
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           count(*) AS n_events,
           CAST(max(tsn) - min(tsn) AS BIGINT) AS span_us
    FROM sessions
    GROUP BY user_id, session_seq
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): flag session
    starts with lag(), number sessions with a running sum, aggregate
    per session — the batch form of stateful streaming sessionization,
    in two window passes over one user-keyed shuffle."""
    e = load_table(spark, sf_dir, "events")
    e = e.withColumn("tsn", epoch_micros(e))
    w = Window.partitionBy("user_id").orderBy("tsn", "event_id")
    flagged = e.select(
        "user_id",
        "event_id",
        "tsn",
        F.when(F.col("tsn") - F.lag("tsn").over(w) > 30 * US_PER_MIN, 1).otherwise(0).alias("new_session"),
    )
    w2 = Window.partitionBy("user_id").orderBy("tsn", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sessions = flagged.withColumn("session_seq", F.sum("new_session").over(w2).cast("long"))
    return sessions.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        (F.max("tsn") - F.min("tsn")).cast("long").alias("span_us"),
    )


@query(
    "q_asof_join",
    covers=("X-ASOF",),
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id, v.event_id AS last_view_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND v.ts <= p.ts
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join: each purchase matched to the user's most recent
    view at-or-before it.  Spark has no asof primitive — implemented
    as the union-merge pattern: tag both sides, sort within user by
    (ts, side), carry the last view id forward with last(ignorenulls)
    — one shuffle, no range re-scan.  Oracle uses DuckDB's native
    ASOF JOIN (independent implementation).

    Deterministic here because (user_id, ts) is unique in the data;
    with ties the carried tie-break is (ts, views-first, event_id).
    """
    e = load_table(spark, sf_dir, "events")
    e = e.withColumn("tsu", epoch_micros(e))  # µs, matching the oracle's timestamp resolution
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", "tsu", F.col("event_id").alias("view_id"), F.lit(1).alias("is_view")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "tsu", F.col("event_id").alias("purchase_id")
    ).withColumn("view_id", F.lit(None).cast("long")).withColumn("is_view", F.lit(0))
    both = views.withColumn("purchase_id", F.lit(None).cast("long")).unionByName(purchases)
    # views sort before purchases at equal ts (v.ts <= p.ts is inclusive)
    w = Window.partitionBy("user_id").orderBy(
        F.col("tsu").asc(), F.col("is_view").desc(), F.col("view_id").asc_nulls_first()
    ).rowsBetween(Window.unboundedPreceding, 0)
    carried = both.withColumn("last_view_id", F.last("view_id", ignorenulls=True).over(w))
    return carried.filter(F.col("purchase_id").isNotNull()).select(
        "purchase_id", "user_id", "last_view_id"
    )


@query(
    "q_range_join",
    covers=("X-RANGEJOIN",),
    oracle=f"""
    SELECT a.event_id AS event_a, b.event_id AS event_b
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND a.event_id < b.event_id
     AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= {10 * US_PER_MIN}
    """,
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: same-user event pairs within 10
    minutes.  Naive form is a quadratic non-equi join; the engine
    buckets time into interval-width cells and equi-joins on
    (user, cell) with each left row probing its 3 neighboring cells —
    every qualifying pair shares exactly one (b-side) cell, so no
    dedup pass is needed.  The exact predicate filters bucket-edge
    false candidates."""
    width = 10 * US_PER_MIN
    e = load_table(spark, sf_dir, "events")
    e = e.withColumn("tsu", epoch_micros(e))
    a = e.select(
        F.col("user_id"),
        F.col("event_id").alias("event_a"),
        F.col("tsu").alias("ts_a"),
        F.explode(
            F.array(*[(F.expr(f"tsu div {width}") + F.lit(d)).alias("c") for d in (-1, 0, 1)])
        ).alias("cell"),
    )
    b = e.select(
        F.col("user_id"),
        F.col("event_id").alias("event_b"),
        F.col("tsu").alias("ts_b"),
        F.expr(f"tsu div {width}").alias("cell"),
    )
    return (
        a.join(b, ["user_id", "cell"])
        .filter(
            (F.col("event_a") < F.col("event_b"))
            & (F.abs(F.col("ts_a") - F.col("ts_b")) <= width)
        )
        .select("event_a", "event_b")
    )


# ---------------------------------------------------------------------------
# Resample to a fixed grid with forward fill (gap filling)
# ---------------------------------------------------------------------------

US_PER_HOUR = 3_600 * 1_000_000
#: 2024-01-05 00:00 UTC .. 2024-01-07 00:00 UTC, hourly (49 points)
_GRID_T0_US = 1_704_412_800_000_000
_GRID_T1_US = _GRID_T0_US + 48 * US_PER_HOUR


@query(
    "q_resample_ffill",
    covers=("X-RESAMPLE",),
    oracle=f"""
    WITH obs AS (
        SELECT user_id, epoch_us(ts) AS t_us,
               CAST(round(value * 100) AS BIGINT) AS val_cents, 0 AS kind
        FROM events
    ),
    grid AS (
        SELECT u.user_id, g.t_us, CAST(NULL AS BIGINT) AS val_cents, 1 AS kind
        FROM (SELECT DISTINCT user_id FROM events) u
        CROSS JOIN (
            SELECT unnest(generate_series({_GRID_T0_US}, {_GRID_T1_US}, {US_PER_HOUR}))
                AS t_us
        ) g
    ),
    filled AS (
        SELECT user_id, t_us, kind,
               last_value(val_cents IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY t_us, kind
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS last_value_cents
        FROM (SELECT * FROM obs UNION ALL SELECT * FROM grid)
    )
    SELECT user_id,
           CAST((t_us - {_GRID_T0_US}) // {US_PER_HOUR} AS BIGINT) AS hour_idx,
           last_value_cents
    FROM filled
    WHERE kind = 1
    """,
)
def q_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample per-user event values onto a fixed hourly grid with
    forward fill — the gap-filling primitive behind feature snapshots
    and training-window materialization.  Implemented as the
    union-merge pattern (same family as the as-of join): synthesize
    grid rows with ``sequence``+``explode``, union them with the
    observations, and carry ``last(value, ignorenulls)`` over a
    (t, kind) ordering — observations sort before grid points at
    equal timestamps, so a reading exactly on the hour is included.
    One user-keyed shuffle, no per-gridpoint range scan; grid points
    before a user's first observation stay NULL rather than inventing
    data.  All event-time math is integer µs (DuckDB truncates the
    ns-resolution parquet to µs) and values are exact integer cents.
    At 100 TB the grid side is |users|×|grid| rows built from a
     49-element literal sequence — no driver materialization, and the
    window never holds more than one user's rows per partition.
    Ref capability: the dashboard KPI time axis (streamlit_app.py
    group-by-size charts) generalized to a dense, gap-free series."""
    e = load_table(spark, sf_dir, "events")
    obs = e.select(
        "user_id",
        epoch_micros(e).alias("t_us"),
        F.round(F.col("value") * 100).cast("long").alias("val_cents"),
        F.lit(0).alias("kind"),
    )
    grid = (
        e.select("user_id")
        .distinct()
        .select(
            "user_id",
            F.explode(
                F.sequence(
                    F.lit(_GRID_T0_US), F.lit(_GRID_T1_US), F.lit(US_PER_HOUR)
                )
            ).alias("t_us"),
            F.lit(None).cast("long").alias("val_cents"),
            F.lit(1).alias("kind"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("t_us", "kind").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        obs.unionByName(grid)
        .withColumn("last_value_cents", F.last("val_cents", ignorenulls=True).over(w))
        .filter(F.col("kind") == 1)
        .select(
            "user_id",
            F.expr(f"(t_us - {_GRID_T0_US}L) div {US_PER_HOUR}L").alias("hour_idx"),
            "last_value_cents",
        )
    )


#: Fixed interval width for the coverage merge (5 minutes, in µs).
_COVER_US = 5 * US_PER_MIN


@query(
    "q_interval_coverage",
    covers=("X-INTERVAL-MERGE",),
    oracle=f"""
    WITH iv AS (
        SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + {_COVER_US} AS e,
               event_id
        FROM events
    ),
    flagged AS (
        SELECT user_id, s, e, event_id,
               CASE WHEN s > max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    THEN 1 ELSE 0 END AS new_island
        FROM iv
    ),
    islands AS (
        SELECT user_id, s, e,
               sum(new_island) OVER (PARTITION BY user_id ORDER BY s, event_id
                                     ROWS UNBOUNDED PRECEDING) AS island
        FROM flagged
    ),
    merged AS (
        SELECT user_id, island, min(s) AS ms, max(e) AS me
        FROM islands GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_intervals,
           CAST(sum(me - ms) AS BIGINT) AS covered_us,
           CAST(min(ms) AS BIGINT) AS first_us,
           CAST(max(me) AS BIGINT) AS last_us
    FROM merged GROUP BY user_id
    """,
)
def q_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-union coverage (gaps-and-islands MERGE): each event
    opens a fixed 5-minute activity interval; overlapping intervals
    per user are merged and the query emits merged-interval count and
    total covered microseconds — the "how much wall-clock was this
    user actually active" measure that naive ``count(*) × width``
    double-counts.  The classic formulation: an interval starts a new
    island iff its start exceeds the running max end of everything
    before it (window max with a 1-preceding frame), islands are
    numbered by a running sum, then two keyed aggregates.  All math
    in integer epoch-µs.

    Scale shape: everything is partitioned by user — one keyed
    shuffle, window passes stream within each user's sorted run;
    no global sort, no self-join (the interval self-join formulation
    is quadratic per user and never needed)."""
    e = load_table(spark, sf_dir, "events")
    iv = e.select(
        "user_id",
        epoch_micros(e).alias("s"),
        (epoch_micros(e) + _COVER_US).alias("e"),
        "event_id",
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.select(
        "user_id",
        "s",
        "e",
        "event_id",
        F.when(F.col("s") > F.max("e").over(w_prev), 1).otherwise(0).alias("new_island"),
    )
    # the running sum MUST replay the flag pass's (s, event_id) total
    # order: e = s + const ties completely on (s, e), and an ambiguous
    # tie order could attach a flag-0 row to the previous island while
    # its tied flag-1 sibling opens the next one
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = flagged.select(
        "user_id", "s", "e", F.sum("new_island").over(w_run).alias("island")
    )
    merged = islands.groupBy("user_id", "island").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    return merged.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_intervals"),
        F.sum(F.col("me") - F.col("ms")).cast("long").alias("covered_us"),
        F.min("ms").cast("long").alias("first_us"),
        F.max("me").cast("long").alias("last_us"),
    )


@query(
    "q_hourly_event_profile",
    covers=("X-HOURLY-PROFILE",),
    oracle="""
    SELECT CAST(extract(hour FROM ts) AS BIGINT) AS hour_of_day,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY 1, 2
    """,
)
def q_hourly_event_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day × event-type activity profile (with distinct
    users) — the seasonality baseline every ingest monitor diffs a
    new day against, and the capacity-planning input for trigger
    sizing on the streaming side.  Hour extraction happens on the
    session-TZ-normalized event time (functions/eventtime); one
    grouped count over at most 24×|types| cells, count-distinct
    shuffles only (hour, type, user) triples."""
    from week4_musemotion_spark.functions.eventtime import event_time

    e = load_table(spark, sf_dir, "events")
    return e.groupBy(
        F.hour(event_time(e)).cast("long").alias("hour_of_day"), "event_type"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )
