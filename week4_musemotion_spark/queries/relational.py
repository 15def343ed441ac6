"""Relational core — the reference's full SQL surface on testdata.

Transposes every query shape in the reference's
``musemotion-queries.sql`` (scan/limit, filter+sort, derived columns,
group-by/HAVING, point lookup, scalar subquery, CTE top-k join,
inner/left/right joins, CRUD-as-transform) onto the driver's TPC-H-ish
tables (SURVEY.md §7.2 role mapping: lineitem/orders = fact,
nation/part = dimension).

Scale notes: dimension joins broadcast explicitly; every ORDER BY +
LIMIT plans as TakeOrderedAndProject (no global sort); aggregates are
partial+final hash aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from week4_musemotion_spark.functions.exact import avg_money
from week4_musemotion_spark.queries.registry import query
from week4_musemotion_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Scan / filter / sort / derive  (reference musemotion-queries.sql:21-38)
# ---------------------------------------------------------------------------


@query(
    "q_read_limit",
    covers=("P5", "O4"),
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
    FROM lineitem
    ORDER BY l_orderkey, l_linenumber
    LIMIT 10
    """,
)
def q_read_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + LIMIT (ref musemotion-queries.sql:21-23), made
    deterministic with a total order on the primary key."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(10)
    )


@query(
    "q_filter_sort",
    covers=("P6", "O1", "O4"),
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_str
    FROM orders
    WHERE o_orderstatus IS NOT NULL
    ORDER BY o_orderdate_str DESC, o_custkey ASC, o_orderkey ASC
    LIMIT 100
    """,
)
def q_filter_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL predicate + multi-key mixed-direction sort + LIMIT
    (ref musemotion-queries.sql:26-30)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderstatus").isNotNull())
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate_str"),
        )
        .orderBy(F.col("o_orderdate_str").desc(), F.col("o_custkey").asc(), F.col("o_orderkey").asc())
        .limit(100)
    )


#: Pinned "current year" so the derived-age query is reproducible
#: (SURVEY.md §4: deterministic current_date).
REFERENCE_YEAR = 2026


@query(
    "q_derived_age",
    covers=("F5", "F6", "O2"),
    oracle=f"""
    SELECT o_orderkey, ({REFERENCE_YEAR} - year(o_orderdate)) AS order_age
    FROM orders
    WHERE o_orderdate IS NOT NULL
    ORDER BY order_age ASC, o_orderkey ASC
    LIMIT 50
    """,
)
def q_derived_age(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-arithmetic derived column + sort on it (ref
    musemotion-queries.sql:33-38 ``vehicle_age``), reference year
    pinned for determinism."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderdate").isNotNull())
        .select(
            "o_orderkey",
            (F.lit(REFERENCE_YEAR) - F.year("o_orderdate")).cast("long").alias("order_age"),
        )
        .orderBy(F.col("order_age").asc(), F.col("o_orderkey").asc())
        .limit(50)
    )


@query(
    "q_point_lookup",
    covers=("P7",),
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
    FROM orders
    WHERE o_orderkey = 42
    """,
)
def q_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equality point lookup (ref musemotion-queries.sql:60).  The
    key predicate pushes into the parquet scan (row-group skip)."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderkey") == 42).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )


# ---------------------------------------------------------------------------
# Aggregation  (reference musemotion-queries.sql:41-52, streamlit KPIs)
# ---------------------------------------------------------------------------


@query(
    "q_count_by_group",
    covers=("A1", "O3", "O4"),
    oracle="""
    SELECT p_brand, count(*) AS cnt
    FROM part
    GROUP BY p_brand
    ORDER BY cnt DESC, p_brand ASC
    LIMIT 20
    """,
)
def q_count_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(*) by group, top-k (ref musemotion-queries.sql:41-45)."""
    p = load_table(spark, sf_dir, "part")
    return (
        p.groupBy("p_brand")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("p_brand").asc())
        .limit(20)
    )


@query(
    "q_having_avg",
    covers=("A2", "F6", "O3"),
    oracle="""
    SELECT o_orderpriority, count(*) AS cnt,
           CAST(CASE WHEN sum(CAST(round((o_totalprice) * 100) AS BIGINT)) >= 0 THEN (2 * sum(CAST(round((o_totalprice) * 100) AS BIGINT)) + count(*)) // (2 * count(*)) ELSE -((2 * -sum(CAST(round((o_totalprice) * 100) AS BIGINT)) + count(*)) // (2 * count(*))) END AS BIGINT) AS avg_price_cents
    FROM orders
    GROUP BY o_orderpriority
    HAVING count(*) > 10
    ORDER BY avg_price_cents DESC, o_orderpriority ASC
    """,
)
def q_having_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-aggregate + HAVING (ref musemotion-queries.sql:48-52)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(F.count("*").alias("cnt"), avg_money("o_totalprice").alias("avg_price_cents"))
        .filter(F.col("cnt") > 10)
        .orderBy(F.col("avg_price_cents").desc(), F.col("o_orderpriority").asc())
    )


@query(
    "q_isin_filter_kpi",
    covers=("P8", "A4", "F9"),
    oracle="""
    SELECT count(*) AS n_events,
           CAST(CASE WHEN sum(CAST(round((value) * 100) AS BIGINT)) >= 0 THEN (2 * sum(CAST(round((value) * 100) AS BIGINT)) + count(*)) // (2 * count(*)) ELSE -((2 * -sum(CAST(round((value) * 100) AS BIGINT)) + count(*)) // (2 * count(*))) END AS BIGINT) AS avg_value_cents,
           count(DISTINCT user_id) AS n_users
    FROM events
    WHERE event_type IN ('view', 'click')
    """,
)
def q_isin_filter_kpi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-list conjunctive filter feeding KPI aggregates — the
    dashboard's core query shape (ref streamlit_app.py:166-190)."""
    e = load_table(spark, sf_dir, "events")
    return e.filter(F.col("event_type").isin("view", "click")).agg(
        F.count("*").alias("n_events"),
        avg_money("value").alias("avg_value_cents"),
        F.countDistinct("user_id").alias("n_users"),
    )


@query(
    "q_distinct_sorted",
    covers=("A6",),
    oracle="""
    SELECT DISTINCT event_type FROM events
    WHERE event_type IS NOT NULL
    ORDER BY event_type
    """,
)
def q_distinct_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted distinct values — the dashboard's filter-option
    discovery (ref streamlit_app.py:144-151)."""
    e = load_table(spark, sf_dir, "events")
    return e.select("event_type").filter(F.col("event_type").isNotNull()).distinct().orderBy("event_type")


@query(
    "q_scalar_subquery",
    covers=("A7", "P10", "J5", "A3"),
    oracle="""
    WITH t AS (
        SELECT count(*) AS cnt,
               sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS s
        FROM lineitem
    )
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem, t
    WHERE CAST(round(l_extendedprice * 100) AS BIGINT) * t.cnt > t.s
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 50
    """,
)
def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery (ref musemotion-queries.sql:69-74)
    via the SQL entry path.  Both needed scalars (count + sum) come
    from ONE aggregate pass cross-joined back as a broadcast one-row
    relation — two scans of the fact table, not three; the threshold
    compare is exact integer cross-multiplication (no float avg)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        WITH t AS (
            SELECT count(*) AS cnt,
                   sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS s
            FROM lineitem
        )
        SELECT l_orderkey, l_linenumber, l_extendedprice
        FROM lineitem, t
        WHERE CAST(round(l_extendedprice * 100) AS BIGINT) * t.cnt > t.s
        ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        LIMIT 50
        """
    )


# ---------------------------------------------------------------------------
# Joins  (reference musemotion-queries.sql:77-113)
# ---------------------------------------------------------------------------


@query(
    "q_cte_topk_join",
    covers=("J4", "A1", "O3", "O4"),
    oracle="""
    WITH top_brands AS (
        SELECT p_brand, count(*) AS cnt
        FROM part
        GROUP BY p_brand
        ORDER BY cnt DESC, p_brand ASC
        LIMIT 5
    )
    SELECT l.l_orderkey, l.l_linenumber, p.p_brand, t.cnt, l.l_quantity
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN top_brands t ON p.p_brand = t.p_brand
    ORDER BY t.cnt DESC, p.p_brand, l.l_orderkey, l.l_linenumber
    LIMIT 200
    """,
)
def q_cte_topk_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP: CTE top-k self-enrichment join (ref
    musemotion-queries.sql:77-88).

    Plan shape for scale: the top-5 aggregate is tiny → broadcast on
    both hops, so the fact table is never shuffled; the final top-200
    is TakeOrderedAndProject (no global sort)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    top = (
        part.groupBy("p_brand")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("p_brand").asc())
        .limit(5)
    )
    enriched = li.join(
        F.broadcast(part.select("p_partkey", "p_brand")),
        li.l_partkey == F.col("p_partkey"),
    ).join(F.broadcast(top), "p_brand")
    return (
        enriched.select("l_orderkey", "l_linenumber", "p_brand", "cnt", "l_quantity")
        .orderBy(F.col("cnt").desc(), F.col("p_brand").asc(), F.col("l_orderkey").asc(), F.col("l_linenumber").asc())
        .limit(200)
    )


@query(
    "q_inner_join",
    covers=("J1",),
    oracle="""
    SELECT c.c_custkey, c.c_name, c.c_mktsegment, n.n_name
    FROM customer c
    INNER JOIN nation n ON c.c_nationkey = n.n_nationkey
    """,
)
def q_inner_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INNER equi-join fact→dim (ref musemotion-queries.sql:97-101);
    dimension broadcast, no shuffle of the customer side."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "inner").select(
        "c_custkey", "c_name", "c_mktsegment", "n_name"
    )


@query(
    "q_left_join",
    covers=("J2",),
    oracle="""
    SELECT c.c_custkey, n.n_name
    FROM customer c
    LEFT JOIN (SELECT * FROM nation WHERE n_regionkey < 2) n
      ON c.c_nationkey = n.n_nationkey
    """,
)
def q_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join with null-producing right side (ref
    musemotion-queries.sql:103-108)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_regionkey") < 2)
    return c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left").select("c_custkey", "n_name")


@query(
    "q_right_join",
    covers=("J3",),
    oracle="""
    SELECT n.n_nationkey, n.n_name, c.c_custkey
    FROM (SELECT * FROM customer WHERE c_custkey % 3 = 0) c
    RIGHT JOIN nation n ON c.c_nationkey = n.n_nationkey
    """,
)
def q_right_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT OUTER join, dimension-driven (ref
    musemotion-queries.sql:110-113)."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 3 == 0)
    n = load_table(spark, sf_dir, "nation")
    return c.join(n, c.c_nationkey == n.n_nationkey, "right").select("n_nationkey", "n_name", "c_custkey")


@query(
    "q_union_all",
    covers=("J6", "S2"),
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, 'low' AS bucket
    FROM lineitem WHERE l_quantity < 5
    UNION ALL
    SELECT l_orderkey, l_linenumber, l_quantity, 'high' AS bucket
    FROM lineitem WHERE l_quantity > 45
    """,
)
def q_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag union of two scans — the multi-file merge shape (ref
    pipeline.py:145 ``pd.concat``)."""
    li = load_table(spark, sf_dir, "lineitem")
    low = li.filter(F.col("l_quantity") < 5).select(
        "l_orderkey", "l_linenumber", "l_quantity", F.lit("low").alias("bucket")
    )
    high = li.filter(F.col("l_quantity") > 45).select(
        "l_orderkey", "l_linenumber", "l_quantity", F.lit("high").alias("bucket")
    )
    return low.unionByName(high)


# ---------------------------------------------------------------------------
# CRUD-as-transform + upsert  (reference musemotion-queries.sql:56-66,
# load_musemotion_to_db.py:91-143)
# ---------------------------------------------------------------------------


@query(
    "q_update_projection",
    covers=("C3",),
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 100 = 0 THEN 'URGENT-REVIEW'
                ELSE o_orderpriority END AS o_orderpriority
    FROM orders
    """,
)
def q_update_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE-by-key expressed as a transformation (ref
    musemotion-queries.sql:63; immutable-storage semantics,
    SURVEY.md §2.9 C3)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 100 == 0, F.lit("URGENT-REVIEW"))
        .otherwise(F.col("o_orderpriority"))
        .alias("o_orderpriority"),
    )


@query(
    "q_delete_filter",
    covers=("C4",),
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 1000.0)
    """,
)
def q_delete_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE-by-predicate expressed as its complement filter (ref
    musemotion-queries.sql:66)."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(~((F.col("o_orderstatus") == "F") & (F.col("o_totalprice") < 1000.0))).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


@query(
    "q_window_counts",
    covers=("X-STREAM-WINDOW",),
    oracle="""
    SELECT (epoch_ns(ts) // 3600000000000) AS hour_bucket,
           event_type, count(*) AS cnt
    FROM events
    GROUP BY 1, 2
    """,
)
def q_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window counts per event type, bucketed with
    exact integer division on epoch micros (float division would
    lose precision above 2^53; encoding-agnostic via epoch_micros)."""
    from week4_musemotion_spark.functions.eventtime import epoch_micros

    e = load_table(spark, sf_dir, "events")
    e = e.withColumn("tsu", epoch_micros(e))
    return e.groupBy(
        F.expr("tsu div 3600000000").alias("hour_bucket"), "event_type"
    ).agg(F.count("*").alias("cnt"))


@query(
    "q_upsert_lastwins",
    covers=("K4",),
    oracle="""
    SELECT user_id, event_id, event_type, value
    FROM (
        SELECT user_id, event_id, event_type, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def q_upsert_lastwins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert's dedup core: last-write-wins by key (ref
    load_musemotion_to_db.py:96-143 ``ON DUPLICATE KEY UPDATE``).

    One shuffle on the key; at scale this is the standard
    merge-into-snapshot pattern (see operators.upsert for the full
    sink)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "value")
    )

@query(
    "q_full_outer_join",
    covers=("J2", "J3"),
    oracle="""
    SELECT c.c_custkey, c.c_nationkey AS cust_nationkey, n.n_nationkey, n.n_name
    FROM (SELECT * FROM customer WHERE c_custkey % 4 = 0) c
    FULL OUTER JOIN (SELECT * FROM nation WHERE n_regionkey >= 2) n
      ON c.c_nationkey = n.n_nationkey
    """,
)
def q_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join with null-producing rows on BOTH sides
    (completes the reference's join family, musemotion-queries.sql:97-113:
    inner/left/right → full).

    Scale note: full-outer cannot broadcast (both sides must preserve
    unmatched rows) — Spark plans sort-merge on the equi-key, which is
    the right strategy at 100 TB; AQE handles skew splits."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 4 == 0)
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_regionkey") >= 2)
    return c.join(n, c.c_nationkey == n.n_nationkey, "full_outer").select(
        "c_custkey", c.c_nationkey.alias("cust_nationkey"), "n_nationkey", "n_name"
    )


@query(
    "q_cross_join",
    covers=("J1",),
    oracle="""
    SELECT r.r_name, n.n_name
    FROM region r CROSS JOIN nation n
    """,
)
def q_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit CROSS JOIN of two small dims (cartesian template for
    e.g. date-spine × key-universe scaffolds).

    Scale note: legal only when one side is tiny — Spark plans
    BroadcastNestedLoopJoin here; a fact×fact cartesian would be
    rejected by review, not tuned."""
    r = load_table(spark, sf_dir, "region").select("r_name")
    n = load_table(spark, sf_dir, "nation").select("n_name")
    return r.crossJoin(F.broadcast(n))


@query(
    "q_skew_salted_join",
    covers=("J1", "X-SKEW"),
    oracle="""
    SELECT p.p_brand,
           count(*) AS n_items,
           CAST(sum(CAST(round(l.l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hand-salted skew join proven THROUGH the correctness gate: the
    big side is salted 16 ways, the small side replicated per salt,
    join key becomes (key, salt) — and the oracle is the PLAIN join,
    so the gate certifies salting is semantics-preserving
    (operators/skew.salted_join).

    Scale note: this is the manual fallback when ONE hot key dwarfs
    AQE's skew splitting (the reference's 40%-TESLA ``make``
    distribution, FIXTURES.md).  The salt spreads a hot key's rows
    over 16 reducers at the price of replicating the small side ×16 —
    only sane when the small side is dimension-sized.  The aggregate
    after the join is keyed on a post-join column, so partial
    aggregation absorbs the fan-out before the final shuffle."""
    from week4_musemotion_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    joined = salted_join(
        li.withColumnRenamed("l_partkey", "p_partkey"), p, on="p_partkey"
    )
    return joined.groupBy("p_brand").agg(
        F.count("*").alias("n_items"),
        F.sum(F.round(F.col("l_quantity")).cast("long")).cast("long").alias("sum_qty"),
    )
