"""TPC-H subquery-family silhouettes: Q13/Q15/Q16/Q17/Q21/Q22.

The first ``tpch.py`` batch proves the join/aggregate shapes; this
module proves the *subquery decorrelation* surface a warehouse engine
must plan well — NOT IN, EXISTS + NOT EXISTS on the same fact,
correlated scalar aggregates, scalar-subquery-vs-aggregate-view, and
distribution-of-a-distribution.  Where the testdata lacks a TPC-H
column the predicate is transposed onto an available one (noted per
query); the *plan shape* — what Catalyst must decorrelate into
semi/anti joins — is preserved.

Determinism: money in exact integer cents/e4 (``functions/exact.py``),
the Q17/Q22 threshold comparisons in cross-multiplied integer form
(never an ``avg()`` double), every output totally ordered.

Scale notes (100 TB):

- Q13's left join shuffles customer×orders once on custkey; the
  second aggregate is 50-odd groups — negligible.  Skew: custkey is
  uniform in TPC-H; real data would salt the hot key.
- Q16's ``count(DISTINCT l_suppkey)`` is the one expensive distinct
  in the suite — Spark plans it as a two-phase expand+agg; the
  NOT IN rewrites to a broadcast anti join (supplier is tiny).
- Q21's paired EXISTS / NOT EXISTS both decorrelate to semi/anti
  joins against the *same* lineitem scan on the same orderkey —
  with tables bucketed on orderkey (``DataFrameWriter.bucketBy``)
  the three lineitem reads share one layout and shuffle zero bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from week4_musemotion_spark.functions.exact import (
    cents,
    cents_sql,
    int_div_round,
    int_div_round_sql,
)
from week4_musemotion_spark.queries.registry import query
from week4_musemotion_spark.queries.tpch import _DISC_PCT_SQL
from week4_musemotion_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# Q13 — customer order-count distribution
# ---------------------------------------------------------------------------


@query(
    "q_tpch_order_distribution",
    covers=("X-TPCH-Q13", "J2"),
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o
          ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    ) pc
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q_tpch_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 customer distribution: how many customers placed
    exactly N (non-urgent) orders — a distribution of a distribution.
    The left join keeps order-less customers (count 0 bucket); the
    extra join predicate lives in the JOIN ... ON clause, NOT the
    WHERE (a WHERE would turn the outer join inner — the classic
    outer-join-filter trap).  First aggregate shuffles on custkey;
    the second collapses to ~50 count-groups.  The testdata's
    priority filter transposes the original's o_comment NOT LIKE.
    Ref capability: J2 (left join, musemotion-queries.sql:103-108)
    composed with two-level aggregation."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy(cust.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# ---------------------------------------------------------------------------
# Q15 — top supplier (aggregate view vs its own max)
# ---------------------------------------------------------------------------


@query(
    "q_tpch_top_supplier",
    covers=("X-TPCH-Q15", "A7"),
    oracle=f"""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               CAST(sum({cents_sql("l_extendedprice")} * (100 - {_DISC_PCT_SQL})) AS BIGINT)
                   AS total_revenue_e4
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1998-01-01'
          AND l_shipdate < TIMESTAMP '1998-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue_e4
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue_e4 = (SELECT max(total_revenue_e4) FROM revenue)
    ORDER BY s.s_suppkey
    """,
)
def q_tpch_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 top supplier: an aggregate view compared against its
    own global max — the scalar subquery ranges over the *derived*
    table, not a base one.  Through ``spark.sql`` Catalyst plans the
    CTE once per consumer (two scans of the quarter's lineitem; AQE
    reuses the exchange), the max side collapsing to a 1-row
    broadcast.  All-ties semantics (every supplier hitting the max)
    are preserved — a ``LIMIT 1`` would silently drop ties.  Ref
    capability: the uncorrelated scalar subquery of
    musemotion-queries.sql:69-74 (A7) lifted onto an aggregate view."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView("supplier")
    return spark.sql(
        f"""
        WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
                   sum({cents_sql("l_extendedprice")} * (100 - {_DISC_PCT_SQL}))
                       AS total_revenue_e4
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1998-01-01'
              AND l_shipdate < TIMESTAMP '1998-04-01'
            GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name, r.total_revenue_e4
        FROM supplier s
        JOIN revenue r ON s.s_suppkey = r.supplier_no
        WHERE r.total_revenue_e4 = (SELECT max(total_revenue_e4) FROM revenue)
        ORDER BY s.s_suppkey
        """
    )


# ---------------------------------------------------------------------------
# Q16 — supplier count by part attribute (distinct agg + NOT IN)
# ---------------------------------------------------------------------------


@query(
    "q_tpch_supplier_cnt",
    covers=("X-TPCH-Q16", "A6"),
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#21'
      AND p.p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
      AND l.l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    """,
)
def q_tpch_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 parts/supplier relationship: distinct-supplier counts
    per (brand, type, size) bucket, excluding a supplier denylist via
    NOT IN.  The testdata has no partsupp, so lineitem plays the
    part↔supplier bridge, and the denylist predicate transposes the
    original's comment LIKE onto s_acctbal < 0.  NOT IN over a
    nullable-free key column rewrites to a broadcast LEFT ANTI join
    (supplier is tiny at every SF); ``count(DISTINCT)`` plans as
    two-phase aggregate — partial distinct on (group, suppkey), then
    final count, so the shuffle carries deduped pairs, not raw rows.
    Ref capability: A6 distinct-values discovery
    (streamlit_app.py:144-151) as a grouped, denylisted metric."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#21") & F.col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45)
    )
    bad_supp = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        li.join(F.broadcast(bad_supp), li.l_suppkey == F.col("s_suppkey"), "left_anti")
        .join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


# ---------------------------------------------------------------------------
# Q17 — small-quantity-order revenue (correlated avg threshold)
# ---------------------------------------------------------------------------


@query(
    "q_tpch_small_qty_revenue",
    covers=("X-TPCH-Q17",),
    oracle=f"""
    WITH per_part AS (
        SELECT l_partkey,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
               count(*) AS cnt
        FROM lineitem
        GROUP BY l_partkey
    )
    SELECT CAST(sum({cents_sql("l.l_extendedprice")}) AS BIGINT) AS total_cents,
           count(*) AS n_items,
           {int_div_round_sql(f"sum({cents_sql('l.l_extendedprice')})", "7")} AS avg_yearly_cents
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN per_part a ON a.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23'
      AND p.p_type = 'MEDIUM'
      AND 5 * CAST(l.l_quantity AS BIGINT) * a.cnt < a.sum_qty
    """,
)
def q_tpch_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 small-quantity-order revenue: lineitems whose
    quantity is below 20% of their part's average quantity — the
    correlated scalar-avg subquery, expressed in its decorrelated
    form (per-part aggregate joined back, which is exactly what
    Catalyst rewrites the correlated form into).  The threshold is
    the cross-multiplied integer ``5·qty·cnt < Σqty`` — equivalent to
    ``qty < 0.2·avg`` but with no double division on either engine,
    so the boundary rows cannot flip.  At scale the per-part
    aggregate reuses the partkey shuffle of the main join (one
    exchange, AQE-reused).  The container predicate transposes to
    p_type; /7 annualization keeps the original's output shape.
    Ref capability: the correlated-aggregate family the reference's
    single uncorrelated subquery (A7) only hints at."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#23") & (F.col("p_type") == "MEDIUM")
    )
    per_part = (
        li.groupBy(F.col("l_partkey").alias("pp_partkey"))
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )
    tot = F.sum(cents("l_extendedprice"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(per_part, li.l_partkey == F.col("pp_partkey"))
        .filter(5 * F.col("l_quantity").cast("long") * F.col("cnt") < F.col("sum_qty"))
        .agg(
            tot.alias("total_cents"),
            F.count(F.lit(1)).alias("n_items"),
            int_div_round(tot, F.lit(7)).alias("avg_yearly_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Q21 — suppliers who kept orders waiting (EXISTS + NOT EXISTS)
# ---------------------------------------------------------------------------

_Q21_SQL = """
SELECT s.s_name, count(*) AS numwait
FROM supplier s
JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE o.o_orderstatus = 'F'
  AND l1.l_returnflag = 'R'
  AND EXISTS (
      SELECT 1 FROM lineitem l2
      WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
      SELECT 1 FROM lineitem l3
      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        AND l3.l_returnflag = 'R'
  )
  AND n.n_name = 'NATION_3'
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT 20
"""


@query("q_tpch_waiting_supplier", covers=("X-TPCH-Q21",), oracle=_Q21_SQL)
def q_tpch_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 waiting suppliers: for finalized multi-supplier
    orders, count per supplier the lineitems where *it* flagged a
    return ('R' transposes the original's receipt>commit lateness —
    the column set here has no commit/receipt dates) and *no other
    supplier on the same order* did.  The paired correlated EXISTS /
    NOT EXISTS over the same fact decorrelate into a LEFT SEMI and a
    LEFT ANTI join against two more lineitem scans keyed on
    orderkey — three scans, one shared shuffle key, zero extra
    exchanges when lineitem is bucketed by orderkey.  The identical
    SQL text runs on the oracle.  Ref capability: completes the
    EXISTS family started by Q4 with the mixed semi/anti form."""
    for t in ("supplier", "lineitem", "orders", "nation"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q21_SQL)


# ---------------------------------------------------------------------------
# Q22 — global sales opportunity (anti join + scalar threshold)
# ---------------------------------------------------------------------------

_Q22_SQL = """
WITH positive AS (
    SELECT CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
    FROM customer
    WHERE c_acctbal > 0.0
)
SELECT substr(c.c_name, 17, 1) AS cc,
       count(*) AS numcust,
       CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT) AS totacctbal_cents
FROM customer c
WHERE substr(c.c_name, 17, 1) IN ('1', '2', '3', '4', '5', '6', '7')
  AND CAST(round(c.c_acctbal * 100) AS BIGINT) * (SELECT count(*) FROM positive)
      > (SELECT sum(bal_cents) FROM positive)
  AND NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey
        AND o.o_orderdate >= TIMESTAMP '2001-01-01'
  )
GROUP BY substr(c.c_name, 17, 1)
ORDER BY cc
"""


@query("q_tpch_sales_opportunity", covers=("X-TPCH-Q22", "A7"), oracle=_Q22_SQL)
def q_tpch_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 global sales opportunity: above-average-balance
    customers with no recent orders, bucketed by "country code".
    Three subquery shapes in one statement: an uncorrelated scalar
    threshold (cross-multiplied to integer form — ``bal·n > Σbal``
    instead of ``bal > avg``, so no double division near the
    boundary), a correlated NOT EXISTS that decorrelates to a LEFT
    ANTI join on custkey, and substring bucketing.  The country code
    transposes the original's phone prefix onto c_name's tens digit;
    "no orders at all" becomes "no orders since 2001" (every testdata
    customer has historical orders).  Identical SQL runs on the
    oracle.  Ref capability: anti-join semantics the reference only
    implies via upsert (K4), surfaced as a declarative query."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_Q22_SQL)


# ---------------------------------------------------------------------------
# Q2 silhouette — correlated min over a snowflake (min-cost supplier)
# ---------------------------------------------------------------------------


@query(
    "q_tpch_min_cost_supplier",
    covers=("X-TPCH-Q2",),
    oracle="""
    WITH sr AS (
        SELECT s.s_suppkey, s.s_name, n.n_name,
               CAST(round(s.s_acctbal * 100) AS BIGINT) AS bal_cents
        FROM supplier s
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
    ),
    links AS (
        SELECT DISTINCT l.l_partkey, l.l_suppkey
        FROM lineitem l
    ),
    cand AS (
        SELECT p.p_partkey, p.p_name, sr.s_suppkey, sr.s_name, sr.n_name, sr.bal_cents
        FROM part p
        JOIN links k ON p.p_partkey = k.l_partkey
        JOIN sr ON k.l_suppkey = sr.s_suppkey
        WHERE p.p_size = 15
    )
    SELECT p_partkey, p_name, s_suppkey, s_name, n_name, bal_cents
    FROM cand c
    WHERE bal_cents = (
        SELECT min(bal_cents) FROM cand c2 WHERE c2.p_partkey = c.p_partkey
    )
    ORDER BY p_partkey, s_suppkey
    """,
)
def q_tpch_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 silhouette: per part, the region-restricted supplier
    with the minimum account balance — the correlated-scalar-min-over-
    a-snowflake shape (testdata has no partsupp, so the part↔supplier
    association comes from distinct lineitem links, and min supplycost
    transposes to min acctbal in exact cents).  Catalyst decorrelates
    the per-part min into a window/aggregate join; the region/nation
    restriction collapses to a broadcast filter on the supplier dim
    BEFORE any fact access — at 100 TB the candidate set is pruned by
    the dims first, exactly like real Q2."""
    from pyspark.sql.window import Window

    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 15)
    li = load_table(spark, sf_dir, "lineitem")

    sr = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "n_name", cents("s_acctbal").alias("bal_cents"))
    )
    links = li.select(F.col("l_partkey"), F.col("l_suppkey")).distinct()
    cand = (
        p.select("p_partkey", "p_name")
        .join(links, F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(sr), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("p_partkey", "p_name", "s_suppkey", "s_name", "n_name", "bal_cents")
    )
    w = Window.partitionBy("p_partkey")
    return (
        cand.withColumn("_min", F.min("bal_cents").over(w))
        .filter(F.col("bal_cents") == F.col("_min"))
        .drop("_min")
        .orderBy("p_partkey", "s_suppkey")
    )


# ---------------------------------------------------------------------------
# Q11 silhouette — group share vs a global scalar (important stock)
# ---------------------------------------------------------------------------


@query(
    "q_tpch_important_stock",
    covers=("X-TPCH-Q11",),
    oracle="""
    WITH nat AS (
        SELECT s_suppkey FROM supplier s JOIN nation n
          ON s.s_nationkey = n.n_nationkey
        WHERE n.n_name = 'NATION_7'
    ),
    val AS (
        SELECT l.l_partkey,
               CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                        * CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS value_cq
        FROM lineitem l JOIN nat ON l.l_suppkey = nat.s_suppkey
        GROUP BY l.l_partkey
    )
    SELECT l_partkey, value_cq
    FROM val
    WHERE value_cq * 10000 > (SELECT sum(value_cq) FROM val)
    ORDER BY value_cq DESC, l_partkey
    """,
)
def q_tpch_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 silhouette: per-part inventory value restricted to
    one nation's suppliers, keeping parts whose value exceeds a
    fraction (1/10000) of the grand total — the group-share-vs-
    global-scalar shape.  No partsupp: value = Σ price×quantity from
    lineitem; the threshold compare is cross-multiplied to exact
    integers (never a double fraction).  The grand total is a
    broadcast 1-row aggregate over the SAME grouped result (computed
    once, reused — not a second scan of the fact)."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    li = load_table(spark, sf_dir, "lineitem")

    nat = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select("s_suppkey")
    val = (
        li.join(F.broadcast(nat), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(
            F.sum(cents("l_extendedprice") * F.col("l_quantity").cast("long")).alias("value_cq")
        )
    )
    total = val.agg(F.sum("value_cq").alias("_total"))
    return (
        val.crossJoin(F.broadcast(total))
        .filter(F.col("value_cq") * 10_000 > F.col("_total"))
        .select("l_partkey", "value_cq")
        .orderBy(F.col("value_cq").desc(), "l_partkey")
    )


# ---------------------------------------------------------------------------
# Q20 silhouette — nested IN chains (excess shipping)
# ---------------------------------------------------------------------------


@query(
    "q_tpch_excess_quantity",
    covers=("X-TPCH-Q20",),
    oracle="""
    WITH blueparts AS (
        SELECT p_partkey FROM part WHERE p_name LIKE '%blue%'
    ),
    shipped AS (
        SELECT l_suppkey, l_partkey, sum(CAST(l_quantity AS BIGINT)) AS qty
        FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM blueparts)
          AND l_shipdate >= DATE '1995-01-01' AND l_shipdate < DATE '1996-01-01'
        GROUP BY l_suppkey, l_partkey
    ),
    allqty AS (
        SELECT l_partkey, sum(CAST(l_quantity AS BIGINT)) AS total_qty
        FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM blueparts)
          AND l_shipdate >= DATE '1995-01-01' AND l_shipdate < DATE '1996-01-01'
        GROUP BY l_partkey
    )
    SELECT DISTINCT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE s.s_suppkey IN (
        SELECT sh.l_suppkey FROM shipped sh JOIN allqty a
          ON sh.l_partkey = a.l_partkey
        WHERE sh.qty * 2 > a.total_qty
    )
    ORDER BY s.s_suppkey
    """,
)
def q_tpch_excess_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 silhouette: suppliers who shipped more than half of
    a blue part's 1995 volume — the nested-IN-chain shape
    (part-name IN → grouped lineitem IN → supplier IN).  No partsupp/
    availqty: 'excess' transposes to supplier share > 1/2 of the
    part's same-window shipped total, cross-multiplied to exact
    integers.
    Catalyst turns each IN into a semi join; the part-name filter
    broadcasts into both lineitem scans so the fact is pruned before
    either aggregate."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%blue%")).select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")

    blue_li = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    shipped = (
        blue_li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("date"))
        )
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("qty"))
    )
    window = (F.col("l_shipdate") >= F.lit("1995-01-01").cast("date")) & (
        F.col("l_shipdate") < F.lit("1996-01-01").cast("date")
    )
    allqty = (
        blue_li.filter(window)
        .groupBy(F.col("l_partkey").alias("_pk"))
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("total_qty"))
    )
    excess = (
        shipped.join(allqty, shipped.l_partkey == F.col("_pk"))
        .filter(F.col("qty") * 2 > F.col("total_qty"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(excess, s.s_suppkey == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .distinct()
        .orderBy("s_suppkey")
    )
