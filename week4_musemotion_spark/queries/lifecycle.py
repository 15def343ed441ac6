"""Lifecycle / layout / graph battery: sequential-funnel and cohort
retention over the event and order histories, robust (MAD) outlier
audit, Zipf rank-frequency curve, Morton-tile layout statistics, and
a fixed-point PageRank over the co-purchase graph.

Reference parity: the reference's analytics stop at one-table
aggregates (musemotion-queries.sql:41-52, streamlit_app.py:180-190);
these add the multi-stage behavioral and graph shapes a production
warehouse layers on the same engine.  Everything is exact-integer
(functions/exact.py) or exact-binary-fraction arithmetic so the
DuckDB oracles hash-match bit-for-bit.

Scale notes (100 TB): every stage below is a keyed aggregate or
keyed equi-join — no stage is quadratic in the corpus.  The funnel
joins shrink monotonically (stage-k users ⊆ stage-k-1 users); the
cohort matrix is |cohorts|×|offsets| cells regardless of order
count; PageRank's per-iteration cost is O(|edges|) with rank state
partitioned by node, the classic Pregel shape expressed as join+agg.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from week4_musemotion_spark.functions.exact import ratio_e4, ratio_e4_sql
from week4_musemotion_spark.queries.registry import query
from week4_musemotion_spark.sources.tables import load_table


def _int_div(p: Column, q: Column) -> Column:
    """Truncating integer division of non-negative longs, exact for
    ANY long magnitude — delegates to the decimal(38,0) path (the raw
    long→double formulation is exact only below 2^53, a trap when
    PageRank mass operands near 1e13 get reused at larger scale)."""
    from week4_musemotion_spark.functions.exact import int_div_trunc

    return int_div_trunc(p, q)


# --------------------------------------------------------------------------
# 1. Sequential funnel over the event stream
# --------------------------------------------------------------------------

_FUNNEL = ("view", "click", "purchase")


@query(
    "q_funnel_conversion",
    covers=("X-FUNNEL-STAGED",),
    oracle=f"""
    WITH s1 AS (
        SELECT user_id, min(ts) AS t FROM events
        WHERE event_type = '{_FUNNEL[0]}' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, min(e.ts) AS t FROM events e
        JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = '{_FUNNEL[1]}' AND e.ts > s1.t
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, min(e.ts) AS t FROM events e
        JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = '{_FUNNEL[2]}' AND e.ts > s2.t
        GROUP BY e.user_id
    ),
    stages AS (
        SELECT 1 AS stage, '{_FUNNEL[0]}' AS stage_name, count(*) AS users FROM s1
        UNION ALL SELECT 2, '{_FUNNEL[1]}', count(*) FROM s2
        UNION ALL SELECT 3, '{_FUNNEL[2]}', count(*) FROM s3
    )
    SELECT CAST(stage AS BIGINT) AS stage, stage_name,
           CAST(users AS BIGINT) AS users,
           {ratio_e4_sql("users", "max(CASE WHEN stage = 1 THEN users END) OVER ()")}
               AS conv_from_entry_e4
    FROM stages
    """,
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered funnel view → click → purchase: a user counts
    at stage k only with an event AFTER their stage-k-1 entry time
    (first-touch semantics, ``min(ts)`` per stage).  Conversion is an
    exact e4 ratio against stage-1 entrants.  Complements ``q_funnel``
    (pipeline_ops.py), which reports the per-user view→purchase DELAY
    pair; this one is the k-stage conversion-rate aggregate with a
    strict-order click stage in between.

    Scale shape: each stage is one filtered keyed aggregate joined to
    the previous stage's (user, ts) table — the join input shrinks
    every stage (stage-k users ⊆ stage-k-1 users), so the funnel costs
    ~one scan plus per-stage joins on an ever-smaller key set; nothing
    sorts the raw stream and no per-user event array is materialized
    (the collect_list-then-UDF formulation this replaces breaks on
    power users with millions of events)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    prev: DataFrame | None = None
    stage_counts = []
    for i, etype in enumerate(_FUNNEL, start=1):
        cur = ev.filter(F.col("event_type") == etype)
        if prev is not None:
            cur = cur.join(prev.select("user_id", F.col("t").alias("_pt")), "user_id").filter(
                F.col("ts") > F.col("_pt")
            )
        # each stage table is consumed twice (its count + the next
        # stage's join) and the chain compounds — without pinning,
        # stage 1's subtree executes once per later branch and the
        # event scan count grows with funnel depth
        cur = cur.groupBy("user_id").agg(F.min("ts").alias("t")).localCheckpoint(eager=False)
        stage_counts.append(
            cur.agg(F.count(F.lit(1)).cast("long").alias("users")).select(
                F.lit(i).cast("long").alias("stage"),
                F.lit(etype).alias("stage_name"),
                "users",
            )
        )
        prev = cur
    stages = stage_counts[0].unionByName(stage_counts[1]).unionByName(stage_counts[2])
    # 3-row table: the global window is over already-reduced data
    entry = F.max(F.when(F.col("stage") == 1, F.col("users"))).over(Window.partitionBy())
    return stages.select(
        "stage", "stage_name", "users", ratio_e4(F.col("users"), entry).alias("conv_from_entry_e4")
    )


# --------------------------------------------------------------------------
# 2. Cohort retention over the order history
# --------------------------------------------------------------------------


@query(
    "q_cohort_retention",
    covers=("X-COHORT-MATRIX",),
    oracle=f"""
    WITH firsts AS (
        SELECT o_custkey, min(date_trunc('month', o_orderdate)) AS cohort
        FROM orders GROUP BY o_custkey
    ),
    act AS (
        SELECT DISTINCT o.o_custkey, f.cohort,
               (year(o.o_orderdate) * 12 + month(o.o_orderdate))
             - (year(f.cohort) * 12 + month(f.cohort)) AS off
        FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
    ),
    cells AS (
        SELECT cohort, off, count(*) AS active FROM act GROUP BY cohort, off
    )
    SELECT CAST(cohort AS DATE) AS cohort_month,
           CAST(off AS BIGINT) AS month_offset,
           CAST(active AS BIGINT) AS active_customers,
           {ratio_e4_sql("active", "max(CASE WHEN off = 0 THEN active END) OVER (PARTITION BY cohort)")}
               AS retention_e4
    FROM cells
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort-retention matrix: customers grouped by first-
    order month, then per (cohort, month-offset) the count of cohort
    members active that month and the exact e4 retention vs the
    cohort's size at offset 0.  Month offsets are pure integer
    calendar arithmetic (year·12+month), immune to timestamp
    subtraction pitfalls.  Complements ``q_retention_cohorts``
    (pipeline_ops.py), the week-over-week rolling retention curve on
    the event stream; this is the acquisition-cohort × age matrix on
    the order history.

    Scale shape: one keyed min per customer, one equi-join back to
    orders (key = custkey — co-partitioned with the agg that produced
    firsts, so AQE reuses the shuffle), one distinct and one grouped
    count; the retention window runs over the |cohorts|×|offsets|
    cell table, which is calendar-bounded, not data-bounded."""
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    firsts = o.groupBy("o_custkey").agg(
        F.min(F.date_trunc("month", "o_orderdate")).alias("cohort")
    )
    months = lambda c: F.year(c) * 12 + F.month(c)  # noqa: E731
    act = (
        o.join(firsts, "o_custkey")
        .select(
            "o_custkey",
            "cohort",
            (months(F.col("o_orderdate")) - months(F.col("cohort"))).alias("off"),
        )
        .distinct()
    )
    cells = act.groupBy("cohort", "off").agg(F.count(F.lit(1)).alias("active"))
    base = F.max(F.when(F.col("off") == 0, F.col("active"))).over(
        Window.partitionBy("cohort")
    )
    return cells.select(
        F.col("cohort").cast("date").alias("cohort_month"),
        F.col("off").cast("long").alias("month_offset"),
        F.col("active").cast("long").alias("active_customers"),
        ratio_e4(F.col("active"), base).alias("retention_e4"),
    )


# --------------------------------------------------------------------------
# 3. Robust outliers: median absolute deviation (MAD)
# --------------------------------------------------------------------------


@query(
    "q_mad_outliers",
    covers=("X-MAD",),
    oracle="""
    WITH c AS (
        SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem
    ),
    med AS (
        SELECT l_returnflag, median(cents) AS med FROM c GROUP BY l_returnflag
    ),
    dev AS (
        SELECT c.l_returnflag, abs(c.cents - m.med) AS dev, m.med
        FROM c JOIN med m ON c.l_returnflag = m.l_returnflag
    ),
    mad AS (
        SELECT l_returnflag, median(dev) AS mad FROM dev GROUP BY l_returnflag
    )
    SELECT d.l_returnflag AS returnflag,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(d.med) AS DOUBLE) AS median_cents,
           CAST(min(m.mad) AS DOUBLE) AS mad_cents,
           CAST(count(*) FILTER (d.dev > 3 * m.mad) AS BIGINT) AS n_outliers,
           CAST(max(d.dev) AS DOUBLE) AS max_dev_cents
    FROM dev d JOIN mad m ON d.l_returnflag = m.l_returnflag
    GROUP BY d.l_returnflag
    """,
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier audit per return flag: median price, median
    absolute deviation, and the count of rows beyond 3×MAD — the
    estimator a heavy-tailed price distribution needs where mean±3σ
    melts.  All arithmetic on exact integer cents; the two medians
    interpolate to at worst quarter-cent values, which are exact
    binary fractions, so the 3×MAD comparison is engine-stable.

    Scale shape: two grouped (exact) medians over a handful of flag
    groups plus two broadcast joins of the tiny per-group stats back
    onto the stream — the stream itself is never sorted globally; at
    much larger scale pass ``exact=False`` to
    ``operators/robust.mad_outliers`` and the same dataflow runs on
    the GK quantile sketch (divergence bound pinned in
    tests/test_robust.py)."""
    from week4_musemotion_spark.functions.exact import cents
    from week4_musemotion_spark.operators.robust import mad_outliers

    c = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", cents("l_extendedprice").alias("cents")
    )
    return mad_outliers(c, "l_returnflag", "cents", k=3.0, exact=True).select(
        F.col("l_returnflag").alias("returnflag"),
        "n",
        F.col("median").alias("median_cents"),
        F.col("mad").alias("mad_cents"),
        "n_outliers",
        F.col("max_dev").alias("max_dev_cents"),
    )


# --------------------------------------------------------------------------
# 4. Zipf rank-frequency curve in power-of-two rank buckets
# --------------------------------------------------------------------------


@query(
    "q_rank_freq_buckets",
    covers=("X-ZIPF",),
    oracle="""
    WITH tok AS (
        SELECT unnest(list_filter(string_split_regex(text, '\\s+'), w -> w != '')) AS tok
        FROM documents
    ),
    freq AS (
        SELECT tok, count(*) AS freq FROM tok GROUP BY tok
    ),
    ranked AS (
        SELECT tok, freq,
               row_number() OVER (ORDER BY freq DESC, tok ASC) AS rnk
        FROM freq
    )
    SELECT CAST(length(bin(rnk)) AS BIGINT) AS rank_bucket,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(freq) AS BIGINT) AS total_freq,
           CAST(min(freq) AS BIGINT) AS min_freq,
           CAST(max(freq) AS BIGINT) AS max_freq
    FROM ranked
    GROUP BY length(bin(rnk))
    """,
)
def q_rank_freq_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf audit without floats: token frequencies bucketed by
    power-of-two rank (bucket = bit-length of the rank, computed as
    ``length(bin(rank))`` — exact in both engines where
    ``floor(log2())`` can mis-round at boundaries).  A healthy
    natural-language corpus roughly halves ``total_freq`` per bucket;
    a synthetic or boilerplate-heavy corpus shows up as a flat tail.

    Scale shape: one token aggregate (partial+final), then ranking
    the |vocab|-sized frequency table DISTRIBUTED via
    operators/ranks.with_global_index (range-partitioned sort +
    partition-counted offsets — no single-partition window even when
    the vocabulary itself is huge; rank desc is expressed by ordering
    on negated frequency with the token as unique tie-break)."""
    from week4_musemotion_spark.functions.text import tokens
    from week4_musemotion_spark.operators.ranks import with_global_index

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(tokens(F.col("text"))).alias("tok"))
    freq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    ranked = with_global_index(
        freq.withColumn("_negf", -F.col("freq")), ["_negf", "tok"], index_col="_gidx"
    ).select("freq", (F.col("_gidx") + 1).alias("rnk"))
    return (
        ranked.groupBy(F.length(F.bin("rnk")).cast("long").alias("rank_bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("freq").cast("long").alias("total_freq"),
            F.min("freq").cast("long").alias("min_freq"),
            F.max("freq").cast("long").alias("max_freq"),
        )
    )


# --------------------------------------------------------------------------
# 5. Morton-tile layout statistics (Z-order data-skipping audit)
# --------------------------------------------------------------------------

_MORTON_BITS = 8


def _morton_sql(a: str, b: str, bits: int) -> str:
    """DuckDB SQL mirroring :func:`operators.layout.interleave_bits`
    bit-for-bit (``a`` → odd positions, ``b`` → even)."""
    parts = []
    for i in range(bits):
        parts.append(f"((({a} >> {i}) & 1) << {2 * i + 1})")
        parts.append(f"((({b} >> {i}) & 1) << {2 * i})")
    return " | ".join(parts)


@query(
    "q_morton_tiles",
    covers=("X-ZORDER",),
    oracle=f"""
    WITH keyed AS (
        SELECT o_orderkey,
               o_custkey % {1 << _MORTON_BITS} AS xb,
               date_diff('day', DATE '1992-01-01', o_orderdate) % {1 << _MORTON_BITS} AS yb
        FROM orders
    ),
    z AS (
        SELECT o_orderkey, ({_morton_sql("xb", "yb", _MORTON_BITS)}) AS zkey
        FROM keyed
    )
    SELECT CAST(zkey >> {2 * _MORTON_BITS - 6} AS BIGINT) AS tile,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(min(zkey) AS BIGINT) AS min_z,
           CAST(max(zkey) AS BIGINT) AS max_z
    FROM z
    GROUP BY zkey >> {2 * _MORTON_BITS - 6}
    """,
)
def q_morton_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout audit: Morton-interleave (custkey, order-day)
    into a 16-bit z-value via the engine's
    :func:`operators.layout.interleave_bits` expression (pure
    shift/mask tree, whole-stage codegen), then summarize the top-6-
    bit tiles — per tile the row count and z-range.  Writing the
    table range-partitioned and sorted by this key makes BOTH
    ``custkey`` and date predicates prune files via parquet min/max
    stats; this query is the audit that
    shows each tile covers a tight z-range.  Scale: one scan + one
    grouped agg on a 64-value key."""
    from week4_musemotion_spark.operators.layout import interleave_bits

    o = load_table(spark, sf_dir, "orders")
    keyed = o.select(
        (F.col("o_custkey") % (1 << _MORTON_BITS)).alias("xb"),
        (
            F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date"))
            % (1 << _MORTON_BITS)
        ).alias("yb"),
    )
    z = keyed.select(interleave_bits(F.col("xb"), F.col("yb"), _MORTON_BITS).alias("zkey"))
    return (
        z.groupBy(F.shiftright("zkey", 2 * _MORTON_BITS - 6).cast("long").alias("tile"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.min("zkey").cast("long").alias("min_z"),
            F.max("zkey").cast("long").alias("max_z"),
        )
    )


# --------------------------------------------------------------------------
# 6. Fixed-point PageRank over the co-purchase graph
# --------------------------------------------------------------------------

_PR_ITERS = 2
_PR_SCALE = 1_000_000  # rank unit = 1e-6


def _pr_edges_sql() -> str:
    return """
    items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    prs AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
        HAVING count(*) >= 2
    ),
    edges AS (
        SELECT pa AS u, pb AS v FROM prs
        UNION ALL
        SELECT pb AS u, pa AS v FROM prs
    ),
    deg AS (
        SELECT u, count(*) AS d FROM edges GROUP BY u
    )"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The symmetric part co-purchase edge list ``(u, v)``: parts bought
    together in >= 2 orders, one row per direction — the builder twin
    of :func:`_pr_edges_sql`'s ``edges``.  The self-join runs on the
    DISTINCT (order, part) table, never on raw lineitem."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    b = li.select("l_orderkey", F.col("l_partkey").alias("pb"))
    prs = (
        li.join(b, "l_orderkey")
        .filter(F.col("l_partkey") < F.col("pb"))
        .groupBy(F.col("l_partkey").alias("pa"), "pb")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 2)
        .select("pa", "pb")
    )
    return prs.select(F.col("pa").alias("u"), F.col("pb").alias("v")).unionByName(
        prs.select(F.col("pb").alias("u"), F.col("pa").alias("v"))
    )


@query(
    "q_pagerank_parts",
    covers=("X-PAGERANK",),
    oracle=f"""
    WITH {_pr_edges_sql()},
    r1 AS (
        SELECT e.v AS node,
               150000 + sum((85 * ({_PR_SCALE} // d.d)) // 100) AS r
        FROM edges e JOIN deg d ON e.u = d.u
        GROUP BY e.v
    ),
    r2 AS (
        SELECT e.v AS node,
               150000 + sum((85 * (r1.r // d.d)) // 100) AS r
        FROM edges e
        JOIN deg d ON e.u = d.u
        JOIN r1 ON r1.node = e.u
        GROUP BY e.v
    )
    SELECT CAST(r2.node AS BIGINT) AS node,
           CAST(d.d AS BIGINT) AS degree,
           CAST(r2.r AS BIGINT) AS rank_e6
    FROM r2 JOIN deg d ON r2.node = d.u
    ORDER BY r2.r DESC, r2.node ASC
    LIMIT 50
    """,
)
def q_pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (2 power iterations — ``_PR_ITERS``, damping 0.85) over the
    part co-purchase graph (parts bought together in ≥ 2 orders,
    symmetric edges), in FIXED-POINT e6 integer arithmetic: each
    contribution is ``(85 · (r // deg)) // 100`` with truncating
    integer division, so the result is bit-identical regardless of
    partitioning or summation order — the float formulation drifts by
    summation order and cannot be oracle-checked.  The symmetric
    graph has no dangling nodes, so no teleport-mass correction term
    is needed.

    Scale shape: the Pregel pattern as join+agg — rank state keyed by
    node, each iteration one equi-join (edges ⋈ ranks, both hash-
    partitioned on the join key so successive iterations reuse the
    shuffle layout) and one keyed sum; per-iteration cost O(|edges|).
    The candidate-pair stage reuses the basket-affinity shape: the
    self-join runs on the DISTINCT (order, part) table grouped per
    order, never on raw lineitem."""
    edges = _copurchase_edges(spark, sf_dir)
    # the edge table feeds deg, both iterations, and the final degree
    # join — pin the pair-generation lineage so it executes once, not
    # once per consumer branch (same idiom as q_kcore_parts; modest
    # here — 3.8s -> 3.4s at sf0.1, pair-gen itself dominates — but
    # at fact scale each avoided re-execution is a full extra shuffle)
    edges = edges.localCheckpoint(eager=False)
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    ed = edges.join(deg, "u")
    ranks = deg.select(F.col("u").alias("node"), F.lit(_PR_SCALE).cast("long").alias("r"))
    for _ in range(_PR_ITERS):
        contrib = ed.join(ranks, ed["u"] == ranks["node"]).select(
            "v", _int_div(F.lit(85) * _int_div(F.col("r"), F.col("d")), F.lit(100)).alias("c")
        )
        ranks = contrib.groupBy(F.col("v").alias("node")).agg(
            (F.lit(150000) + F.sum("c")).cast("long").alias("r")
        )
    return (
        ranks.join(deg, ranks["node"] == deg["u"])
        .select(
            F.col("node").cast("long").alias("node"),
            F.col("d").cast("long").alias("degree"),
            F.col("r").cast("long").alias("rank_e6"),
        )
        .orderBy(F.col("rank_e6").desc(), F.col("node").asc())
        .limit(50)
    )


# --------------------------------------------------------------------------
# 7. Bounded-round k-core peeling + degree histogram
# --------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_ROUNDS = 3


def _kcore_round_sql(i: int) -> str:
    """One peel round as CTEs: degrees over e{i}, survivors, and the
    induced edge set e{i+1}."""
    return f"""
    d{i} AS (SELECT u, count(*) AS deg FROM e{i} GROUP BY u),
    a{i} AS (SELECT u FROM d{i} WHERE deg >= {_KCORE_K}),
    e{i + 1} AS (
        SELECT e.u, e.v FROM e{i} e
        JOIN a{i} x ON e.u = x.u
        JOIN a{i} y ON e.v = y.u
    )"""


@query(
    "q_kcore_parts",
    covers=("X-KCORE",),
    oracle=f"""
    WITH {_pr_edges_sql()},
    e0 AS (SELECT u, v FROM edges),
    {",".join(_kcore_round_sql(i) for i in range(_KCORE_ROUNDS))},
    fin AS (SELECT u, count(*) AS deg FROM e{_KCORE_ROUNDS} GROUP BY u)
    SELECT CAST(u AS BIGINT) AS node, CAST(deg AS BIGINT) AS degree
    FROM fin
    """,
)
def q_kcore_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-round 3-peel k-core (k=3; ``_KCORE_ROUNDS``/``_KCORE_K``) of the
    co-purchase graph: each round drops nodes with degree < k and the
    edges they carried; the surviving dense core is the
    recommendation-quality subgraph (peripheral one-off pairings
    peel away).  Fixed round count makes the operator oracle-
    expressible (unrolled CTEs) and gives the production contract an
    explicit convergence budget — at scale the same loop runs to
    fixpoint with a stopping condition on the peeled count, each
    round one keyed degree-agg plus two semi-joins (never quadratic;
    the edge set only shrinks).  Emits the post-final-round nodes
    with their induced degree.

    SF note: at sf0.01 the dense core holds ~1000 nodes; at sf0.1 the
    part space grows 10× while orders/part stays constant, repeat
    co-purchase pairs thin out, and the correct 3-core is EMPTY — the
    hash-verified empty result is the audit saying "no dense core",
    not a defect."""
    edges = _copurchase_edges(spark, sf_dir)
    # each round consumes its edge set TWICE (degree agg + the induced
    # semi-join) and every round builds on the last — without lineage
    # truncation the expensive pair-generation subtree re-executes per
    # branch per round (measured 8.3s -> 2.5s at sf0.1).  Same idiom
    # as the iterative connected-components operator (operators/
    # graph.py): checkpoint per round, lineage stays one round deep.
    edges = edges.localCheckpoint(eager=False)
    for _ in range(_KCORE_ROUNDS):
        deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
        alive = deg.filter(F.col("deg") >= _KCORE_K).select("u")
        edges = (
            edges.join(alive, "u", "left_semi")
            .join(alive.withColumnRenamed("u", "v"), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=False)
        )
    return edges.groupBy(F.col("u").cast("long").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )


@query(
    "q_degree_histogram",
    covers=("X-DEGREE-HIST",),
    oracle=f"""
    WITH {_pr_edges_sql()}
    SELECT CAST(length(bin(d)) AS BIGINT) AS degree_bucket,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(d) AS BIGINT) AS min_degree,
           CAST(max(d) AS BIGINT) AS max_degree
    FROM deg
    GROUP BY length(bin(d))
    """,
)
def q_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph in power-of-two
    buckets (bit-length bucketing, exact in both engines) — the
    first thing to look at before running any graph algorithm at
    scale: a heavy-tailed histogram predicts skewed joins (salt the
    hubs), a flat one predicts uniform partitioning.  One keyed
    degree aggregate plus one bucket aggregate over the |nodes|-sized
    degree table."""
    edges = _copurchase_edges(spark, sf_dir)
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    return deg.groupBy(F.length(F.bin("d")).cast("long").alias("degree_bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.min("d").cast("long").alias("min_degree"),
        F.max("d").cast("long").alias("max_degree"),
    )


# --------------------------------------------------------------------------
# 8. Bounded-round label propagation (community detection)
# --------------------------------------------------------------------------

_LP_ROUNDS = 3


def _lp_round_sql(i: int) -> str:
    """One min-label round as a CTE: each node takes the minimum of
    its own label and its neighbors' labels."""
    return f"""
    l{i + 1} AS (
        SELECT l.node, least(l.lab, m.mn) AS lab
        FROM l{i} l JOIN (
            SELECT e.v AS node, min(n.lab) AS mn
            FROM edges e JOIN l{i} n ON n.node = e.u
            GROUP BY e.v
        ) m ON l.node = m.node
    )"""


@query(
    "q_label_prop",
    covers=("X-LABELPROP",),
    oracle=f"""
    WITH {_pr_edges_sql()},
    l0 AS (SELECT u AS node, u AS lab FROM deg),
    {",".join(_lp_round_sql(i) for i in range(_LP_ROUNDS))}
    SELECT CAST(node AS BIGINT) AS node, CAST(lab AS BIGINT) AS label
    FROM l{_LP_ROUNDS}
    """,
)
def q_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-round min-label propagation (3 rounds — ``_LP_ROUNDS``)
    over the part co-purchase graph: every node starts labeled with
    its own id and each round adopts the minimum label in its closed
    neighborhood — after r rounds, labels identify communities up to
    radius r (run to fixpoint it converges to connected components;
    the pointer-jumping operator in operators/graph.py gets there in
    O(log n) rounds, this is the cheap local variant used for
    community seeding).  Min-label update is deterministic — no vote
    counting, no tie RNG — which is what makes it oracle-expressible
    as unrolled CTEs.

    Scale shape per round: one edges⋈labels equi-join + one keyed min
    — O(|edges|), hash-partitioned on the node key so successive
    rounds reuse the shuffle layout; per-round ``localCheckpoint``
    keeps lineage one round deep (branch-reuse idiom, see
    q_kcore_parts)."""
    edges = _copurchase_edges(spark, sf_dir)
    edges = edges.localCheckpoint(eager=False)
    labels = edges.select(F.col("u").alias("node")).distinct().withColumn("lab", F.col("node"))
    for _ in range(_LP_ROUNDS):
        nb_min = (
            edges.join(labels.withColumnRenamed("node", "u"), "u")
            .groupBy(F.col("v").alias("node"))
            .agg(F.min("lab").alias("mn"))
        )
        labels = (
            labels.join(nb_min, "node")
            .select("node", F.least(F.col("lab"), F.col("mn")).alias("lab"))
            .localCheckpoint(eager=False)
        )
    return labels.select(
        F.col("node").cast("long").alias("node"), F.col("lab").cast("long").alias("label")
    )
