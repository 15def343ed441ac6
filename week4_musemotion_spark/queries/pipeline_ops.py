"""Pipeline-utility queries: deterministic hash sampling / splits and
one-pass data profiling — the reproducibility and hygiene layer of a
training-data pipeline, oracle-checked like everything else."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from week4_musemotion_spark.functions.exact import avg_money_sql, cents_sql, sum_money_sql
from week4_musemotion_spark.functions.hashing import stable_hash64_sql
from week4_musemotion_spark.operators.incremental import aggregate_state, finalize, merge_states
from week4_musemotion_spark.operators.profiling import profile
from week4_musemotion_spark.operators.sampling import GRANULARITY, hash_sample
from week4_musemotion_spark.operators.textstats import QUALITY_STOPWORDS

_Q_STOPLIST = ", ".join(f"'{w}'" for w in QUALITY_STOPWORDS)
from week4_musemotion_spark.queries.registry import query
from week4_musemotion_spark.queries.extensions import _quality_e4_sql
from week4_musemotion_spark.sources.sinks import cached_fixture, read_manifest
from week4_musemotion_spark.sources.tables import load_table

_cents_tp = cents_sql("o_totalprice")


_BUCKET_SQL = f"({stable_hash64_sql('CAST(o_orderkey AS VARCHAR)')} % {GRANULARITY})"


@query(
    "q_hash_sample",
    covers=("X-SAMPLE",),
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE {_BUCKET_SQL} < 100
    """,
)
def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% sample keyed on the order key — membership
    is a pure function of the key (stable across re-runs, engines,
    and repartitioning; ``df.sample``'s per-partition RNG is none of
    those), which is what makes train/test splits leak-proof."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    return hash_sample(o, "o_orderkey", 0.10)


@query(
    "q_term_stats",
    covers=("X-TFIDF",),
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'), w -> w != '')) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1)
    SELECT t.doc_id, t.term, t.tf, d.df
    FROM tf t JOIN df d ON t.term = d.term
    WHERE t.tf >= 5
    """,
)
def q_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term frequency / document frequency — the exact integer
    sufficient statistics of TF-IDF (the idf log itself is left to
    consumers: libm last-ulp differences make logs non-portable,
    while tf/df are exact).  Two aggregates over one exploded token
    table; the df side is a broadcast-sized term dictionary."""
    from pyspark.sql import functions as F

    from week4_musemotion_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    return tf.filter(F.col("tf") >= 5).join(F.broadcast(df_), "term").select(
        "doc_id", "term", "tf", "df"
    )


@query(
    "q_histogram",
    covers=("X-HISTOGRAM",),
    oracle="""
    SELECT CAST(least(16, floor(o_totalprice / 30000.0)) AS BIGINT) AS bucket,
           count(*) AS cnt
    FROM orders
    GROUP BY 1
    """,
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram with constant bounds (0..510k, 30k
    buckets, top bucket clamped).  Constant bounds keep the bucket
    function a pure per-row expression — a data-dependent min/max
    would add a pre-pass; identical double division + floor on both
    engines keeps it oracle-exact."""
    from pyspark.sql import functions as F

    o = load_table(spark, sf_dir, "orders")
    bucket = F.least(F.lit(16), F.floor(F.col("o_totalprice") / 30000.0)).cast("long")
    return o.groupBy(bucket.alias("bucket")).agg(F.count("*").alias("cnt"))


@query(
    "q_profile",
    covers=("X-PROFILE",),
    oracle="""
    SELECT 'l_quantity' AS column, count(*) AS n_rows,
           count(*) - count(l_quantity) AS n_nulls,
           count(DISTINCT l_quantity) AS n_distinct,
           CAST(min(l_quantity) AS DOUBLE) AS min_value,
           CAST(max(l_quantity) AS DOUBLE) AS max_value
    FROM lineitem
    UNION ALL
    SELECT 'l_returnflag', count(*), count(*) - count(l_returnflag),
           count(DISTINCT l_returnflag), NULL, NULL
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', count(*), count(*) - count(l_extendedprice),
           count(DISTINCT l_extendedprice),
           CAST(min(l_extendedprice) AS DOUBLE), CAST(max(l_extendedprice) AS DOUBLE)
    FROM lineitem
    """,
)
def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass per-column profile (rows/nulls/distincts/min/max)
    over a lineitem projection — the ingest hygiene report."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_returnflag", "l_extendedprice"
    )
    return profile(li)


# ---------------------------------------------------------------------------
# Lexical top-k retrieval (tf-idf scoring with integer idf)
# ---------------------------------------------------------------------------

#: the fixed "search query": one rare term, two common ones
_SEARCH_TERMS = ("dup", "join", "scan")
_TERMS_SQL = ", ".join(f"'{t}'" for t in _SEARCH_TERMS)


@query(
    "q_doc_search",
    covers=("X-SEARCH", "X-TFIDF"),
    oracle=f"""
    WITH tok AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(text, '\\s+'), w -> w != ''))
                   AS term
        FROM documents
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    dfreq AS (
        SELECT term, count(DISTINCT doc_id) AS df
        FROM tok WHERE term IN ({_TERMS_SQL}) GROUP BY term
    ),
    tf AS (
        SELECT doc_id, term, count(*) AS tf
        FROM tok WHERE term IN ({_TERMS_SQL}) GROUP BY doc_id, term
    )
    SELECT t.doc_id,
           CAST(sum(t.tf * ((SELECT n_docs FROM n) * 1000 // d.df)) AS BIGINT)
               AS score,
           count(*) AS n_terms_hit
    FROM tf t JOIN dfreq d ON t.term = d.term
    GROUP BY t.doc_id
    ORDER BY score DESC, t.doc_id
    LIMIT 20
    """,
)
def q_doc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical top-k document retrieval: score documents against a
    fixed term set by tf × idf and return the 20 best — the search
    primitive of corpus curation (find training docs about X).

    The idf is the *integer* rarity weight ``(N·1000) div df`` rather
    than the usual ``log(N/df)``: libm ``log`` differs in the last
    ulp across engines, while integer division is exactly portable —
    same monotone ordering for single-term queries and a documented,
    reproducible blend for multi-term ones.  Plan shape: tokenize →
    explode → filter to the query terms (the filter lands *before*
    the tf aggregate, so only matching tokens shuffle — at 100 TB
    the exploded token stream never materializes beyond the scan
    stage), tiny df dictionary broadcast back onto tf, score, top-20
    via TakeOrderedAndProject.  The corpus-wide doc count joins in as
    a 1-row broadcast, keeping the whole pipeline lazy (no driver
    ``count()``).  Ref capability: the dashboard's text-filter lookup
    (streamlit_app.py IN-list filters) lifted to ranked retrieval."""
    from pyspark.sql import functions as F

    from week4_musemotion_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    ).filter(F.col("term").isin(*_SEARCH_TERMS))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    return (
        tf.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(n))
        .withColumn("w", F.expr("tf * ((n_docs * 1000) div df)"))
        .groupBy("doc_id")
        .agg(
            F.sum("w").alias("score"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
        .orderBy(F.desc("score"), "doc_id")
        .limit(20)
    )

@query(
    "q_incremental_agg",
    covers=("X-INCREMENTAL", "A2"),
    oracle=f"""
    SELECT o_orderpriority, o_orderstatus,
           count({_cents_tp}) AS cnt,
           {sum_money_sql("o_totalprice")} AS sum_cents,
           CAST(min({_cents_tp}) AS BIGINT) AS min_cents,
           CAST(max({_cents_tp}) AS BIGINT) AS max_cents,
           {avg_money_sql("o_totalprice")} AS avg_cents
    FROM orders
    GROUP BY o_orderpriority, o_orderstatus
    """,
)
def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance: the rollup is computed as
    state(base) ⊕ state(delta) — two independent partial-aggregate
    batches merged and finalized (operators.incremental) — and must
    equal the oracle's direct GROUP BY over the full table.

    Scale note: the merge shuffles only |groups|×|batches| state rows,
    so folding a nightly delta into a 100 TB history is O(delta), not
    O(history) — the scale-correct replacement for the reference's
    full-replace reload (pipeline.py:163-170)."""
    from pyspark.sql import functions as F

    o = load_table(spark, sf_dir, "orders")
    keys = ("o_orderpriority", "o_orderstatus")
    base = o.filter(F.col("o_orderkey") % 5 != 0)
    delta = o.filter(F.col("o_orderkey") % 5 == 0)
    merged = merge_states(
        aggregate_state(base, keys, "o_totalprice"),
        aggregate_state(delta, keys, "o_totalprice"),
    )
    return finalize(merged)


@query(
    "q_excel_source",
    covers=("S4",),
    oracle="""
    SELECT CAST(r_regionkey AS VARCHAR) AS region_key, r_name AS region_name
    FROM region
    """,
)
def q_excel_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Excel ingestion end-to-end (SURVEY §2 S4, reference
    streamlit_app.py:30-77): the region dim is exported to a real
    .xlsx workbook (stdlib OOXML codec) with a junk pre-header row, a
    perturbed header, and a stray extra column; the Excel source must
    auto-detect the header row, fuzzy-map the columns, and recover
    exactly the table the oracle reads from parquet.  Workbooks are
    driver-side artifacts by nature — the 5-row collect here is the
    export fixture, not a data-path collect."""
    import os

    from week4_musemotion_spark.sources.excel import read_excel_auto_header
    from week4_musemotion_spark.sources.xlsx_lite import write_xlsx

    def _build(tmp: str) -> None:
        rows = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name").collect()
        grid = [
            ["MuseMotion export", "", ""],
            [" Region Key ", "Region  Name", "Column1"],
            *[[str(r[0]), str(r[1]), ""] for r in rows],
        ]
        os.makedirs(tmp)
        write_xlsx(os.path.join(tmp, "region.xlsx"), grid)

    out = cached_fixture("musemotion_xlsx", sf_dir, b"excel_source", _build, table="region")
    return read_excel_auto_header(
        spark, os.path.join(out, "region.xlsx"), expected=["region_key", "region_name"]
    )


@query(
    "q_jsonl_source",
    covers=("S2", "X-JSONL"),
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
)
def q_jsonl_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines ingestion end-to-end: the nation dim is exported to
    a .jsonl file (driver-side fixture, 25-row dim) and re-read with
    an EXPLICIT schema — at scale schema inference costs a full extra
    pass over the data and silently widens types, so production JSONL
    reads always pin the schema.  Oracle reads the same rows from
    parquet."""
    import json
    import os

    def _build(tmp: str) -> None:
        rows = (
            load_table(spark, sf_dir, "nation")
            .select("n_nationkey", "n_name", "n_regionkey")
            .collect()
        )
        os.makedirs(tmp)
        with open(os.path.join(tmp, "nation.jsonl"), "w") as fh:
            for r in rows:
                fh.write(json.dumps({"n_nationkey": r[0], "n_name": r[1], "n_regionkey": r[2]}) + "\n")

    out = cached_fixture("musemotion_jsonl", sf_dir, b"jsonl_source", _build, table="nation")
    return spark.read.schema("n_nationkey long, n_name string, n_regionkey long").json(
        os.path.join(out, "nation.jsonl")
    )


@query(
    "q_funnel",
    covers=("X-FUNNEL",),
    oracle="""
    WITH v AS (
        SELECT user_id, min(epoch_us(ts)) AS t_view
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    p AS (
        SELECT user_id, min(epoch_us(ts)) AS t_purchase
        FROM events WHERE event_type = 'purchase' GROUP BY user_id
    )
    SELECT v.user_id, v.t_view, p.t_purchase,
           p.t_purchase - v.t_view AS delta_us
    FROM v JOIN p ON v.user_id = p.user_id
    WHERE p.t_purchase >= v.t_view
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel: users whose first purchase follows their
    first view, with the exact integer-µs conversion delay.  Two
    filtered partial aggregates on the same scan, then a keyed join
    of two already-small per-user tables — the fact table shuffles
    once per stage, never row-by-row."""
    from week4_musemotion_spark.functions.eventtime import epoch_micros

    e = load_table(spark, sf_dir, "events")
    e = e.withColumn("tsu", epoch_micros(e))
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("tsu").alias("t_view"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("tsu").alias("t_purchase"))
    )
    return (
        v.join(p, "user_id")
        .filter(F.col("t_purchase") >= F.col("t_view"))
        .select(
            "user_id",
            "t_view",
            "t_purchase",
            (F.col("t_purchase") - F.col("t_view")).alias("delta_us"),
        )
    )


@query(
    "q_retention_cohorts",
    covers=("X-RETENTION",),
    oracle="""
    WITH uw AS (
        SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS week
        FROM events
    )
    SELECT a.week,
           count(*) AS active_users,
           count(b.user_id) AS retained_next_week
    FROM uw a LEFT JOIN uw b
      ON a.user_id = b.user_id AND b.week = a.week + 1
    GROUP BY a.week
    """,
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week retention: distinct (user, week) activity, then
    a self-join shifted one week — the cohort primitive.  The
    distinct shrinks the fact to |users|×|weeks| before any join, so
    the self-join runs on the small derived table; week buckets are
    integer division of epoch-µs (engine-exact)."""
    from week4_musemotion_spark.functions.eventtime import epoch_micros

    e = load_table(spark, sf_dir, "events")
    # integer div, not float `/`: a double quotient can round up across
    # an exact week boundary before the cast truncates
    uw = (
        e.withColumn("tsu", epoch_micros(e))
        .select("user_id", F.expr("tsu div 604800000000").alias("week"))
        .distinct()
    )
    b = uw.select(F.col("user_id"), (F.col("week") - 1).alias("week"), F.lit(1).alias("_r"))
    return (
        uw.join(b, ["user_id", "week"], "left")
        .groupBy("week")
        .agg(
            F.count("*").alias("active_users"),
            F.count("_r").alias("retained_next_week"),
        )
    )


@query(
    "q_weighted_sample",
    covers=("X-WEIGHTED-SAMPLE",),
    oracle=f"""
    WITH tok AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS ts
        FROM documents
    ),
    f AS (
        SELECT doc_id, len(ts) AS n_tokens,
               len(list_filter(ts, w -> w IN ({_Q_STOPLIST}))) AS stop_cnt
        FROM tok WHERE len(ts) > 0
    ),
    q AS (
        SELECT doc_id,
               CAST({_quality_e4_sql("n_tokens", "stop_cnt")} AS BIGINT) AS quality_e4
        FROM f
    )
    SELECT doc_id, quality_e4 FROM q
    WHERE {stable_hash64_sql("CAST(doc_id AS VARCHAR)")} % 10000
          < least(quality_e4, 10000)
    """,
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted Bernoulli sample: each document's inclusion
    probability IS its quality score (e4 integer), decided by a pure
    hash of its key — the corpus-mixing primitive that up-weights
    good documents with zero RNG state, zero shuffle (a filter), and
    row-for-row reproducibility across engines and re-runs.  Compare
    ``df.sample``: per-partition RNG, unweighted, unreproducible."""
    from week4_musemotion_spark.operators.sampling import weighted_hash_sample
    from week4_musemotion_spark.operators.textstats import quality_stats

    d = load_table(spark, sf_dir, "documents")
    scored = quality_stats(d).filter(F.col("n_tokens") > 0)
    return weighted_hash_sample(scored, "doc_id", "quality_e4").select("doc_id", "quality_e4")


@query(
    "q_orc_roundtrip",
    covers=("S2", "X-ORC"),
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
    GROUP BY l_returnflag
    """,
)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC ingestion end-to-end: a filtered lineitem projection is
    written to ORC (Spark's second native columnar format — the
    interchange path when an upstream warehouse emits ORC instead of
    parquet), re-read, and aggregated; the oracle computes the same
    aggregate from the original parquet, so write+read round-trip
    fidelity is value-hash-checked.  The fixture is a
    ``cached_fixture`` keyed by the source lineitem files and the
    code, so steady-state runs only pay the read.  Scale
    note: the roundtrip inherits parquet's scan properties (columnar
    projection, predicate pushdown on stripe stats); the filter is
    applied BEFORE the write so the fixture holds exactly the audited
    subset."""
    from week4_musemotion_spark.functions.exact import sum_money

    out = cached_fixture(
        "musemotion_orc",
        sf_dir,
        b"orc_roundtrip",
        lambda tmp: (
            load_table(spark, sf_dir, "lineitem")
            .filter(F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            .select("l_returnflag", "l_extendedprice")
            .write.mode("overwrite")
            .orc(tmp)
        ),
        table="lineitem",
    )
    back = spark.read.orc(out)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        sum_money("l_extendedprice").alias("revenue_cents"),
    )


@query(
    "q_partitioned_roundtrip",
    covers=("X-PARTITIONED-LAKE",),
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars_sum
    FROM documents
    WHERE lang = 'en'
    GROUP BY source
    """,
)
def q_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned lake layout end-to-end: documents are written
    ``partitionBy("lang")`` (the layout a 100 TB corpus actually
    lives in — one directory family per language), re-read with a
    ``lang = 'en'`` predicate, and aggregated per source; the oracle
    computes the same numbers from the original parquet, so the
    partitioned write+read round-trips value-exactly (including the
    partition column's string→value round-trip through directory
    names).

    The point at scale: the lang filter is satisfied by PARTITION
    PRUNING — non-matching directories are never opened (pinned by
    ``tests/test_plans.py::test_partitioned_write_prunes_directories``)
    — and the per-partition writes are the unit of incremental
    refresh (rewrite one lang, leave the rest).  The fixture is a
    ``cached_fixture``, like q_orc_roundtrip's."""
    out = cached_fixture(
        "musemotion_partitioned",
        sf_dir,
        b"partitioned",
        lambda tmp: (
            load_table(spark, sf_dir, "documents")
            .write.mode("overwrite")
            .partitionBy("lang")
            .parquet(tmp)
        ),
    )
    back = spark.read.parquet(out).filter(F.col("lang") == "en")
    return back.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars_sum"),
    )


@query(
    "q_dq_violations",
    covers=("X-DQ-AUDIT",),
    oracle="""
    SELECT 'orphan_lineitem' AS rule,
           CAST(count(*) FILTER (o.o_orderkey IS NULL) AS BIGINT) AS n_violations,
           CAST(count(*) AS BIGINT) AS n_checked
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'nonpositive_quantity',
           CAST(count(*) FILTER (l_quantity <= 0) AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'blank_document_text',
           CAST(count(*) FILTER (text IS NULL OR trim(text) = '') AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM documents
    UNION ALL
    SELECT 'duplicate_event_id',
           CAST(count(*) - count(DISTINCT event_id) AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'future_orderdate',
           CAST(count(*) FILTER (o_orderdate > TIMESTAMP '1998-12-31') AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM orders
    """,
)
def q_dq_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table data-quality audit — one row per constraint with
    violation and population counts: referential orphans (lineitems
    whose order is missing — LEFT-join-null form so violations and
    population come from ONE pass), domain violations (non-positive
    quantities, future order dates), blank documents, and key
    duplication (count minus count-distinct).  This is the
    contract-check stage a pipeline runs before promoting a batch.

    Scale shape: each rule is one scan-plus-aggregate (the orphan
    check a shuffled count-distinct-free outer join on the fact key);
    rules over different tables run as independent stages and union
    five 1-row aggregates — nothing global, nothing quadratic."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    docs = load_table(spark, sf_dir, "documents")
    ev = load_table(spark, sf_dir, "events")

    orphan = (
        li.select("l_orderkey")
        .join(o.select("o_orderkey"), li["l_orderkey"] == o["o_orderkey"], "left")
        .agg(
            F.count(F.when(F.col("o_orderkey").isNull(), 1)).cast("long").alias("n_violations"),
            F.count(F.lit(1)).cast("long").alias("n_checked"),
        )
        .select(F.lit("orphan_lineitem").alias("rule"), "n_violations", "n_checked")
    )
    nonpos = li.agg(
        F.count(F.when(F.col("l_quantity") <= 0, 1)).cast("long").alias("n_violations"),
        F.count(F.lit(1)).cast("long").alias("n_checked"),
    ).select(F.lit("nonpositive_quantity").alias("rule"), "n_violations", "n_checked")
    blank = docs.agg(
        F.count(F.when(F.col("text").isNull() | (F.trim("text") == ""), 1))
        .cast("long")
        .alias("n_violations"),
        F.count(F.lit(1)).cast("long").alias("n_checked"),
    ).select(F.lit("blank_document_text").alias("rule"), "n_violations", "n_checked")
    dup = ev.agg(
        (F.count(F.lit(1)) - F.count_distinct(F.col("event_id")))
        .cast("long")
        .alias("n_violations"),
        F.count(F.lit(1)).cast("long").alias("n_checked"),
    ).select(F.lit("duplicate_event_id").alias("rule"), "n_violations", "n_checked")
    future = o.agg(
        F.count(F.when(F.col("o_orderdate") > F.lit("1998-12-31").cast("timestamp"), 1))
        .cast("long")
        .alias("n_violations"),
        F.count(F.lit(1)).cast("long").alias("n_checked"),
    ).select(F.lit("future_orderdate").alias("rule"), "n_violations", "n_checked")
    return orphan.unionByName(nonpos).unionByName(blank).unionByName(dup).unionByName(future)


@query(
    "q_cdc_apply",
    covers=("K4", "X-CDC"),
    oracle="""
    WITH base AS (
        SELECT o_orderkey AS k, o_custkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        FROM orders WHERE o_orderkey % 4 != 3
    ),
    chg AS (
        SELECT o_orderkey AS k, o_custkey,
               CAST(round(o_totalprice * 100) AS BIGINT) + 500 AS price_cents,
               CASE WHEN o_orderkey % 8 = 1 THEN 'D' ELSE 'U' END AS op
        FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT k, o_custkey, price_cents FROM chg WHERE op = 'U'
    UNION ALL
    SELECT b.k, b.o_custkey, b.price_cents
    FROM base b LEFT JOIN chg c ON b.k = c.k
    WHERE c.k IS NULL
    """,
)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC merge (SURVEY §2 K4 generalized to deletes): a synthetic
    change log — upserts with a +500-cent price revision, deletes for
    every key ≡1 (mod 8), inserts for keys absent from the snapshot —
    applied to a snapshot of orders via operators/upsert.apply_cdc
    (latest-change-wins window + delete filter, one shuffle on the
    key).  The oracle is the INDEPENDENT set-algebra formulation
    (surviving changes UNION unchanged snapshot keys via anti-join),
    so an implementation bug in either formulation breaks the hash.
    Deletes of absent keys are no-ops on both sides.  All values in
    exact integer cents."""
    from week4_musemotion_spark.functions.exact import cents
    from week4_musemotion_spark.operators.upsert import apply_cdc

    o = load_table(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderkey") % 4 != 3).select(
        F.col("o_orderkey").alias("k"), "o_custkey", cents("o_totalprice").alias("price_cents")
    )
    chg = o.filter(F.col("o_orderkey") % 2 == 1).select(
        F.col("o_orderkey").alias("k"),
        "o_custkey",
        (cents("o_totalprice") + 500).alias("price_cents"),
        F.when(F.col("o_orderkey") % 8 == 1, "D").otherwise("U").alias("op"),
    )
    return apply_cdc(base, chg, ["k"])


@query(
    "q_key_skew_audit",
    covers=("X-SKEW-AUDIT",),
    oracle="""
    WITH f AS (SELECT l_partkey, count(*) AS freq FROM lineitem GROUP BY l_partkey)
    SELECT CAST(length(bin(freq)) AS BIGINT) AS freq_bucket,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(freq) AS BIGINT) AS n_rows,
           CAST(min(freq) AS BIGINT) AS min_freq,
           CAST(max(freq) AS BIGINT) AS max_freq
    FROM f GROUP BY length(bin(freq))
    """,
)
def q_key_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew audit: the frequency-of-frequencies histogram of
    the fact table's join key (l_partkey) in power-of-two buckets —
    the number to look at BEFORE shuffling a fact⋈fact join: a heavy
    top bucket says salt those keys (operators/skew.py) or lean on
    AQE's skew-join split, a flat histogram says plain hash
    partitioning is fine.  Two keyed aggregates (key counts → bucket
    rollup); the second runs on the |keys|-sized frame, and bit-
    length bucketing is exact in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    f = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("freq"))
    return f.groupBy(F.length(F.bin("freq")).cast("long").alias("freq_bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("freq").cast("long").alias("n_rows"),
        F.min("freq").cast("long").alias("min_freq"),
        F.max("freq").cast("long").alias("max_freq"),
    )


@query(
    "q_snapshot_diff",
    covers=("X-SNAPSHOT-DIFF",),
    oracle="""
    WITH v1 AS (
        SELECT o_orderkey AS k, o_orderstatus AS status,
               CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        FROM orders WHERE o_orderkey % 5 != 4
    ),
    v2 AS (
        SELECT o_orderkey AS k, o_orderstatus AS status,
               CAST(round(o_totalprice * 100) AS BIGINT)
                   + CASE WHEN o_orderkey % 3 = 0 THEN 100 ELSE 0 END AS price_cents
        FROM orders WHERE o_orderkey % 7 != 6
    ),
    d AS (
        SELECT coalesce(v1.status, v2.status) AS status,
               CASE WHEN v1.k IS NULL THEN 'added'
                    WHEN v2.k IS NULL THEN 'removed'
                    WHEN v1.price_cents != v2.price_cents THEN 'changed'
                    ELSE 'unchanged' END AS kind
        FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k
    )
    SELECT status,
           CAST(count(*) FILTER (kind = 'added') AS BIGINT) AS n_added,
           CAST(count(*) FILTER (kind = 'removed') AS BIGINT) AS n_removed,
           CAST(count(*) FILTER (kind = 'changed') AS BIGINT) AS n_changed,
           CAST(count(*) FILTER (kind = 'unchanged') AS BIGINT) AS n_unchanged
    FROM d GROUP BY status
    """,
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff — the audit between two snapshots that
    answers "what did last night's refresh actually do": per status,
    how many rows were added, removed, changed (value drift on the
    same key), or unchanged.  The two versions are synthesized
    deterministically from orders (disjoint modular drops + a price
    revision on keys ≡0 mod 3) so the query is self-contained; the
    operator shape — one FULL OUTER join on the snapshot key feeding a
    classification aggregate — is exactly what runs between v_<n-1>
    and v_<n>.  All prices in exact integer cents; one key-partitioned
    shuffle."""
    from week4_musemotion_spark.functions.exact import cents

    o = load_table(spark, sf_dir, "orders")
    v1 = o.filter(F.col("o_orderkey") % 5 != 4).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status1"),
        cents("o_totalprice").alias("p1"),
    )
    v2 = o.filter(F.col("o_orderkey") % 7 != 6).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status2"),
        (cents("o_totalprice") + F.when(F.col("o_orderkey") % 3 == 0, 100).otherwise(0)).alias("p2"),
    )
    kind = (
        F.when(F.col("p1").isNull(), "added")
        .when(F.col("p2").isNull(), "removed")
        .when(F.col("p1") != F.col("p2"), "changed")
        .otherwise("unchanged")
    )
    d = v1.join(v2, "k", "full_outer").select(
        F.coalesce(F.col("status1"), F.col("status2")).alias("status"), kind.alias("kind")
    )
    return d.groupBy("status").agg(
        F.count(F.when(F.col("kind") == "added", 1)).cast("long").alias("n_added"),
        F.count(F.when(F.col("kind") == "removed", 1)).cast("long").alias("n_removed"),
        F.count(F.when(F.col("kind") == "changed", 1)).cast("long").alias("n_changed"),
        F.count(F.when(F.col("kind") == "unchanged", 1)).cast("long").alias("n_unchanged"),
    )


@query(
    "q_join_cardinality_estimate",
    covers=("X-JOIN-CARD-EST",),
    oracle="""
    WITH fa AS (SELECT o_orderkey AS k, count(*) AS f FROM orders
                WHERE o_orderstatus = 'F' GROUP BY o_orderkey),
    fb AS (SELECT l_orderkey AS k, count(*) AS f FROM lineitem GROUP BY l_orderkey),
    est AS (SELECT CAST(sum(fa.f * fb.f) AS BIGINT) AS predicted
            FROM fa JOIN fb ON fa.k = fb.k),
    act AS (SELECT CAST(count(*) AS BIGINT) AS actual
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            WHERE o.o_orderstatus = 'F')
    SELECT est.predicted, act.actual,
           CAST(CASE WHEN est.predicted = act.actual THEN 1 ELSE 0 END AS INTEGER)
               AS exact_match
    FROM est CROSS JOIN act
    """,
)
def q_join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality prediction from key-frequency sketches:
    |A⋈B| = Σ_k f_A(k)·f_B(k) — computed here EXACTLY from the two
    per-key count tables, which is what a CBO approximates with
    count-min/histograms; the query emits predicted vs actual (equal
    by identity, asserted in-row) as the audit that the estimator's
    exact form is wired correctly before sketch error is layered on.
    Shape: two keyed counts + one join over the (much smaller)
    key-frequency tables — the estimate costs a fraction of the join
    it predicts, which is the whole point at 100 TB (run the
    estimator, THEN decide broadcast/shuffle/salt)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = load_table(spark, sf_dir, "lineitem")
    fa = o.groupBy(F.col("o_orderkey").alias("k")).agg(F.count(F.lit(1)).alias("fa"))
    fb = li.groupBy(F.col("l_orderkey").alias("k")).agg(F.count(F.lit(1)).alias("fb"))
    est = fa.join(fb, "k").agg(
        F.sum(F.col("fa") * F.col("fb")).cast("long").alias("predicted")
    )
    act = o.join(li, o.o_orderkey == li.l_orderkey).agg(
        F.count(F.lit(1)).cast("long").alias("actual")
    )
    return est.crossJoin(act).select(
        "predicted",
        "actual",
        F.when(F.col("predicted") == F.col("actual"), 1).otherwise(0).cast("int").alias("exact_match"),
    )


def _card_counts(df: DataFrame) -> DataFrame:
    """The manifest body for the partitioned corpus export: per-shard
    volume counts (the countable core of q_data_card)."""
    return df.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars_sum"),
    )


def _export_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Cached manifest-driven export of the documents table
    (``sinks.export_with_manifest``, partitioned by (source, lang)) —
    shared by every export-audit query so the write cost is paid once
    per testdata generation."""
    from week4_musemotion_spark.sources.sinks import export_with_manifest

    return cached_fixture(
        "musemotion_export",
        sf_dir,
        b"export_manifest",
        lambda tmp: export_with_manifest(load_table(spark, sf_dir, "documents"), tmp, _card_counts),
    )


@query(
    "q_export_manifest_audit",
    covers=("X-EXPORT-MANIFEST",),
    oracle="""
    SELECT source, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars_sum,
           CAST(1 AS INTEGER) AS manifest_ok
    FROM documents
    GROUP BY source, lang
    """,
)
def q_export_manifest_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-driven corpus export, audited end-to-end: documents
    are shipped ``partitionBy(source, lang)`` with a per-shard
    manifest computed from the data AS WRITTEN and published last
    (``sinks.export_with_manifest`` — manifest-present = export
    complete), then this query re-reads the export, recounts every
    shard, and emits the counts WITH the manifest-match verdict — the
    check a downstream mixer runs before trusting a shard.  The
    oracle computes the same counts from the original table, so the
    partitioned write+re-read+manifest loop is value-hash-checked and
    every manifest_ok must come back 1.

    Scale shape: the export is one partitioned write (shards are the
    unit of incremental refresh and of partition-pruned reads); the
    audit is one grouped recount joined to the tiny manifest.  The
    export is a ``cached_fixture``, like q_orc_roundtrip's."""
    out = _export_fixture(spark, sf_dir)
    back = spark.read.parquet(out)
    manifest = read_manifest(spark, out)
    return _manifest_audit(_card_counts(back), manifest)


def _manifest_audit(actual: DataFrame, manifest: DataFrame) -> DataFrame:
    """The audit join: FULL outer + null-safe verdict, because a shard
    missing from the manifest must read manifest_ok = 0 (not NULL,
    which a ``= 0`` consumer filter would miss), and a shard listed in
    the manifest but gone on disk must still surface as a row — a LEFT
    join from the actual side silently dropped it.  Clean exports are
    unaffected: both sides carry identical keys, so the oracle's
    per-shard counts still match.  Pinned by
    ``tests/test_export_manifest.py``."""
    m = manifest.withColumnsRenamed({"n_docs": "m_docs", "chars_sum": "m_chars"})
    return actual.join(m, ["source", "lang"], "full_outer").select(
        "source",
        "lang",
        F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
        F.coalesce("chars_sum", F.lit(0)).cast("long").alias("chars_sum"),
        (
            F.col("n_docs").eqNullSafe(F.col("m_docs"))
            & F.col("chars_sum").eqNullSafe(F.col("m_chars"))
        ).cast("int").alias("manifest_ok"),
    )


@query(
    "q_manifest_card_reconcile",
    covers=("X-EXPORT-CARD-RECONCILE",),
    oracle="""
    WITH card AS (
        SELECT source, lang,
               CAST(count(*) AS BIGINT) AS card_docs,
               CAST(sum(n_chars) AS BIGINT) AS card_chars,
               CAST(sum(len(list_filter(string_split_regex(text, '\\s+'),
                                        w -> w != ''))) AS BIGINT) AS total_tokens
        FROM documents GROUP BY source, lang
    ),
    mani AS (
        SELECT source, lang,
               CAST(count(*) AS BIGINT) AS manifest_docs,
               CAST(sum(n_chars) AS BIGINT) AS manifest_chars
        FROM documents GROUP BY source, lang
    )
    SELECT c.source, c.lang, c.card_docs, c.card_chars, c.total_tokens,
           m.manifest_docs, m.manifest_chars,
           CAST(1 AS INTEGER) AS reconciled
    FROM card c FULL OUTER JOIN mani m USING (source, lang)
    """,
)
def q_manifest_card_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-independent-count-path reconciliation: the export manifest
    (counts computed from the data AS WRITTEN at export time,
    ``sinks.export_with_manifest``) joined against the live data card
    (q_data_card's token/volume pass over the SOURCE table).  The two
    paths share no code below the scan — manifest rows were counted
    from the partitioned re-read at export time, card rows from the
    original parquet now — so agreement certifies the whole
    export-write-recount loop, and a disagreement localizes the fault
    (manifest stale → refresh; card drift → source mutated after
    export).  ``reconciled`` must come back 1 on every shard — it
    compares BOTH shared metrics (doc count and char volume), and the
    join is FULL OUTER: a shard present on one side only (stale
    manifest after an unmanifested append, or a manifest row whose
    shard vanished) surfaces as reconciled = 0 instead of being
    silently dropped, the fault class this query exists to localize.
    The oracle derives both paths independently from the source
    table.

    Scale shape: one corpus scan for the card, a tiny manifest read,
    one join on the (source, lang) key — the manifest side is
    |shards| rows at any corpus size."""
    from week4_musemotion_spark.operators.textstats import quality_stats

    out = _export_fixture(spark, sf_dir)
    manifest = read_manifest(spark, out).select(
        "source",
        "lang",
        F.col("n_docs").alias("manifest_docs"),
        F.col("chars_sum").alias("manifest_chars"),
    )
    d = load_table(spark, sf_dir, "documents")
    card = (
        quality_stats(d, keep_cols=("source", "lang", "n_chars"))
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("card_docs"),
            F.sum("n_chars").cast("long").alias("card_chars"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
    )
    return card.join(manifest, ["source", "lang"], "full_outer").select(
        "source",
        "lang",
        "card_docs",
        "card_chars",
        "total_tokens",
        "manifest_docs",
        "manifest_chars",
        (
            F.col("card_docs").eqNullSafe(F.col("manifest_docs"))
            & F.col("card_chars").eqNullSafe(F.col("manifest_chars"))
        ).cast("int").alias("reconciled"),
    )


@query(
    "q_manifest_refresh_audit",
    covers=("X-EXPORT-REFRESH",),
    oracle="""
    SELECT source, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars_sum
    FROM documents
    GROUP BY source, lang
    """,
)
def q_manifest_refresh_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INCREMENTAL manifest path, driver-checked end-to-end: the
    fixture exports 90% of the corpus (doc_id % 10 != 7), appends the
    held-out 10% directly to the partitioned dataset (bypassing the
    manifest — the single-shard-append scenario), then calls
    ``sinks.refresh_manifest`` on ONLY the touched (source, lang)
    shards.  This query returns the refreshed manifest itself; the
    oracle is the per-shard count over the FULL documents table, so a
    stale row (refresh missed a touched shard) or a clobbered row
    (refresh rewrote an untouched shard incorrectly) both hash-fail.
    Cost of the refresh is O(touched shards) — the append+refresh
    never re-reads the 90% base, which is the entire point at 100 TB.

    The fixture is a ``cached_fixture``: the refresh runs once per
    testdata generation and code version."""
    from week4_musemotion_spark.sources.sinks import export_with_manifest, refresh_manifest

    def _build(tmp: str) -> None:
        d = load_table(spark, sf_dir, "documents")
        base = d.filter(F.col("doc_id") % 10 != 7)
        extra = d.filter(F.col("doc_id") % 10 == 7)
        export_with_manifest(base, tmp, _card_counts)
        extra.write.mode("append").partitionBy("source", "lang").parquet(tmp)
        touched = [
            {"source": r["source"], "lang": r["lang"]}
            for r in extra.select("source", "lang").distinct().collect()
        ]
        refresh_manifest(spark, tmp, _card_counts, touched)

    out = cached_fixture("musemotion_refresh", sf_dir, b"manifest_refresh", _build)
    return read_manifest(spark, out).select(
        "source", "lang", "n_docs", "chars_sum"
    )


@query(
    "q_shard_skew_audit",
    covers=("X-SHARD-SKEW",),
    oracle="""
    WITH shard AS (
        SELECT source, lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS shard_chars
        FROM documents GROUP BY source, lang
    ),
    tot AS (
        SELECT CAST(sum(shard_chars) AS BIGINT) AS total_chars,
               CAST(count(*) AS BIGINT) AS n_shards
        FROM shard
    )
    SELECT s.source, s.lang, s.n_docs, s.shard_chars,
           CAST((2 * CAST(s.shard_chars AS HUGEINT) * 10000 + t.total_chars)
                // (2 * t.total_chars) AS BIGINT) AS share_e4,
           CAST((2 * CAST(s.shard_chars AS HUGEINT) * t.n_shards * 10000 + t.total_chars)
                // (2 * t.total_chars) AS BIGINT) AS rel_mean_e4,
           CAST(CASE WHEN CAST(s.shard_chars AS HUGEINT) * t.n_shards
                          >= 2 * CAST(t.total_chars AS HUGEINT)
                     THEN 1 ELSE 0 END AS INTEGER) AS is_hot
    FROM shard s CROSS JOIN tot t
    """,
)
def q_shard_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-balance planning report for the partitioned corpus
    layout: per (source, lang) shard, its byte volume (n_chars as the
    codec-independent proxy), its exact share of the corpus (e4
    fixed-point), its size RELATIVE TO THE MEAN shard
    (rel_mean_e4 = shard × n_shards / total — 10000 = exactly
    average), and a hot-shard flag at the 2× mean threshold.  This is
    the table a 100 TB export planner reads before choosing partition
    columns: a hot shard becomes the straggler task in every
    downstream scan, and the fix (salting the big source, splitting
    by date) is decided from exactly these numbers.

    Scale shape: one grouped scan to |shards| rows, then a 1-row
    global total broadcast-crossed back — no shuffle wider than the
    shard count, and the skew math is exact integer arithmetic
    (widened to decimal BEFORE the e4 pre-scale — at 100 TB
    shard_chars × n_shards × 10⁴ overflows a long, and with ANSI off
    it would wrap silently) so the report hash-matches the oracle."""
    from pyspark.sql import Window

    from week4_musemotion_spark.functions.exact import dec, ratio_e4

    d = load_table(spark, sf_dir, "documents")
    shard = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("shard_chars"),
    )
    # totals via an unpartitioned window over the POST-aggregation
    # frame (|shards| rows — tiny at any corpus size), so the corpus
    # is scanned exactly once; a separate global agg + cross join
    # would re-scan it
    w = Window.partitionBy()
    shard = shard.withColumns(
        {
            "total_chars": F.sum("shard_chars").over(w).cast("long"),
            "n_shards": F.count(F.lit(1)).over(w).cast("long"),
        }
    )
    return shard.select(
        "source",
        "lang",
        "n_docs",
        "shard_chars",
        ratio_e4(F.col("shard_chars"), F.col("total_chars")).alias("share_e4"),
        ratio_e4(dec(F.col("shard_chars")) * F.col("n_shards"), F.col("total_chars")).alias(
            "rel_mean_e4"
        ),
        (
            dec(F.col("shard_chars")) * F.col("n_shards")
            >= F.lit(2) * dec(F.col("total_chars"))
        ).cast("int").alias("is_hot"),
    )
