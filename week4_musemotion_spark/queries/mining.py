"""Round-3 mining battery: entity resolution at higher edit radius,
event-sequence statistics, exact robust/outlier analytics, and
inequality metrics — all with the engine's exact-integer doctrine
(functions/exact.py) so every oracle hash-matches bit-for-bit.

Reference parity: /root/reference stops at single-join group-bys;
these generalize its KPI/cleaning capabilities (streamlit_app.py
:166-190, pipeline.py:100-120) to the sequence / distribution /
entity-resolution shapes a 100 TB curation pipeline needs.

Scale notes (100 TB):

- every query here is (window-per-key | keyed join | grouped agg)
  shaped — no cross joins, no driver collects, no Python UDFs;
- the fuzzy τ=2 join emits ~len²/2 constant-width hashed keys per
  row (linear blocking stage) and verifies candidates only;
- the z-score filter joins a 5-row moment table (broadcast) against
  the fact scan — the moment pass and the filter pass are the only
  two scans, and both prune to (event_type, value, event_id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from week4_musemotion_spark.functions.exact import (
    avg_money,
    avg_money_sql,
    cents,
    cents_sql,
    dec,
    int_div_round,
    int_div_round_dec,
    int_div_round_sql,
)
from week4_musemotion_spark.functions.eventtime import epoch_micros
from week4_musemotion_spark.queries.registry import query
from week4_musemotion_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# Entity resolution: fuzzy join at edit distance ≤ 2
# ---------------------------------------------------------------------------


@query(
    "q_fuzzy_join_tau2",
    covers=("X-FUZZY-JOIN-2",),
    oracle="""
    WITH dirty AS (
        SELECT c_custkey + 2000000 AS dirty_id,
               substr(d1, 1, (c_custkey % 13 + 1) - 1)
               || CASE WHEN (c_custkey % 13 + 1) <= length(d1) THEN 'x' ELSE '' END
               || substr(d1, (c_custkey % 13 + 1) + 1) AS dirty_name
        FROM (
            SELECT c_custkey,
                   substr(c_name, 1, (c_custkey % 17 + 1) - 1)
                   || substr(c_name, (c_custkey % 17 + 1) + 1) AS d1
            FROM customer WHERE c_custkey % 4 = 1
        )
    )
    SELECT d.dirty_id, c.c_custkey AS match_id,
           CAST(levenshtein(d.dirty_name, c.c_name) AS BIGINT) AS dist
    FROM dirty d JOIN customer c ON levenshtein(d.dirty_name, c.c_name) <= 2
    """,
)
def q_fuzzy_join_tau2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution at edit radius 2: every fourth customer name
    suffers one deletion AND one substitution (positions keyed on the
    id — deterministic in both engines) and is re-matched within
    edit distance 2 via the depth-2 deletion-neighborhood join
    (operators/fuzzy.py — FastSS recall is exact, candidates verified
    with levenshtein).  The oracle is the quadratic cross-compare —
    identical output because blocking recall is exact."""
    from week4_musemotion_spark.operators.fuzzy import fuzzy_join

    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    d1 = F.concat(
        F.expr("substring(c_name, 1, pmod(c_custkey, 17) + 1 - 1)"),
        F.expr("substring(c_name, pmod(c_custkey, 17) + 1 + 1, length(c_name))"),
    )
    dirty = (
        c.filter(F.col("c_custkey") % 4 == 1)
        .withColumn("_d1", d1)
        .select(
            (F.col("c_custkey") + 2_000_000).alias("dirty_id"),
            F.concat(
                F.expr("substring(_d1, 1, pmod(c_custkey, 13) + 1 - 1)"),
                F.when(
                    F.expr("pmod(c_custkey, 13) + 1") <= F.length("_d1"), F.lit("x")
                ).otherwise(F.lit("")),
                F.expr("substring(_d1, pmod(c_custkey, 13) + 1 + 1, length(_d1))"),
            ).alias("dirty_name"),
        )
    )
    return fuzzy_join(
        c,
        dirty,
        "c_name",
        "dirty_name",
        k=2,
        dedup_on=["dirty_id", "c_custkey"],
    ).select(
        "dirty_id",
        F.col("c_custkey").alias("match_id"),
        F.col("dist").cast("long").alias("dist"),
    )


# ---------------------------------------------------------------------------
# Event-sequence statistics
# ---------------------------------------------------------------------------


@query(
    "q_markov_transitions",
    covers=("X-MARKOV",),
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    t AS (
        SELECT prev_type, event_type AS next_type, count(*) AS cnt
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    )
    SELECT prev_type, next_type, CAST(cnt AS BIGINT) AS cnt,
           {int_div_round_sql("cnt * 10000", "sum(cnt) OVER (PARTITION BY prev_type)")}
               AS prob_e4
    FROM t
    """,
)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user event streams:
    per-user LAG over (ts, event_id), pair counts, and the transition
    probability as exact e4 integer division against the per-prev-type
    row total.  Scale: one shuffle on user_id for the sequence window,
    one 25-row aggregate, one 5-partition window — the classic
    clickstream shape.  Ref capability: event-type group counts
    (streamlit_app.py:180-190) upgraded to sequential structure."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    seq = ev.withColumn(
        "prev_type",
        F.lag("event_type").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        ),
    ).filter(F.col("prev_type").isNotNull())
    t = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    tot = Window.partitionBy("prev_type")
    return t.select(
        "prev_type",
        "next_type",
        F.col("cnt").cast("long").alias("cnt"),
        int_div_round(F.col("cnt") * 10000, F.sum("cnt").over(tot)).alias("prob_e4"),
    )


@query(
    "q_time_weighted_avg",
    covers=("X-TWA",),
    oracle=f"""
    WITH iv AS (
        SELECT user_id,
               {cents_sql("value")} AS v_cents,
               (epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                - epoch_us(ts)) // 1000000 AS dt_sec
        FROM events
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_intervals,
           CAST(sum(dt_sec) AS BIGINT) AS total_sec,
           {int_div_round_sql("sum(v_cents * dt_sec)", "sum(dt_sec)")} AS twa_cents
    FROM iv WHERE dt_sec IS NOT NULL AND dt_sec > 0
    GROUP BY user_id
    """,
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average event value per user: each reading holds
    until the next one (LEAD over the per-user timeline), weights are
    whole elapsed seconds, and the weighted mean is exact integer
    division in cents.  All accumulation is BIGINT (max |Σ v·dt| here
    ~1e13; a 100 TB deployment would widen the sum to decimal(38,0)
    exactly as stddev_money does).  Event-time math goes through
    functions/eventtime.epoch_micros so NANOS/MICROS testdata layouts
    agree.  Ref capability: per-group mean KPIs (pipeline.py:115-118)
    upgraded to irregular time series."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = epoch_micros(ev, "ts")
    nxt = F.lead(us).over(w)
    iv = ev.select(
        "user_id",
        cents("value").alias("v_cents"),
        F.floor((nxt - us) / F.lit(1_000_000)).cast("long").alias("dt_sec"),
    ).filter(F.col("dt_sec").isNotNull() & (F.col("dt_sec") > 0))
    return iv.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum("dt_sec").cast("long").alias("total_sec"),
        int_div_round(F.sum(F.col("v_cents") * F.col("dt_sec")), F.sum("dt_sec")).alias(
            "twa_cents"
        ),
    )


# ---------------------------------------------------------------------------
# Exact outlier / distribution analytics
# ---------------------------------------------------------------------------


@query(
    "q_zscore_outliers",
    covers=("X-ZSCORE",),
    oracle=f"""
    WITH m AS (
        SELECT event_type,
               count(*) AS n,
               sum(CAST({cents_sql("value")} AS HUGEINT)) AS s1,
               sum(CAST({cents_sql("value")} AS HUGEINT) * {cents_sql("value")}) AS s2
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           {cents_sql("e.value")} AS value_cents,
           CASE WHEN CAST({cents_sql("e.value")} AS HUGEINT) * m.n - m.s1 > 0
                THEN 'hi' ELSE 'lo' END AS side
    FROM events e JOIN m ON e.event_type = m.event_type
    WHERE (CAST({cents_sql("e.value")} AS HUGEINT) * m.n - m.s1)
          * (CAST({cents_sql("e.value")} AS HUGEINT) * m.n - m.s1)
          * (m.n - 1)
          > 4 * m.n * (m.n * m.s2 - m.s1 * m.s1)
    """,
)
def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events whose value sits more than 2 sample standard deviations
    from the per-type mean — decided in EXACT integer arithmetic:
    |v−μ| > 2σ ⟺ (v·n − s1)²·(n−1) > 4·n·(n·s2 − s1²) with
    decimal(38,0)/HUGEINT moments, so partition order and float sqrt
    can never flip a boundary row (the failure class functions/
    exact.py documents).  Scale: one grouped-moment pass (5 rows),
    broadcast back over the fact scan — two scans total, no sort.
    Ref capability: the cleaning stage's outlier screens
    (pipeline.py:108-110) made statistically principled."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    vc = cents("value")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d(vc)).alias("s1"),
        F.sum(d(vc) * vc).alias("s2"),
    )
    j = ev.join(F.broadcast(m), "event_type")
    dev = d(vc) * F.col("n") - F.col("s1")
    return (
        j.filter(dev * dev * (F.col("n") - 1) > 4 * F.col("n") * (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")))
        .select(
            "event_id",
            "event_type",
            vc.alias("value_cents"),
            F.when(dev > 0, F.lit("hi")).otherwise(F.lit("lo")).alias("side"),
        )
    )


@query(
    "q_decile_stats",
    covers=("X-DECILE",),
    oracle=f"""
    WITH d AS (
        SELECT c_acctbal,
               ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile
        FROM customer
    )
    SELECT decile, CAST(count(*) AS BIGINT) AS n,
           min({cents_sql("c_acctbal")}) AS min_cents,
           max({cents_sql("c_acctbal")}) AS max_cents,
           {avg_money_sql("c_acctbal")} AS avg_cents
    FROM d GROUP BY decile ORDER BY decile
    """,
)
def q_decile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Account-balance deciles: NTILE(10) over a total deterministic
    order (balance, custkey tie-break) then per-decile count/min/max/
    exact-integer average.  Scale: a WINDOW ntile with no partition
    key would coalesce every row into one task, so the bucket number
    comes from operators/ranks.global_ntile — range repartition +
    per-partition offsets, bit-identical to SQL NTILE (pytest-pinned)
    but fully distributed.  Ref capability: the dashboard's
    group-size profile (streamlit_app.py:183) as ranked strata."""
    from week4_musemotion_spark.operators.ranks import global_ntile

    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    d = global_ntile(c, ["c_acctbal", "c_custkey"], 10, "decile")
    return (
        d.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(cents("c_acctbal")).alias("min_cents"),
            F.max(cents("c_acctbal")).alias("max_cents"),
            avg_money("c_acctbal").alias("avg_cents"),
        )
        .orderBy("decile")
    )


@query(
    "q_gini_by_source",
    covers=("X-GINI",),
    oracle=f"""
    WITH r AS (
        SELECT source, n_chars,
               row_number() OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id) AS i,
               count(*) OVER (PARTITION BY source) AS n,
               sum(n_chars) OVER (PARTITION BY source) AS tot
        FROM documents
    )
    SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
           CAST(max(tot) AS BIGINT) AS total_chars,
           {int_div_round_sql("sum((2 * i - n - 1) * n_chars) * 10000", "max(n) * max(tot)")}
               AS gini_e4
    FROM r GROUP BY source
    """,
)
def q_gini_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of document-length inequality per source, via
    the sorted-rank formula G = Σ(2i−n−1)·xᵢ / (n·Σx) in pure integer
    arithmetic (ties contribute a permutation-invariant sum, so the
    doc_id tie-break cannot change the value — only make the rank
    deterministic).  Corpus-audit operator: a source whose G spikes
    is emitting degenerate boilerplate or truncation.  Scale: one
    window + one agg, both keyed on source."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    w = Window.partitionBy("source")
    r = docs.select(
        "source",
        "n_chars",
        F.row_number().over(w.orderBy("n_chars", "doc_id")).alias("i"),
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("n_chars").over(w).alias("tot"),
    )
    # the rank-weighted sum and n·Σx both pass 2^63 on large
    # sources — accumulate/divide in decimal(38,0), matching the
    # oracle's automatic HUGEINT promotion (silent-wrap class:
    # functions/exact.dec)
    agg = r.groupBy("source").agg(
        F.max("n").cast("long").alias("n_docs"),
        F.max("tot").cast("long").alias("total_chars"),
        F.sum(dec((2 * F.col("i") - F.col("n") - 1) * F.col("n_chars"))).alias("_num"),
    )
    return agg.select(
        "source",
        "n_docs",
        "total_chars",
        int_div_round_dec(
            F.col("_num") * 10000, dec(F.col("n_docs") * F.col("total_chars"))
        ).alias("gini_e4"),
    )


# ---------------------------------------------------------------------------
# Corpus text mining: TF-IDF, co-occurrence, n-gram contamination,
# keep-best dedup, cross-source audit, set-similarity join
# ---------------------------------------------------------------------------

#: bag-of-words signature — word-order-insensitive content key
_SIG = "array_join(array_sort(array_distinct(split(text, ' '))), ' ')"
_SIG_SQL = "array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')"


@query(
    "q_tfidf_topterms",
    covers=("X-TFIDF",),
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
        SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> ''
        GROUP BY doc_id, term
    ),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, df.df,
               {int_div_round_sql("tf.tf * n.n_docs * 10000", "df.df")} AS score_e4
        FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
    )
    SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, score_e4
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY score_e4 DESC, term) AS rk
          FROM scored)
    WHERE rk <= 3
    """,
)
def q_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by tf·idf with the
    log-free raw inverse frequency idf = N/df, so the score is the
    exact rational tf·N/df emitted as an e4 integer — engine-stable,
    unlike float log.  Scale: term frequencies are one keyed agg;
    the df table joins on term (vocabulary-keyed shuffle — broadcast
    when the vocab fits); the top-3 is a bounded per-doc window.
    The training-data use: surface domain-signature terms per doc
    for quality routing."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_tab = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_tab, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            int_div_round(F.col("tf") * F.col("n_docs") * 10000, F.col("df")).alias(
                "score_e4"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score_e4").desc(), F.col("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", F.col("tf").cast("long"), F.col("df").cast("long"), "score_e4")
    )


@query(
    "q_cooccur_lift",
    covers=("X-COOCCUR",),
    oracle=f"""
    WITH tok AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    pairs AS (
        SELECT a.term AS term_a, b.term AS term_b, count(*) AS cnt
        FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND a.term < b.term
        GROUP BY a.term, b.term
    ),
    df AS (SELECT term, count(*) AS df FROM tok GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT term_a, term_b, CAST(cnt AS BIGINT) AS cnt,
           {int_div_round_sql("cnt * n.n_docs * 10000", "da.df * db.df")} AS lift_e4
    FROM pairs JOIN df da ON pairs.term_a = da.term
               JOIN df db ON pairs.term_b = db.term
               CROSS JOIN n
    ORDER BY cnt DESC, term_a, term_b LIMIT 25
    """,
)
def q_cooccur_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token co-occurrence with exact association lift: for each
    unordered term pair sharing a document, the document count and
    lift = P(ab)/(P(a)P(b)) = cnt·N/(df_a·df_b) as an exact e4
    integer (the log-free cousin of PMI).  Scale: the per-doc pair
    expansion is quadratic only in per-document DISTINCT vocabulary
    (bounded by doc length, not corpus size); the global pair agg
    and the two df joins are keyed; top-25 fuses to TakeOrdered.
    Training-data use: phrase mining / collocation discovery."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
        .distinct()
    )
    a, b = tok.alias("a"), tok.alias("b")
    pairs = (
        a.join(b, (F.col("a.doc_id") == F.col("b.doc_id")) & (F.col("a.term") < F.col("b.term")))
        .groupBy(
            F.col("a.term").alias("term_a"), F.col("b.term").alias("term_b")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    df_tab = tok.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        pairs.join(F.broadcast(df_tab).alias("da"), F.col("term_a") == F.col("da.term"))
        .join(F.broadcast(df_tab).alias("db"), F.col("term_b") == F.col("db.term"))
        .crossJoin(F.broadcast(n))
        .select(
            "term_a",
            "term_b",
            F.col("cnt").cast("long").alias("cnt"),
            int_div_round(
                F.col("cnt") * F.col("n_docs") * 10000, F.col("da.df") * F.col("db.df")
            ).alias("lift_e4"),
        )
        .orderBy(F.col("cnt").desc(), "term_a", "term_b")
        .limit(25)
    )


@query(
    "q_contamination_ngram",
    covers=("X-CONTAM-NGRAM",),
    oracle=f"""
    WITH g AS (
        SELECT doc_id,
               array_to_string(a[i:i+4], ' ') AS gram
        FROM (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
             unnest(generate_series(1, greatest(len(a) - 4, 0))) t(i)
    ),
    bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 19 = 0),
    train AS (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id % 19 <> 0),
    tg AS (SELECT doc_id, count(*) AS n_grams FROM train GROUP BY doc_id),
    hits AS (
        SELECT t.doc_id, count(*) AS n_shared
        FROM train t JOIN bench b ON t.gram = b.gram
        GROUP BY t.doc_id
    )
    SELECT h.doc_id, CAST(h.n_shared AS BIGINT) AS n_shared,
           CAST(tg.n_grams AS BIGINT) AS n_grams,
           {int_div_round_sql("h.n_shared * 10000", "tg.n_grams")} AS rate_e4
    FROM hits h JOIN tg ON h.doc_id = tg.doc_id
    """,
)
def q_contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark contamination screening by word 5-gram overlap: docs
    with ``doc_id % 19 = 0`` play the held-out benchmark; every other
    (train) doc reports how many of its distinct 5-grams appear in
    ANY benchmark doc, plus the contamination rate as exact e4.  The
    standard decontamination shape (e.g. GPT-3 appendix C / Dolma,
    public knowledge): shingle both sides, equi-join on the shingle,
    never compare documents pairwise.  Scale: the join is keyed on
    the gram (hash it to fixed width at 100 TB); benchmark side is
    tiny and broadcastable; per-doc counts are one keyed agg."""
    from week4_musemotion_spark.operators.dedup import shingle_strings

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    g = shingle_strings(docs, "text", "doc_id", n=5).select(
        F.col("_id").alias("doc_id"), F.col("s").alias("gram")
    )
    bench = g.filter(F.col("doc_id") % 19 == 0).select("gram").distinct()
    train = g.filter(F.col("doc_id") % 19 != 0).distinct()
    tg = train.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        train.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return hits.join(tg, "doc_id").select(
        "doc_id",
        F.col("n_shared").cast("long").alias("n_shared"),
        F.col("n_grams").cast("long").alias("n_grams"),
        int_div_round(F.col("n_shared") * 10000, F.col("n_grams")).alias("rate_e4"),
    )


@query(
    "q_dedup_keep_best",
    covers=("X-DEDUP-KEEPBEST",),
    oracle=f"""
    WITH s AS (
        SELECT doc_id, source, n_chars,
               {_SIG_SQL} AS sig
        FROM documents
    )
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(group_size AS BIGINT) AS group_size
    FROM (SELECT doc_id, source, n_chars,
                 row_number() OVER (PARTITION BY sig
                                    ORDER BY n_chars DESC, doc_id) AS rk,
                 count(*) OVER (PARTITION BY sig) AS group_size
          FROM s)
    WHERE rk = 1
    """,
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup: documents sharing a bag-of-words signature
    (order-insensitive content key — catches shuffled boilerplate
    exact dedup misses) collapse to ONE survivor, chosen as the
    longest (then lowest-id) member — the curation policy of keeping
    the best representative instead of an arbitrary one.  Scale: one
    window keyed on the signature (hash it to 64/128 bits at 100 TB);
    no pairwise comparison anywhere."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars", F.expr(_SIG).alias("sig")
    )
    w = Window.partitionBy("sig")
    r = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number().over(w.orderBy(F.col("n_chars").desc(), F.col("doc_id"))).alias("rk"),
        F.count(F.lit(1)).over(w).alias("group_size"),
    )
    return r.filter(F.col("rk") == 1).select(
        "doc_id",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("group_size").cast("long").alias("group_size"),
    )


@query(
    "q_cross_source_overlap",
    covers=("X-SOURCE-OVERLAP",),
    oracle=f"""
    WITH s AS (
        SELECT DISTINCT {_SIG_SQL} AS sig, source FROM documents
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM s a JOIN s b ON a.sig = b.sig AND a.source < b.source
    GROUP BY a.source, b.source
    """,
)
def q_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-audit overlap matrix: for every source pair, how many
    bag-of-words content signatures both emit — the "are my crawls
    re-scraping each other" report that decides dedup priority.
    Scale: distinct (sig, source) is one keyed agg; the self-join is
    keyed on the signature whose bucket size is the true duplication
    multiplicity, never corpus size."""
    s = (
        load_table(spark, sf_dir, "documents")
        .select(F.expr(_SIG).alias("sig"), "source")
        .distinct()
    )
    a, b = s.alias("a"), s.alias("b")
    return (
        a.join(b, (F.col("a.sig") == F.col("b.sig")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )


@query(
    "q_jaccard_simjoin",
    covers=("X-SIMJOIN",),
    oracle="""
    WITH t AS (
        SELECT doc_id, source, list_sort(list_distinct(string_split(text, ' '))) AS a
        FROM documents
    )
    SELECT x.doc_id AS id_1, y.doc_id AS id_2,
           CAST(len(list_intersect(x.a, y.a)) AS BIGINT) AS common,
           CAST(len(x.a) + len(y.a) - len(list_intersect(x.a, y.a)) AS BIGINT) AS n_union,
           CAST((2 * len(list_intersect(x.a, y.a)) * 10000
                 + (len(x.a) + len(y.a) - len(list_intersect(x.a, y.a))))
                // (2 * (len(x.a) + len(y.a) - len(list_intersect(x.a, y.a))))
                AS BIGINT) AS jacc_e4
    FROM t x JOIN t y ON x.source = y.source AND x.doc_id < y.doc_id
    WHERE len(list_intersect(x.a, y.a)) * 10000
          >= 8000 * (len(x.a) + len(y.a) - len(list_intersect(x.a, y.a)))
    """,
)
def q_jaccard_simjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-source document pairs with token-set Jaccard ≥ 0.8 via
    the prefix-filtered set-similarity self-join (operators/
    setjoin.py — PPJoin-style: rare-first token ordering, prefix
    emission, length filter, exact integer verify).  The oracle is
    the quadratic cross-compare — identical output because prefix
    filtering recall is exact.  Stratified by source deliberately:
    this corpus has a near-flat ~30-word vocabulary, so prefix
    buckets have no rare tokens and a GLOBAL exact join approaches
    all-pairs by construction — the production layering is exact
    join within shards + MinHash-LSH (q_dedup_minhash) across them.
    Training-data use: the exact near-dup layer between hashing and
    MinHash estimation."""
    from week4_musemotion_spark.operators.setjoin import jaccard_self_join

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.expr("array_distinct(split(text, ' '))").alias("toks")
    )
    return jaccard_self_join(docs, "doc_id", "toks", tau_e4=8000, within=["source"])


@query(
    "q_containment_pairs",
    covers=("X-CONTAINMENT",),
    oracle="""
    WITH t AS (
        SELECT doc_id, source, list_sort(list_distinct(string_split(text, ' '))) AS a
        FROM documents
    )
    SELECT x.doc_id AS id_a, y.doc_id AS id_b,
           CAST(len(list_intersect(x.a, y.a)) AS BIGINT) AS common,
           CAST(len(x.a) AS BIGINT) AS size_a,
           CAST((2 * len(list_intersect(x.a, y.a)) * 10000 + len(x.a))
                // (2 * len(x.a)) AS BIGINT) AS cont_e4
    FROM t x JOIN t y ON x.source = y.source AND x.doc_id <> y.doc_id
    WHERE len(list_intersect(x.a, y.a)) * 10000 >= 9000 * len(x.a)
    """,
)
def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered within-source document pairs where ≥ 90% of the first
    doc's token set appears in the second — the quotation / excerpt /
    subset-boilerplate detector Jaccard misses (a short quote inside
    a long doc has low Jaccard but high containment).  Asymmetric
    prefix filtering (operators/setjoin.containment_join): only the
    contained side may skip tokens, the container side indexes all —
    exact recall, verified on candidates only.  The oracle is the
    quadratic cross-compare; stratified by source for the same
    flat-vocabulary reason as q_jaccard_simjoin."""
    from week4_musemotion_spark.operators.setjoin import containment_join

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.expr("array_distinct(split(text, ' '))").alias("toks")
    )
    return containment_join(docs, "doc_id", "toks", tau_e4=9000, within=["source"]).select(
        "id_a", "id_b", "common", "size_a", "cont_e4"
    )


@query(
    "q_user_path_top",
    covers=("X-PATH-TRIGRAM",),
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type AS a,
               lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS b,
               lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS c
        FROM events
    ),
    t AS (
        SELECT a, b, c, count(*) AS cnt
        FROM seq WHERE b IS NOT NULL AND c IS NOT NULL
        GROUP BY a, b, c
    )
    SELECT a || '>' || b || '>' || c AS path, CAST(cnt AS BIGINT) AS cnt
    FROM t
    ORDER BY cnt DESC, path ASC
    LIMIT 20
    """,
)
def q_user_path_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top event-type TRIGRAM paths across all user journeys — the
    sequence-mining step above q_markov_transitions' bigrams: which
    3-step behaviours dominate (view>view>click vs view>click>
    purchase), the input to funnel design and to sequence-model
    training-data selection.  Per-user double-LEAD over (ts,
    event_id), one grouped count (at most |types|³ groups), top-20
    with a total tie-break.  Scale: one user-keyed shuffle for the
    window — same layout the markov/funnel/sessionize family already
    shuffles on, so a multi-query pipeline reuses the exchange."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("a"),
        F.lead("event_type", 1).over(w).alias("b"),
        F.lead("event_type", 2).over(w).alias("c"),
    ).filter(F.col("b").isNotNull() & F.col("c").isNotNull())
    t = seq.groupBy("a", "b", "c").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    return (
        t.select(F.concat_ws(">", "a", "b", "c").alias("path"), "cnt")
        .orderBy(F.col("cnt").desc(), F.col("path").asc())
        .limit(20)
    )
