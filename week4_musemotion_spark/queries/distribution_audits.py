"""Quantile sketches, distribution drift, watermark and LSH tuning audits:

- q_len_quantiles — per-source p50/p90/p99 document length off the
  quarter-octave log-bucket quantile sketch
  (``operators/qsketch.py``, DDSketch idea — Masson, Rim & Lee,
  VLDB 2019 — in exact integer arithmetic): the shard/row-group
  sizing table an export planner reads, mergeable at any scale.
- q_embed_norm_quantiles — the same sketch over e6-quantized
  embedding norms per label: the norm-drift monitor that catches a
  broken encoder batch (collapsed or exploded norms) cheaply.
- q_tv_distance_sources — pairwise total-variation distance between
  source unigram distributions in exact integers: the corpus-mixing
  QA that quantifies "how different is src A's vocabulary from
  src B's" (0 = identical distribution, 1e6 = disjoint).
- q_repetition_simpson — Simpson repetition index (probability two
  random token occurrences of a doc are the same type), micro-
  averaged per source + the worst document: the loop-garbage signal
  in exact integers (complement of q_repetition's ratio family).
- q_watermark_audit — watermark-delay tuning: replay events in a
  DETERMINISTIC simulated out-of-order arrival (portable-hash
  jitter, 0-4 h: the testdata arrives perfectly ts-ordered with
  multi-hour per-type gaps, so honest lateness must be synthesized
  above the gap scale — the q_pii_scrub planted-pathology pattern)
  and count, per watermark delay on a grid, the events a
  Structured-Streaming watermark would drop.
- q_gap_histogram — inter-event user gap histogram on log buckets
  with a cumulative-share column: the session-timeout tuning curve
  (pick the knee where cum_ppm flattens).
- q_band_tune — MinHash-LSH banding tuner: for each (bands, rows)
  config over the 16-seed portable signature family, the measured
  hit rate on true near-dup pairs (j >= 0.8) vs sub-threshold pairs
  (0.5 <= j < 0.8) — the 1-(1-s^r)^b formula checked against THIS
  corpus, on the same signatures production banding would use.

Differential evidence: the ``*_matches_oracle`` tests
(conftest.oracle_diff at sf0.001; sf0.01/sf0.1 via
``tools/check_correctness.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from week4_musemotion_spark.functions.exact import int_div_trunc, dec
from week4_musemotion_spark.functions.eventtime import epoch_micros
from week4_musemotion_spark.functions.hashing import stable_hash64, stable_hash64_sql
from week4_musemotion_spark.operators.qsketch import (
    bucket_counts,
    bucket_range_sql_cte,
    bucket_range_table,
    log_bucket_sql,
    quantiles_from_counts,
    quantiles_sql,
)
from week4_musemotion_spark.queries.registry import query
from week4_musemotion_spark.queries.sketch_quality import _pair_signature_ctes, _pair_signatures
from week4_musemotion_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# Quantile sketches
# ---------------------------------------------------------------------------


@query(
    "q_len_quantiles",
    covers=("X-QSKETCH-LEN",),
    oracle="WITH src AS (SELECT source, length(text) AS v FROM documents)"
    + quantiles_sql("src", ["source"], "v"),
)
def q_len_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length quantiles (p50/p90/p99 lower
    bounds) off the portable quarter-octave log-bucket sketch — the
    table that sizes shards, row groups, and sequence-packing bins.
    Sketch semantics (< 25 % relative under-read, exact integers,
    engine-replayable) in ``operators/qsketch.py``.

    Scale shape: ONE grouped count collapses the corpus to at most
    ~260 bucket rows per source (map-side combined — the shuffle
    carries buckets, not documents); the readout is window math on
    that tiny frame.  Partials merge by summing counts, so the same
    sketch state serves incremental refresh."""
    d = load_table(spark, sf_dir, "documents")
    counts = bucket_counts(d.select("source", F.length("text").alias("v")), ["source"], "v")
    return quantiles_from_counts(counts, ["source"])


@query(
    "q_embed_norm_quantiles",
    covers=("X-QSKETCH-NORM",),
    oracle="""WITH src AS (
        SELECT label,
               CAST(floor(sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * 1000000 + 0.5) AS BIGINT) AS v
        FROM embeddings
    )"""
    + quantiles_sql("src", ["label"], "v"),
)
def q_embed_norm_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-norm quantiles per label off the same log-bucket
    sketch: the norm-drift monitor — a label whose p50 norm moves an
    octave between corpus versions means a broken encoder batch or a
    normalization change, caught from O(labels × buckets) state.
    Norm quantization (floor(|v|·1e6 + 0.5), sequential fold order)
    is shared with q_embedding_hygiene so the two monitors can never
    disagree on the same vector."""
    from week4_musemotion_spark.queries.semantic import _dot

    e = load_table(spark, sf_dir, "embeddings")
    v = F.floor(
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))) * 1_000_000 + F.lit(0.5)
    ).cast("long")
    counts = bucket_counts(e.select("label", v.alias("v")), ["label"], "v")
    return quantiles_from_counts(counts, ["label"])


# ---------------------------------------------------------------------------
# Source-distribution drift: total-variation distance
# ---------------------------------------------------------------------------


@query(
    "q_tv_distance_sources",
    covers=("X-TV-DISTANCE",),
    oracle="""
    WITH tok AS (
        SELECT source, unnest(list_filter(string_split_regex(text, '\\s+'), w -> w != '')) AS term
        FROM documents
    ),
    c AS (SELECT source, term, count(*) AS cnt FROM tok GROUP BY 1, 2),
    n AS (SELECT source, sum(cnt) AS n FROM c GROUP BY 1),
    co AS (
        SELECT a.source AS src_a, b.source AS src_b,
               count(*) AS n_shared_terms,
               sum(abs(CAST(a.cnt AS HUGEINT) * nb.n - CAST(b.cnt AS HUGEINT) * na.n)) AS s_abs,
               sum(a.cnt) AS co_a, sum(b.cnt) AS co_b
        FROM c a
        JOIN c b ON a.term = b.term AND a.source < b.source
        JOIN n na ON na.source = a.source
        JOIN n nb ON nb.source = b.source
        GROUP BY 1, 2
    )
    SELECT p.src_a, p.src_b,
           CAST(COALESCE(co.n_shared_terms, 0) AS BIGINT) AS n_shared_terms,
           CAST((COALESCE(co.s_abs, 0)
                 + (na.n - COALESCE(co.co_a, 0)) * CAST(nb.n AS HUGEINT)
                 + (nb.n - COALESCE(co.co_b, 0)) * CAST(na.n AS HUGEINT))
                * 1000000 // (2 * CAST(na.n AS HUGEINT) * nb.n) AS BIGINT) AS tv_e6
    FROM (SELECT a.source AS src_a, b.source AS src_b
          FROM n a JOIN n b ON a.source < b.source) p
    LEFT JOIN co ON co.src_a = p.src_a AND co.src_b = p.src_b
    JOIN n na ON na.source = p.src_a
    JOIN n nb ON nb.source = p.src_b
    """,
)
def q_tv_distance_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise total-variation distance between source unigram
    token distributions, exact to the e6 digit: TV(A,B) = ½ Σ_t
    |p_A(t) − p_B(t)|, computed over the common denominator
    n_A·n_B so no float division ever happens — terms absent from
    one source contribute their full mass via the complement
    arithmetic (n − Σ_co c), so the truncated vocabulary join stays
    an INNER join.  0 = identical distribution, 1e6 = disjoint
    vocabularies; the matrix is what a mixing planner reads to know
    which sources actually diversify the mixture (near-0 rows are
    redundant crawls) and what drift monitors diff across versions.

    Scale shape: one token-count aggregate (map-side combined),
    then the pair stage joins the count table with itself ON TERM —
    per-term fanout is (sources present)² ≤ |sources|², so the join
    is linear in vocabulary for a fixed source count, never in
    corpus size; totals are a |sources|-row broadcast."""
    d = load_table(spark, sf_dir, "documents")
    from week4_musemotion_spark.functions.text import tokens

    tok = d.select("source", F.explode(tokens(F.col("text"))).alias("term"))
    c = tok.groupBy("source", "term").agg(F.count(F.lit(1)).alias("cnt"))
    c = c.localCheckpoint(eager=False)  # feeds totals AND both join sides
    n = c.groupBy("source").agg(F.sum("cnt").alias("n"))
    a = c.select(F.col("source").alias("src_a"), "term", F.col("cnt").alias("ca"))
    b = c.select(F.col("source").alias("src_b"), "term", F.col("cnt").alias("cb"))
    na = n.select(F.col("source").alias("src_a"), F.col("n").alias("na"))
    nb = n.select(F.col("source").alias("src_b"), F.col("n").alias("nb"))
    co = (
        a.join(b, "term")
        .filter(F.col("src_a") < F.col("src_b"))
        .join(F.broadcast(na), "src_a")
        .join(F.broadcast(nb), "src_b")
        .groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).alias("n_shared_terms"),
            F.sum(F.abs(dec(F.col("ca")) * F.col("nb") - dec(F.col("cb")) * F.col("na"))).alias("s_abs"),
            F.sum("ca").alias("co_a"),
            F.sum("cb").alias("co_b"),
        )
    )
    spine = (
        na.crossJoin(nb)
        .filter(F.col("src_a") < F.col("src_b"))
        .join(co, ["src_a", "src_b"], "left")
    )
    num = (
        F.coalesce(F.col("s_abs"), F.lit(0).cast("decimal(38,0)"))
        + (F.col("na") - F.coalesce(F.col("co_a"), F.lit(0))) * dec(F.col("nb"))
        + (F.col("nb") - F.coalesce(F.col("co_b"), F.lit(0))) * dec(F.col("na"))
    )
    return spine.select(
        "src_a",
        "src_b",
        F.coalesce(F.col("n_shared_terms"), F.lit(0)).cast("long").alias("n_shared_terms"),
        int_div_trunc(num * 1_000_000, dec(F.col("na")) * F.col("nb") * 2).alias("tv_e6"),
    )


# ---------------------------------------------------------------------------
# Simpson repetition index
# ---------------------------------------------------------------------------


@query(
    "q_repetition_simpson",
    covers=("X-REPETITION-SIMPSON",),
    oracle="""
    WITH tok AS (
        SELECT source, doc_id, unnest(list_filter(string_split_regex(text, '\\s+'), w -> w != '')) AS term
        FROM documents
    ),
    c AS (SELECT source, doc_id, term, count(*) AS cnt FROM tok GROUP BY 1, 2, 3),
    d AS (
        SELECT source, doc_id,
               sum(CAST(cnt AS HUGEINT) * (cnt - 1)) AS m2,
               sum(cnt) AS nt
        FROM c GROUP BY 1, 2
        HAVING sum(cnt) >= 2
    ),
    e AS (
        SELECT source, doc_id, m2, nt,
               CAST(m2 * 1000000 // (CAST(nt AS HUGEINT) * (nt - 1)) AS BIGINT) AS doc_e6,
               max(CAST(m2 * 1000000 // (CAST(nt AS HUGEINT) * (nt - 1)) AS BIGINT))
                   OVER (PARTITION BY source) AS mx
        FROM d
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(m2) * 1000000 // sum(CAST(nt AS HUGEINT) * (nt - 1)) AS BIGINT) AS micro_e6,
           CAST(max(doc_e6) AS BIGINT) AS max_doc_e6,
           CAST(min(doc_id) FILTER (doc_e6 = mx) AS BIGINT) AS worst_doc_id
    FROM e GROUP BY source
    """,
)
def q_repetition_simpson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson repetition index per source: the probability that two
    random token occurrences drawn from a document are the same
    type, Σ c(c−1) / n(n−1) — the collision-probability twin of
    entropy, computable in EXACT integers (entropy needs float log).
    High index = degenerate repetition (looped generations, tag
    soup); the per-source MICRO average (summed numerators over
    summed denominators — no mean-of-ratios distortion) plus the
    worst document (max index, min doc_id tie-break) give both the
    monitoring number and the triage pointer.

    Scale shape: two keyed aggregates (doc×term counts, then
    per-doc moments) and a |docs|-row window — all map-side
    combinable, nothing wider than the token count shuffle that
    every text query already pays."""
    from week4_musemotion_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("source", "doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    c = tok.groupBy("source", "doc_id", "term").agg(F.count(F.lit(1)).alias("cnt"))
    docs = (
        c.groupBy("source", "doc_id")
        .agg(
            F.sum(dec(F.col("cnt")) * (F.col("cnt") - 1)).alias("m2"),
            F.sum("cnt").alias("nt"),
        )
        .filter(F.col("nt") >= 2)
    )
    doc_e6 = int_div_trunc(F.col("m2") * 1_000_000, dec(F.col("nt")) * (F.col("nt") - 1))
    e = docs.withColumn("doc_e6", doc_e6).withColumn(
        "mx", F.max("doc_e6").over(Window.partitionBy("source"))
    )
    return e.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        int_div_trunc(
            F.sum("m2") * 1_000_000, F.sum(dec(F.col("nt")) * (F.col("nt") - 1))
        ).alias("micro_e6"),
        F.max("doc_e6").cast("long").alias("max_doc_e6"),
        F.min(F.when(F.col("doc_e6") == F.col("mx"), F.col("doc_id")))
        .cast("long")
        .alias("worst_doc_id"),
    )


# ---------------------------------------------------------------------------
# Watermark-delay tuning (deterministic simulated out-of-order replay)
# ---------------------------------------------------------------------------

#: Watermark grid (seconds) and jitter bound (µs).  The jitter must
#: exceed the stream's typical inter-event gap or nothing ever
#: arrives out of order (the sf0.001 per-type median gap is ~2.3 h),
#: so the replay jitters up to 4 h; the 4 h delay row MUST then read
#: zero late events — a built-in certificate — while 0 and 1 h
#: produce the real tuning signal at every test SF.
_WM_DELAYS_S = (0, 3600, 14400)
_WM_JITTER_US = 14_400 * 1_000_000


@query(
    "q_watermark_audit",
    covers=("X-STREAM-WATERMARK",),
    oracle=f"""
    WITH e AS (
        SELECT event_type, event_id, epoch_us(ts) AS us,
               epoch_us(ts) + ({stable_hash64_sql("CAST(event_id AS VARCHAR)")} % {_WM_JITTER_US}) AS arr
        FROM events
    ),
    w AS (
        SELECT event_type, us,
               max(us) OVER (PARTITION BY event_type ORDER BY arr, us, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm
        FROM e
    )
    SELECT event_type, CAST(g.delay_s AS BIGINT) AS delay_s,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(*) FILTER (us < wm - CAST(g.delay_s AS BIGINT) * 1000000) AS BIGINT) AS n_late,
           CAST(CAST(count(*) FILTER (us < wm - CAST(g.delay_s AS BIGINT) * 1000000) AS HUGEINT)
                * 1000000 // count(*) AS BIGINT) AS late_ppm
    FROM w CROSS JOIN (SELECT unnest([{", ".join(map(str, _WM_DELAYS_S))}]) AS delay_s) g
    GROUP BY 1, 2
    """,
)
def q_watermark_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-delay tuning table: how many events a Structured-
    Streaming watermark of X seconds would have dropped, per event
    type, over a delay grid.  The testdata arrives perfectly
    ts-ordered (zero natural lateness — a dead signal), so the audit
    REPLAYS the stream under a deterministic simulated network: each
    event's arrival position is its event time plus a portable-hash
    jitter in [0, 4 h) — above the stream's multi-hour per-type gap
    scale, else nothing ever reorders; synthesized pathology,
    engine-identical on both sides (the q_pii_scrub pattern).  An
    event is late when its event time precedes the running max event
    time of earlier ARRIVALS minus the delay — exactly the
    max-event-time watermark Structured Streaming maintains.  The
    4 h row must read 0 (lateness is strictly bounded by the jitter
    span): a built-in certificate that the replay and the accounting
    agree.

    Scale shape: one scan, one per-type ordered window (running
    max — partition-parallel), a 3-row broadcast grid, one grouped
    count.  At 100 TB the window keys by event_type; a single
    global stream would use the two-pass chunked cummax instead."""
    ev = load_table(spark, sf_dir, "events")
    us = epoch_micros(ev)
    e = ev.select(
        "event_type",
        "event_id",
        us.alias("us"),
        (us + F.pmod(stable_hash64(F.col("event_id").cast("string")), F.lit(_WM_JITTER_US))).alias("arr"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("arr", "us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    g = F.explode(F.array(*[F.lit(s).cast("long") for s in _WM_DELAYS_S])).alias("delay_s")
    # delay * 1e6 overflows int32 — keep the arithmetic in longs
    late = F.col("us") < F.col("wm") - F.col("delay_s") * F.lit(1_000_000).cast("long")
    return (
        e.withColumn("wm", F.max("us").over(w))
        .select("event_type", "us", "wm", g)
        .groupBy("event_type", "delay_s")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.count(F.when(late, 1)).cast("long").alias("n_late"),
            int_div_trunc(
                dec(F.count(F.when(late, 1))) * 1_000_000, F.count(F.lit(1))
            ).alias("late_ppm"),
        )
        .withColumn("delay_s", F.col("delay_s").cast("long"))
    )


# ---------------------------------------------------------------------------
# Session-gap histogram
# ---------------------------------------------------------------------------


@query(
    "q_gap_histogram",
    covers=("X-SESSION-GAP-DIST",),
    oracle=f"""
    WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
    gp AS (
        SELECT (us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)) // 1000000 AS gap_s
        FROM e
    ),
    g AS (SELECT gap_s FROM gp WHERE gap_s IS NOT NULL),
    c AS (SELECT {log_bucket_sql("gap_s")} AS bucket,
               count(*) AS n_gaps
        FROM g GROUP BY 1
    )
    SELECT c.bucket, lbt.lb AS lb_s, lbt.ub AS ub_s,
           CAST(n_gaps AS BIGINT) AS n_gaps,
           CAST(sum(n_gaps) OVER (ORDER BY c.bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                * CAST(1000000 AS HUGEINT) // sum(n_gaps) OVER () AS BIGINT) AS cum_ppm
    FROM c JOIN {bucket_range_sql_cte()} lbt ON c.bucket = lbt.bucket
    """,
)
def q_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap histogram per user stream on log buckets,
    with the cumulative share of gaps at or below each bucket — the
    curve that picks a sessionization timeout: the knee where
    cum_ppm flattens separates intra-session rhythm from
    between-visit silence, and reading it off quarter-octave buckets
    is exactly as actionable as exact percentiles at a fraction of
    the state.  Exact integers end to end (µs epochs, bucket ids,
    ppm by integer division).

    Scale shape: per-user lag window (partition-parallel, the same
    shuffle sessionization itself pays), then the corpus collapses
    to ≤ ~260 bucket rows; the cumulative window runs on that tiny
    frame."""
    from week4_musemotion_spark.operators.qsketch import log_bucket

    ev = load_table(spark, sf_dir, "events")
    e = ev.select("user_id", "event_id", epoch_micros(ev).alias("us"))
    wl = Window.partitionBy("user_id").orderBy("us", "event_id")
    gap_s = int_div_trunc(F.col("us") - F.lag("us").over(wl), F.lit(1_000_000))
    g = (
        e.select(gap_s.alias("gap_s"))
        .filter(F.col("gap_s").isNotNull())
        .groupBy(log_bucket(F.col("gap_s")).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_gaps"))
    )
    wc = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy()
    return (
        g.join(F.broadcast(bucket_range_table(g)), "bucket")
        .select(
            "bucket",
            F.col("lb").alias("lb_s"),
            F.col("ub").alias("ub_s"),
            F.col("n_gaps").cast("long").alias("n_gaps"),
            int_div_trunc(
                dec(F.sum("n_gaps").over(wc)) * 1_000_000, F.sum("n_gaps").over(wt)
            ).alias("cum_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash-LSH banding tuner
# ---------------------------------------------------------------------------

#: The (bands, rows) grid that the fidelity audit's 16-seed signature
#: family factors into, and the "true dup" threshold separating recall
#: pairs from sub-threshold (false-positive proxy) pairs.
_TUNE_CONFIGS = ((16, 1), (8, 2), (4, 4), (2, 8))
_TUNE_TRUE_E4 = 8000


@query(
    "q_band_tune",
    covers=("X-LSH-BAND-TUNE",),
    oracle=f"""
    WITH {_pair_signature_ctes()},
    jc AS (
        SELECT doc_a, doc_b,
               CAST((2 * i * 10000 + (na + nb - i)) // (2 * (na + nb - i)) AS BIGINT) AS jaccard_e4
        FROM pairs
    ),
    ag AS (
        SELECT j.doc_a, j.doc_b, a.k,
               CASE WHEN a.mv = b.mv THEN 1 ELSE 0 END AS eq
        FROM jc j
        JOIN mh a ON a.doc_id = j.doc_a
        JOIN mh b ON b.doc_id = j.doc_b AND b.k = a.k
    ),
    cfg AS (SELECT unnest([{", ".join(str(b) for b, _ in _TUNE_CONFIGS)}]) AS b,
                   unnest([{", ".join(str(r) for _, r in _TUNE_CONFIGS)}]) AS r),
    bh AS (
        SELECT doc_a, doc_b, cfg.b, cfg.r, ag.k // cfg.r AS band,
               min(eq) AS band_hit
        FROM ag CROSS JOIN cfg
        GROUP BY 1, 2, 3, 4, 5
    ),
    ph AS (SELECT doc_a, doc_b, b, r, max(band_hit) AS hit FROM bh GROUP BY 1, 2, 3, 4)
    SELECT CAST(ph.b AS BIGINT) AS bands, CAST(ph.r AS BIGINT) AS rows_per_band,
           CAST(count(*) FILTER (jaccard_e4 >= {_TUNE_TRUE_E4}) AS BIGINT) AS n_true,
           CAST(count(*) FILTER (jaccard_e4 >= {_TUNE_TRUE_E4} AND hit = 1) AS BIGINT) AS n_true_hit,
           CAST(count(*) FILTER (jaccard_e4 < {_TUNE_TRUE_E4}) AS BIGINT) AS n_sub,
           CAST(count(*) FILTER (jaccard_e4 < {_TUNE_TRUE_E4} AND hit = 1) AS BIGINT) AS n_sub_hit
    FROM ph JOIN jc ON jc.doc_a = ph.doc_a AND jc.doc_b = ph.doc_b
    GROUP BY 1, 2
    """,
)
def q_band_tune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH banding tuner: for each (bands, rows) factoring
    of the 16-seed portable signature family, the measured any-band-
    collision rate on true near-dup pairs (exact Jaccard >= 0.8 —
    recall) and on sub-threshold pairs (0.5 <= j < 0.8 — the false-
    positive pressure a config admits into verification).  This is
    the 1-(1-s^r)^b S-curve (Leskovec-Rajaraman-Ullman, MMDS ch. 3)
    evaluated on THIS corpus with the same signatures production
    banding uses, so a config choice is data, not formula: fewer
    rows per band = higher recall AND more sub-threshold candidates
    — the table shows both sides of that trade at once.

    Scale shape: the pair domain comes from the shingle equi-join
    (never all-pairs); signatures are one grouped aggregate over
    shingles pruned to pair members (broadcast semi-join); the band
    logic is pure column expressions over 16 columns — the config
    explode multiplies the PAIR table (tiny) by 4, never the
    corpus."""

    def hit(bands: int, rows: int) -> F.Column:
        band_hits = []
        for band in range(bands):
            ks = range(band * rows, band * rows + rows)
            conj = None
            for k in ks:
                eq = F.col(f"a_{k}") == F.col(f"b_{k}")
                conj = eq if conj is None else (conj & eq)
            band_hits.append(conj)
        disj = band_hits[0]
        for bh in band_hits[1:]:
            disj = disj | bh
        return disj

    cfg = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(bnd).alias("bands"),
                    F.lit(r).alias("rows_per_band"),
                    hit(bnd, r).alias("hit"),
                )
                for bnd, r in _TUNE_CONFIGS
            ]
        )
    ).alias("cfg")
    is_true = F.col("jaccard_e4") >= _TUNE_TRUE_E4
    return (
        _pair_signatures(spark, sf_dir)
        .select("jaccard_e4", cfg)
        .select("jaccard_e4", "cfg.bands", "cfg.rows_per_band", "cfg.hit")
        .groupBy("bands", "rows_per_band")
        .agg(
            F.count(F.when(is_true, 1)).cast("long").alias("n_true"),
            F.count(F.when(is_true & F.col("hit"), 1)).cast("long").alias("n_true_hit"),
            F.count(F.when(~is_true, 1)).cast("long").alias("n_sub"),
            F.count(F.when(~is_true & F.col("hit"), 1)).cast("long").alias("n_sub_hit"),
        )
        .withColumn("bands", F.col("bands").cast("long"))
        .withColumn("rows_per_band", F.col("rows_per_band").cast("long"))
    )
