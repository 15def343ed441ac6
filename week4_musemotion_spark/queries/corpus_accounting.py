"""Corpus accounting under duplication, plus governance audits:

- q_effective_tokens — multiplicity-discounted corpus size: each
  document's tokens weighted by 1/|its near-dup cluster|, so a
  paragraph syndicated across 40 pages counts once, not 40 times.
  The honest denominator for mixing weights and training-budget
  math (raw token counts overstate duplicated sources; dedup-then-
  count understates sources whose "duplicates" are legitimate
  reprints you intend to keep).
- q_quasi_identifier_risk — k-anonymity audit over the corpus's
  metadata quasi-identifiers (source, lang, token-length bucket):
  documents whose QI group has fewer than k members are
  re-identification risks when metadata ships with the corpus
  (Sweeney 2002's k-anonymity, applied as a release gate).
- q_bm25_topk — BM25 retrieval (Robertson-Spärck Jones) in exact
  fixed-point integer arithmetic: every division is a truncating
  integer division evaluated in the same order on both engines, so
  the ranking replays bit-for-bit — the saturation + length-
  normalization upgrade over q_doc_search's plain tf·idf.
- q_seasonal_residuals — seasonal-naive drift (cnt − cnt 7 days
  earlier) over the DENSIFIED daily grid per event type: the
  weekly-pattern-aware companion to q_cusum_drift's level monitor.
- q_stream_counts_report — the streaming daily-count store
  (streaming/counts.py, additive-state txn-marker protocol) driven
  through the REAL foreachBatch body with one batch REPLAYED, then
  folded and value-compared against the plain batch count: the
  oracle hash certifies exactly-once for the additive branch of the
  streaming design rule (the idempotent-merge branch is pinned by
  q_stream_distinct_report).

Differential evidence: the ``*_matches_oracle`` tests (Spark vs DuckDB
at sf0.001 via conftest.oracle_diff; sf0.01/sf0.1 via
``tools/check_correctness.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from week4_musemotion_spark.functions.exact import dec, int_div_trunc
from week4_musemotion_spark.operators.dedup import jaccard_pairs
from week4_musemotion_spark.queries.extensions import (
    JACCARD_THRESHOLD,
    _closure_ctes,
    _jaccard_ctes,
    _lang_id_sql,
)
from week4_musemotion_spark.queries.registry import query

from week4_musemotion_spark.functions.eventtime import US_PER_DAY

# provenance's shared daily-grid and winnowing helpers
from week4_musemotion_spark.queries.provenance import (
    _WP_MIN_SHARED,
    _WW,
    _daily_dense,
    _daily_dense_sql,
    _winnow_sel_sql,
)
from week4_musemotion_spark.sources.sinks import cached_fixture
from week4_musemotion_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Multiplicity-discounted corpus size
# ---------------------------------------------------------------------------


@query(
    "q_effective_tokens",
    covers=("X-EFFECTIVE-TOKENS",),
    oracle=f"""
    WITH RECURSIVE {_closure_ctes(JACCARD_THRESHOLD)},
    csz AS (SELECT keep_id, count(*) AS csize FROM cl GROUP BY keep_id),
    mem AS (SELECT cl.doc_id, csz.csize FROM cl JOIN csz USING (keep_id)),
    t AS (
        SELECT d.source,
               len(list_filter(string_split_regex(d.text, '\\s+'), w -> w != '')) AS n_tokens,
               coalesce(m.csize, 1) AS csize
        FROM documents d LEFT JOIN mem m USING (doc_id)
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS raw_tokens,
           CAST(sum(n_tokens * 1000000 // csize) AS BIGINT) AS effective_tokens_e6,
           CAST(CAST(sum(n_tokens * 1000000 // csize) AS HUGEINT) * 1000000
                // (CAST(sum(n_tokens) AS HUGEINT) * 1000000) AS BIGINT) AS retention_ppm
    FROM t GROUP BY source
    """,
)
def q_effective_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiplicity-discounted corpus size per source: every document
    contributes ``n_tokens / |its near-dup cluster|`` (singletons
    divide by 1), in exact millionths — the honest token budget for
    mixing weights.  Raw counts overstate syndicated sources; a
    hard keep-one dedup count understates sources whose duplicates
    are deliberate reprints; the discounted sum is the fixed point
    both converge to, and retention_ppm is the per-source "how much
    of it is really there" ratio.

    Plan: near-dup pairs (banded) → CC → cluster sizes joined back
    to members (two aggregates + one join on keep_id, all tiny) →
    ONE corpus scan left-joined to the membership table on doc_id —
    the token counting rides the scan projection; nothing quadratic
    anywhere.  Per-doc truncating division matches the oracle
    bit-for-bit (non-negative operands)."""
    docs = load_table(spark, sf_dir, "documents")
    from week4_musemotion_spark.functions.text import tokens

    clusters = jaccard_pairs(docs, JACCARD_THRESHOLD)
    from week4_musemotion_spark.operators.graph import dedup_clusters

    cl = dedup_clusters(clusters)
    csz = cl.groupBy("keep_id").agg(F.count(F.lit(1)).alias("csize"))
    mem = cl.join(csz, "keep_id").select("doc_id", "csize")
    t = (
        docs.select("doc_id", "source", F.size(tokens("text")).cast("long").alias("n_tokens"))
        .join(mem, "doc_id", "left")
        .select(
            "source",
            "n_tokens",
            F.coalesce("csize", F.lit(1)).alias("csize"),
        )
    )
    eff = F.sum(int_div_trunc(dec(F.col("n_tokens")) * 1_000_000, F.col("csize")))
    raw = F.sum("n_tokens")
    return t.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        raw.cast("long").alias("raw_tokens"),
        eff.cast("long").alias("effective_tokens_e6"),
        int_div_trunc(dec(eff) * 1_000_000, dec(raw) * 1_000_000).alias("retention_ppm"),
    )


# ---------------------------------------------------------------------------
# k-anonymity quasi-identifier audit
# ---------------------------------------------------------------------------

#: Anonymity threshold: QI groups smaller than this are flagged.
_K_ANON = 5
#: Token-count bucket width for the length quasi-identifier — raw
#: lengths are near-unique (a fingerprint on their own); bucketing is
#: both the standard generalization step and what makes the audit
#: measure the METADATA risk rather than the length column's entropy.
_LEN_BUCKET = 32


@query(
    "q_quasi_identifier_risk",
    covers=("X-K-ANONYMITY",),
    oracle=f"""
    WITH t AS (
        SELECT source, lang,
               len(list_filter(string_split_regex(text, '\\s+'), w -> w != ''))
                 // {_LEN_BUCKET} AS len_bucket
        FROM documents
    ),
    g AS (
        SELECT source, lang, len_bucket, count(*) AS gsize
        FROM t GROUP BY 1, 2, 3
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(count(*) FILTER (gsize < {_K_ANON}) AS BIGINT) AS risky_groups,
           CAST(coalesce(sum(gsize) FILTER (gsize < {_K_ANON}), 0) AS BIGINT) AS risky_docs,
           CAST(min(gsize) AS BIGINT) AS min_group,
           CAST(CAST(coalesce(sum(gsize) FILTER (gsize < {_K_ANON}), 0) AS HUGEINT) * 1000000
                // sum(gsize) AS BIGINT) AS risky_ppm
    FROM g GROUP BY source
    """,
)
def q_quasi_identifier_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the corpus's metadata quasi-identifiers
    (source, lang, token-length bucket of {_LEN_BUCKET}): a document
    whose QI combination matches fewer than {_K_ANON} documents is a
    re-identification risk if the metadata ships with a released
    corpus — the release gate reports, per source, how many QI groups
    and documents sit below k and the worst (smallest) group.

    Plan: the QI tuple is computed in the scan projection, then ONE
    hash aggregate to group sizes and a second tiny aggregate to the
    per-source report — two shuffles of ever-shrinking data, nothing
    else.  Generalization knobs (bucket width, k) are compile-time
    constants so the audit is reproducible across runs and engines."""
    docs = load_table(spark, sf_dir, "documents")
    from week4_musemotion_spark.functions.text import tokens

    t = docs.select(
        "source",
        "lang",
        int_div_trunc(F.size(tokens("text")).cast("long"), F.lit(_LEN_BUCKET)).alias(
            "len_bucket"
        ),
    )
    g = t.groupBy("source", "lang", "len_bucket").agg(F.count(F.lit(1)).alias("gsize"))
    risky = F.sum(F.when(F.col("gsize") < _K_ANON, F.col("gsize")).otherwise(F.lit(0)))
    return g.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(F.when(F.col("gsize") < _K_ANON, 1).otherwise(0)).cast("long").alias("risky_groups"),
        risky.cast("long").alias("risky_docs"),
        F.min("gsize").cast("long").alias("min_group"),
        int_div_trunc(dec(risky) * 1_000_000, F.sum("gsize")).alias("risky_ppm"),
    )


# ---------------------------------------------------------------------------
# BM25 retrieval, exact fixed-point integers
# ---------------------------------------------------------------------------

#: BM25 constants in thousandths: k1 = 1.2, b = 0.75 — the standard
#: defaults, carried as integers so both engines evaluate identical
#: truncating divisions.
_BM25_K1_E3 = 1200
_BM25_B_E3 = 750
_BM25_TOPK = 20
_BM25_TERMS = ("dup", "join", "scan")
_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)


@query(
    "q_bm25_topk",
    covers=("X-BM25",),
    oracle=f"""
    WITH tok AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS ts
        FROM documents
    ),
    dl AS (SELECT doc_id, len(ts) AS dl FROM tok),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(len(ts)) AS BIGINT) AS total_tokens
          FROM tok),
    hits AS (SELECT doc_id, unnest(ts) AS term FROM tok),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM hits
           WHERE term IN ({_BM25_TERMS_SQL}) GROUP BY 1, 2),
    dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM hits
            WHERE term IN ({_BM25_TERMS_SQL}) GROUP BY term),
    scored AS (
        SELECT tf.doc_id, tf.term,
               -- HUGEINT: mirrors the Spark side's dec() widening so
               -- idf*tf*(k1+1) cannot overflow BIGINT at scale
               CAST((n.n_docs * 1000) // dfq.df AS HUGEINT) AS idf_int,
               (dl.dl * 1000 * n.n_docs) // n.total_tokens AS r_e3,
               tf.tf
        FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN n
    ),
    contrib AS (
        SELECT doc_id,
               (idf_int * tf * ({_BM25_K1_E3} + 1000))
                 // (tf * 1000
                     + ({_BM25_K1_E3} * (1000 - {_BM25_B_E3}
                                         + ({_BM25_B_E3} * r_e3) // 1000)) // 1000)
                   AS c
        FROM scored
    )
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS score,
           CAST(count(*) AS BIGINT) AS n_terms_hit
    FROM contrib GROUP BY doc_id
    ORDER BY score DESC, doc_id LIMIT {_BM25_TOPK}
    """,
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-{_BM25_TOPK} retrieval in exact fixed-point integers:
    per (doc, term) contribution ``idf · tf·(k1+1) / (tf + k1·(1 − b
    + b·dl/avgdl))`` with k1 = 1.2, b = 0.75, every ratio carried in
    thousandths and every division truncating — both engines evaluate
    the identical nested integer expression, so the ranking (and the
    scores themselves) replay bit-for-bit.  This is the saturation +
    length-normalization upgrade over q_doc_search's raw tf·idf: a
    200-hit spam doc no longer drowns a 3-hit short doc (tf
    saturates at ~k1+1), and long documents pay their length.

    The idf is q_doc_search's integer rarity weight ``(N·1000) div
    df`` — log-free on purpose (libm log differs in the last ulp
    across engines; the integer weight is monotone in the same
    order).  Plan: term filter lands before the tf aggregate (only
    matching tokens shuffle), df/doclen/corpus stats broadcast back,
    top-k via TakeOrderedAndProject; the token stream never
    materializes beyond the scan stage."""
    from week4_musemotion_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", tokens("text").alias("ts"))
    dl = tok.select("doc_id", F.size("ts").cast("long").alias("dl"))
    n = tok.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size("ts")).cast("long").alias("total_tokens"),
    )
    hits = tok.select("doc_id", F.explode("ts").alias("term")).filter(
        F.col("term").isin(*_BM25_TERMS)
    )
    tf = hits.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfq = hits.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = (
        tf.join(F.broadcast(dfq), "term")
        .join(dl, "doc_id")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            int_div_trunc(F.col("n_docs") * 1000, F.col("df")).alias("idf_int"),
            int_div_trunc(
                F.col("dl") * 1000 * F.col("n_docs"), F.col("total_tokens")
            ).alias("r_e3"),
            "tf",
        )
    )
    norm_e3 = F.lit(1000 - _BM25_B_E3) + int_div_trunc(
        F.lit(_BM25_B_E3) * F.col("r_e3"), F.lit(1000)
    )
    denom_e3 = F.col("tf") * 1000 + int_div_trunc(F.lit(_BM25_K1_E3) * norm_e3, F.lit(1000))
    contrib = scored.select(
        "doc_id",
        int_div_trunc(
            dec(F.col("idf_int")) * F.col("tf") * (_BM25_K1_E3 + 1000), denom_e3
        ).alias("c"),
    )
    return (
        contrib.groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("score"),
            F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
        )
        .orderBy(F.desc("score"), "doc_id")
        .limit(_BM25_TOPK)
    )


# ---------------------------------------------------------------------------
# Seasonal-naive residual drift
# ---------------------------------------------------------------------------

_SEASON = 7


@query(
    "q_seasonal_residuals",
    covers=("X-SEASONAL-RESIDUALS",),
    oracle=f"""
    WITH {_daily_dense_sql()},
    r AS (
        SELECT event_type, day_idx, cnt,
               cnt - lag(cnt, {_SEASON}) OVER (PARTITION BY event_type ORDER BY day_idx)
                   AS resid
        FROM dense
    )
    SELECT event_type,
           CAST(count(resid) AS BIGINT) AS n_resid,
           CAST(sum(abs(resid)) AS BIGINT) AS sum_abs_resid,
           CAST(max(abs(resid)) AS BIGINT) AS max_abs_resid,
           CAST(-(max({{'a': abs(resid), 'nd': -day_idx}}).nd) AS BIGINT) AS peak_day_idx
    FROM r WHERE resid IS NOT NULL
    GROUP BY event_type
    """,
)
def q_seasonal_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive residual drift per event type: today's count
    minus the count {_SEASON} days earlier over the DENSIFIED daily
    grid (missing days carry cnt = 0, so the lag is always exactly
    {_SEASON} calendar days — a row-lag over a gappy grid would
    silently compare across gaps).  The weekly-difference series is
    the standard first monitor for traffic with day-of-week
    structure: a level shift shows up once, a broken weekday pattern
    shows up every day, and CUSUM-style level drift (q_cusum_drift)
    stays quiet on pure pattern changes — run both.

    All window work happens on the tiny |types|×|days| grid; the
    corpus shuffle is the grouped count.  Peak day rides the same
    aggregate via struct-max with earliest-day tie-break, exact
    integers end to end."""
    from pyspark.sql import Window

    dense = _daily_dense(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("day_idx")
    r = dense.select(
        "event_type",
        "day_idx",
        (F.col("cnt") - F.lag("cnt", _SEASON).over(w)).alias("resid"),
    ).filter(F.col("resid").isNotNull())
    return r.groupBy("event_type").agg(
        F.count("resid").cast("long").alias("n_resid"),
        F.sum(F.abs("resid")).cast("long").alias("sum_abs_resid"),
        F.max(F.abs("resid")).cast("long").alias("max_abs_resid"),
        (-F.max(
            F.struct(F.abs("resid").alias("a"), (-F.col("day_idx")).alias("nd"))
        ).getField("nd")).cast("long").alias("peak_day_idx"),
    )


# ---------------------------------------------------------------------------
# Streaming daily-count store report (fixture-driven, value-oracled)
# ---------------------------------------------------------------------------

_COUNT_BATCHES = 3


def _build_count_store(spark: SparkSession, sf_dir: str, tmp: str) -> None:
    """Run the REAL streaming sink body deterministically: events
    split into ordered micro-batches by event_id residue, each pushed
    through make_count_sink (the foreachBatch body).  Batch 1 is
    pushed TWICE — a committed-batch replay — so the exactly-once
    marker protocol is part of what the value oracle certifies (an
    additive store without markers would double-count and fail the
    hash compare)."""
    import os

    from week4_musemotion_spark.functions.eventtime import epoch_micros
    from week4_musemotion_spark.streaming.counts import make_count_sink

    def _daily(batch: DataFrame) -> DataFrame:
        day = int_div_trunc(epoch_micros(batch), F.lit(US_PER_DAY))
        return batch.groupBy("event_type", day.alias("day_idx")).agg(
            F.count(F.lit(1)).alias("cnt")
        )

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "ts")
    sink = make_count_sink(os.path.join(tmp, "store"), _daily)
    for b in range(_COUNT_BATCHES):
        sink(ev.filter(F.col("event_id") % _COUNT_BATCHES == b), b)
        if b == 1:
            sink(ev.filter(F.col("event_id") % _COUNT_BATCHES == b), b)  # replay


def _count_store_fixture(spark: SparkSession, sf_dir: str) -> str:
    return cached_fixture(
        "musemotion_count_store",
        sf_dir,
        f"count_store:{_COUNT_BATCHES}".encode(),
        lambda tmp: _build_count_store(spark, sf_dir, tmp),
        table="events",  # fingerprint the table the store is BUILT from
    )


@query(
    "q_stream_counts_report",
    covers=("X-STREAM-COUNTS",),
    oracle=f"""
    SELECT event_type,
           CAST(epoch_us(ts) // {US_PER_DAY} AS BIGINT) AS day_idx,
           CAST(count(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1, 2
    """,
)
def q_stream_counts_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming daily-count store read back: events pushed
    through the REAL foreachBatch body (streaming/counts.py) in
    ordered micro-batches — WITH one committed batch replayed — then
    the committed partial log folded to totals.  The oracle is the
    plain batch daily count, so a hash match certifies the additive
    txn-marker protocol end to end: partials appended exactly once
    under replay, torn attempts excluded, fold equals truth.

    This is the additive-state counterpart of q_stream_distinct_report
    (whose HLL store is exactly-once by idempotent-merge algebra and
    needs no markers) — together the two queries pin BOTH branches of
    the streaming design rule under the value oracle."""
    import os

    from week4_musemotion_spark.streaming.counts import read_daily_counts

    fixture = _count_store_fixture(spark, sf_dir)
    out = read_daily_counts(spark, os.path.join(fixture, "store"))
    return out.select(
        "event_type", F.col("day_idx").cast("long"), F.col("cnt").cast("long")
    )


def _compacted_count_store_fixture(spark: SparkSession, sf_dir: str) -> str:
    """The count-store fixture after ``compact_counts`` folded the
    committed partial log into one batch — built by copying the base
    fixture (content-identical by the compaction contract) and
    compacting the copy."""
    import os
    import shutil

    from week4_musemotion_spark.streaming.counts import compact_counts

    base = _count_store_fixture(spark, sf_dir)

    def _build(tmp: str) -> None:
        shutil.copytree(base, tmp)
        compact_counts(spark, os.path.join(tmp, "store"))

    return cached_fixture(
        "musemotion_count_store_compacted",
        sf_dir,
        f"count_store_compacted:{_COUNT_BATCHES}".encode(),
        _build,
        table="events",
    )


@query(
    "q_stream_counts_compacted",
    covers=("X-STREAM-COUNTS-COMPACT",),
    oracle=f"""
    SELECT event_type,
           CAST(epoch_us(ts) // {US_PER_DAY} AS BIGINT) AS day_idx,
           CAST(count(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1, 2
    """,
)
def q_stream_counts_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME totals after ``compact_counts`` folded the partial
    log into one ``bid-c1`` batch — driver evidence that the
    manifest-flip compaction is content-preserving: the oracle is
    IDENTICAL to q_stream_counts_report's, so a fold that
    double-counts a batch (originals + compacted both read), drops
    one, or mutates a cell hash-fails.  Compaction is what keeps a
    month-old monitor's read at O(groups × days) instead of
    O(#micro-batches) file opens."""
    import os

    from week4_musemotion_spark.streaming.counts import read_daily_counts

    fixture = _compacted_count_store_fixture(spark, sf_dir)
    out = read_daily_counts(spark, os.path.join(fixture, "store"))
    return out.select(
        "event_type", F.col("day_idx").cast("long"), F.col("cnt").cast("long")
    )


# ---------------------------------------------------------------------------
# Language confusion matrix (declared vs detected)
# ---------------------------------------------------------------------------


@query(
    "q_lang_confusion",
    covers=("X-LANG-CONFUSION",),
    oracle=f"""
    WITH p AS ({_lang_id_sql()})
    SELECT declared_lang, lang_pred,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(marker_hits) AS BIGINT) AS marker_hits
    FROM p GROUP BY 1, 2
    """,
)
def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the corpus's DECLARED language column
    against the engine's marker-based detector (q_lang_id's exact
    semantics, shared oracle fragment): off-diagonal cells are
    mislabeled shards — the audit a multilingual mixing run must
    pass before trusting the lang column for temperature weights
    (q_source_mixture rebalances BY lang; feeding it mislabeled
    docs silently skews the mixture).  marker_hits per cell shows
    whether a disagreement is confident (many markers for the other
    language) or evidence-free ('und' rows).

    Plan: the detector is per-row expression work on the scan; the
    matrix is one |langs|² aggregate."""
    from week4_musemotion_spark.operators.textstats import lang_id

    p = lang_id(load_table(spark, sf_dir, "documents"))
    return p.groupBy("declared_lang", "lang_pred").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("marker_hits").cast("long").alias("marker_hits"),
    )


# ---------------------------------------------------------------------------
# Winnowing recall vs exact Jaccard
# ---------------------------------------------------------------------------


@query(
    "q_winnow_recall",
    covers=("X-WINNOW-RECALL",),
    oracle=f"""
    WITH RECURSIVE {_jaccard_ctes(JACCARD_THRESHOLD)},
    jacp AS (SELECT doc_a, doc_b FROM pairs),
    {_winnow_sel_sql(prefix="w_")},
    fp AS (SELECT DISTINCT doc_id, selkey >> 20 AS ph
           FROM w_sel WHERE pos >= {_WW - 1}),
    wp AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        FROM fp a JOIN fp b ON a.ph = b.ph AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    j AS (
        SELECT jacp.doc_a, coalesce(wp.shared, 0) AS shared
        FROM jacp LEFT JOIN wp USING (doc_a, doc_b)
    )
    SELECT CAST(count(*) AS BIGINT) AS jaccard_pairs,
           CAST(count(*) FILTER (shared >= 1) AS BIGINT) AS caught_1,
           CAST(count(*) FILTER (shared >= {_WP_MIN_SHARED}) AS BIGINT) AS caught_min,
           CAST(CAST(count(*) FILTER (shared >= 1) AS HUGEINT) * 1000000
                // greatest(count(*), 1) AS BIGINT) AS recall_1_ppm,
           CAST(min(shared) AS BIGINT) AS min_shared
    FROM j
    """,
)
def q_winnow_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the winnowed print index against the EXACT Jaccard
    detector: of all true near-dup pairs (3-gram Jaccard ≥ 0.8), how
    many share ≥1 winnowed print (the index would surface them) and
    how many clear the pair report's ≥{_WP_MIN_SHARED}-print bar —
    the certification query for trading the full gram stream for the
    2/(w+1) print index (ann_recall_report's role, played for the
    text side).  The winnowing guarantee predicts a catch whenever a
    shared CONTIGUOUS run is ≥ w+k−1 = 11 tokens — and it is exactly
    sharp here: sf0.001's single miss (27/28) is a Jaccard-0.8 pair
    of 11- and 10-token docs whose longest shared run is 10 tokens,
    one below the bound (verified by direct run enumeration).  A
    recall drop below the measured floor flags a broken selection;
    the boundary miss is the theory working as stated.

    Note this intentionally skips q_winnow_pairs' stop-print df
    cutoff: recall is a property of the INDEX, measured before
    precision filters.

    Plan: both pair sets are bucketed equi-joins (shingle buckets /
    print buckets), the comparison is one left join on the tiny true
    pair set, and the report is a single row."""
    from week4_musemotion_spark.queries.provenance import _winnow_prints

    docs = load_table(spark, sf_dir, "documents")
    # branch-reuse pins (SCALING.md): jac feeds the candidate set
    # (twice, via the union), the final left join, and the report —
    # and fp self-joins against itself; without lineage truncation
    # Catalyst re-plans the whole jaccard/winnow pipeline once per
    # branch (measured: 84 scans / 109 exchanges unpinned vs one
    # pipeline each pinned)
    jac = (
        jaccard_pairs(docs, JACCARD_THRESHOLD)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=False)
    )
    fp = _winnow_prints(spark, sf_dir)
    # only prints of docs that appear in the (tiny) true pair set can
    # contribute a consumed row, so semi-join BEFORE the print
    # self-join — without it boilerplate prints fan out over the whole
    # corpus even though the left join reads only |jac| pairs (values
    # identical either way; the oracle keeps the unrestricted spec)
    cand = jac.select(F.col("doc_a").alias("doc_id")).union(
        jac.select(F.col("doc_b").alias("doc_id"))
    ).distinct()
    fp = fp.join(cand, "doc_id", "left_semi").localCheckpoint(eager=False)
    wp = (
        fp.select(F.col("doc_id").alias("doc_a"), "ph")
        .join(fp.select(F.col("doc_id").alias("doc_b"), "ph"), "ph")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    j = jac.join(wp, ["doc_a", "doc_b"], "left").select(
        F.coalesce("shared", F.lit(0)).alias("shared")
    )
    n = F.count(F.lit(1))
    # coalesce: a pair-free corpus must report 0, not NULL (the
    # oracle's count(*) FILTER yields 0 on empty input)
    caught1 = F.coalesce(F.sum(F.when(F.col("shared") >= 1, 1).otherwise(0)), F.lit(0))
    caught_min = F.coalesce(
        F.sum(F.when(F.col("shared") >= _WP_MIN_SHARED, 1).otherwise(0)), F.lit(0)
    )
    return j.agg(
        n.cast("long").alias("jaccard_pairs"),
        caught1.cast("long").alias("caught_1"),
        caught_min.cast("long").alias("caught_min"),
        int_div_trunc(dec(caught1) * 1_000_000, F.greatest(n, F.lit(1))).alias("recall_1_ppm"),
        F.min("shared").cast("long").alias("min_shared"),
    )
