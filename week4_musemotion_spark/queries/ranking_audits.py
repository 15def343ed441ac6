"""Ranking agreement, intra-document repetition and numeric data QA:

- q_rank_overlap_rbo — rank-biased overlap (Webber et al. 2010)
  between the engine's two retrieval rankings (fixed-point BM25 vs
  integer tf·idf) in EXACT integer arithmetic: the p=0.9 geometric
  weights are pre-expanded to a common-denominator integer table in
  Python (one source renders into BOTH engines), so the top-weighted
  agreement number replays bit-for-bit — the monitor that catches a
  retrieval change silently reshuffling the head of the ranking.
- q_self_repetition_runs — maximal INTRA-document repeated substring
  runs (same gaps-and-islands machinery as q_substring_runs, on the
  self-join diagonal shift): the loop-generated-garbage signal
  (a sentence repeated 40× inside one doc) that whole-doc ratios
  blur; per-doc occurrence cap documented (the degenerate all-same-
  token doc is q_repetition's top_token_ratio's job).
- q_benford_audit — first-significant-digit distribution of order
  prices vs Benford's law in exact ppm (expected shares are
  Python-precomputed integer constants — no engine log math):
  the numeric-column QA that flags synthetic or truncated money
  columns before they poison downstream stats.

Differential evidence: the ``*_matches_oracle`` tests (Spark vs DuckDB at
sf0.001 via conftest.oracle_diff; sf0.01/sf0.1 via
``tools/check_correctness.py``).
"""

from __future__ import annotations

import math
from decimal import Decimal
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from week4_musemotion_spark.functions.exact import cents, cents_sql, dec, int_div_trunc
from week4_musemotion_spark.functions.hashing import stable_hash64, stable_hash64_sql
from week4_musemotion_spark.queries.registry import REGISTRY, query

from week4_musemotion_spark.queries.extensions import _shingle_expr
from week4_musemotion_spark.sources.tables import load_table, spread

# ---------------------------------------------------------------------------
# Rank-biased overlap, exact integers
# ---------------------------------------------------------------------------

#: RBO depth and persistence: top-20 lists, p = 9/10 (the paper's
#: "a reader scans ~10 results" setting).
_RBO_K = 20
_RBO_P_NUM, _RBO_P_DEN = 9, 10


def _rbo_coeffs() -> tuple[list[int], int]:
    """Exact integer expansion of (1−p)·p^(d−1)/d for d = 1..K over
    the common denominator D = 10^K · lcm(1..K): RBO_min =
    Σ num_d · X_d / D where X_d is the overlap of the two depth-d
    prefixes.  Pure Python big-int arithmetic; the largest
    intermediate (Σ num_d · X_d · 10^6 ≈ 2·10^35) sits inside both
    decimal(38,0) and HUGEINT."""
    lcm = reduce(lambda a, b: a * b // math.gcd(a, b), range(1, _RBO_K + 1), 1)
    d_total = _RBO_P_DEN**_RBO_K * lcm
    nums = [
        (_RBO_P_DEN - _RBO_P_NUM)
        * _RBO_P_NUM ** (d - 1)
        * _RBO_P_DEN ** (_RBO_K - d)
        * (lcm // d)
        for d in range(1, _RBO_K + 1)
    ]
    return nums, d_total


_RBO_NUMS, _RBO_D = _rbo_coeffs()
#: SQL CASE mapping depth → exact coefficient (the SAME integer list
#: renders the Spark expression, so the two engines cannot drift).
_RBO_COEF_SQL = "CASE d " + " ".join(
    f"WHEN {d} THEN CAST('{n}' AS HUGEINT)" for d, n in enumerate(_RBO_NUMS, 1)
) + " END"


def _ranked_oracle(name: str) -> str:
    """Wrap a registered top-k oracle (ordered SELECT) with a
    row_number rank — deliberately NOT dense_rank: ties must map to
    DISTINCT depths or a depth-d prefix would hold more than d docs
    and overcount X_d past the RBO ceiling.  Nested WITH keeps the
    wrapped oracle's CTE names scoped."""
    return f"""SELECT doc_id,
               row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
        FROM ({REGISTRY[name].oracle})"""


@query(
    "q_rank_overlap_rbo",
    covers=("X-RBO",),
    oracle=f"""
    WITH a AS ({_ranked_oracle("q_bm25_topk")}),
    b AS ({_ranked_oracle("q_doc_search")}),
    c AS (SELECT greatest(a.rnk, b.rnk) AS m FROM a JOIN b USING (doc_id)),
    g AS (SELECT unnest(range(1, {_RBO_K + 1})) AS d),
    x AS (
        SELECT g.d, count(c.m) AS xd
        FROM g LEFT JOIN c ON c.m <= g.d
        GROUP BY g.d
    ),
    s AS (SELECT sum({_RBO_COEF_SQL} * xd) AS num,
                 max(CASE WHEN d = {_RBO_K} THEN xd END) AS overlap_k
          FROM x)
    SELECT CAST((SELECT count(*) FROM a) AS BIGINT) AS n_bm25,
           CAST((SELECT count(*) FROM b) AS BIGINT) AS n_tfidf,
           CAST(overlap_k AS BIGINT) AS overlap_topk,
           CAST(coalesce(num, 0) * 1000000 // CAST('{_RBO_D}' AS HUGEINT) AS BIGINT)
               AS rbo_min_ppm
    FROM s
    """,
)
def q_rank_overlap_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap between BM25 and tf·idf top-20
    retrieval (p = 0.9, RBO_min over truncated lists): head-weighted
    agreement — swapping ranks 1 and 2 moves it far more than
    swapping 19 and 20, which plain overlap@k cannot see.  The
    geometric weights are pre-expanded to ONE integer coefficient
    table (Python big-ints over a common denominator) rendered into
    both engines, so the statistic is exact — no float powers, no
    engine log/pow.

    This is the regression monitor for retrieval changes: a scorer
    tweak that preserves the set but reshuffles the head shows up
    here first (identical rankings score 1−p^K ≈ 878 423 ppm — the
    truncated-RBO ceiling, NOT 10^6; the docstring number IS the
    sanity bound).

    Plan: both rankings are top-k TakeOrderedAndProject pipelines;
    the comparison is a ≤k×k join plus a 20-row grid —
    driver-free and constant-size beyond the two retrieval scans."""
    from week4_musemotion_spark.queries.pipeline_ops import q_doc_search
    from week4_musemotion_spark.queries.corpus_accounting import q_bm25_topk

    # unpartitioned window = single partition by design: it ranks a
    # LIMIT-20 subtree (Spark's WindowExec warning is about unbounded
    # inputs; this one is constant-size at any corpus scale)
    wr = Window.orderBy(F.desc("score"), "doc_id")
    a = q_bm25_topk(spark, sf_dir).select("doc_id", F.row_number().over(wr).alias("ra"))
    b = q_doc_search(spark, sf_dir).select("doc_id", F.row_number().over(wr).alias("rb"))
    # ONE full-outer merge feeds both the prefix-overlap branch and
    # the list-size counts; localCheckpoint pins the <= 2k rows so
    # neither branch re-executes a retrieval pipeline (branch-reuse,
    # SCALING.md) — the query costs exactly two retrieval scans
    merged = a.join(b, "doc_id", "full_outer").select("ra", "rb").localCheckpoint(
        eager=False
    )
    c = merged.filter(F.col("ra").isNotNull() & F.col("rb").isNotNull()).select(
        F.greatest("ra", "rb").alias("m")
    )
    grid = spark.range(1, _RBO_K + 1).select(F.col("id").cast("int").alias("d"))
    x = (
        grid.join(c, c["m"] <= grid["d"], "left")
        .groupBy("d")
        .agg(F.count("m").alias("xd"))
    )
    coef = None
    for d, n in enumerate(_RBO_NUMS, 1):
        lit = F.lit(Decimal(n))
        coef = F.when(F.col("d") == d, lit) if coef is None else coef.when(F.col("d") == d, lit)
    s = x.agg(
        F.coalesce(F.sum(dec(coef) * F.col("xd")), F.lit(0)).alias("num"),
        F.max(F.when(F.col("d") == _RBO_K, F.col("xd"))).alias("overlap_k"),
    )
    counts = merged.agg(
        F.count("ra").alias("n_bm25"), F.count("rb").alias("n_tfidf")
    )
    return (
        s.crossJoin(counts)  # 1-row × 1-row
        .select(
            F.col("n_bm25").cast("long"),
            F.col("n_tfidf").cast("long"),
            F.col("overlap_k").cast("long").alias("overlap_topk"),
            int_div_trunc(dec(F.col("num")) * 1_000_000, F.lit(Decimal(_RBO_D))).alias(
                "rbo_min_ppm"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Intra-document repeated substrings
# ---------------------------------------------------------------------------

#: Gram size for self-repetition: 6 tokens — long enough that a
#: repeated gram inside ONE doc implies copied/looped text.
_SR_N = 6
#: Per-(doc, gram) occurrence cap: a gram repeating more than this
#: many times inside one doc would blow the within-doc position join
#: quadratically; such degenerate docs are already nailed by
#: q_repetition's top-token/top-bigram mass ratios, so the run
#: report caps and defers (documented precision/size trade, the
#: intra-doc analogue of q_winnow_pairs' stop-print cutoff).
_SR_MAXOCC = 16
_SR_MIN_GRAMS = 2
_SR_TOPK = 100
#: The corpus carries NO intra-document repetition at any SF, so the
#: query synthesizes the looped-text pathology deterministically
#: (q_pii_scrub's pattern: a dirty column built identically on both
#: engines): docs with doc_id % 5 == 0 get their first _SR_BLOCK
#: tokens appended 2 + doc_id % 3 more times — a period-_SR_BLOCK
#: repeat the detector must find with the right cycle length.
_SR_BLOCK = 8
#: DuckDB range(n) is 0..n-1, length n == 2 + doc_id % 3 repeats
_SR_REPS_SQL = "2 + doc_id % 3"



@query(
    "q_self_repetition_runs",
    covers=("X-SELF-REPETITION",),
    oracle=f"""
    WITH tok AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS ts FROM documents),
    dirty AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0
                    THEN ts || flatten(list_transform(range({_SR_REPS_SQL}), i -> ts[1:{_SR_BLOCK}]))
                    ELSE ts END AS ts
        FROM tok
    ),
    g AS (SELECT doc_id, unnest({_shingle_expr(_SR_N)}) AS s,
                 unnest(range(0, len(ts) - {_SR_N - 1})) AS pos
          FROM dirty WHERE len(ts) >= {_SR_N}),
    hx AS (SELECT doc_id, pos, {stable_hash64_sql("s")} AS h FROM g),
    occ AS (SELECT doc_id, h, count(*) AS c FROM hx GROUP BY 1, 2),
    keep AS (
        SELECT hx.doc_id, hx.pos, hx.h FROM hx
        JOIN occ ON hx.doc_id = occ.doc_id AND hx.h = occ.h
        WHERE occ.c BETWEEN 2 AND {_SR_MAXOCC}
    ),
    mt AS (
        SELECT a.doc_id, a.pos AS pa, b.pos - a.pos AS shift
        FROM keep a JOIN keep b
          ON a.doc_id = b.doc_id AND a.h = b.h AND a.pos < b.pos
    ),
    isl AS (
        SELECT doc_id, shift, pa,
               pa - row_number() OVER (PARTITION BY doc_id, shift ORDER BY pa) AS grp
        FROM mt
    ),
    runs AS (
        SELECT doc_id, shift, count(*) AS grams
        FROM isl GROUP BY doc_id, shift, grp
        HAVING count(*) >= {_SR_MIN_GRAMS}
    )
    SELECT doc_id,
           CAST(max(grams) + {_SR_N - 1} AS BIGINT) AS longest_repeat_tokens,
           CAST(count(*) AS BIGINT) AS n_runs,
           CAST(min(shift) AS BIGINT) AS min_period
    FROM runs GROUP BY doc_id
    ORDER BY longest_repeat_tokens DESC, doc_id LIMIT {_SR_TOPK}
    """,
)
def q_self_repetition_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal repeated substrings WITHIN each document: self-matches
    of 6-gram hashes at distinct positions, collapsed along the
    position-shift diagonal by gaps-and-islands — a doc that repeats
    a sentence k times shows a long run at shift = sentence length.
    This is the loop/template-generation signal inside ONE document
    (whole-doc ratios like distinct-token share blur it when the
    repeated block is a minority of a long doc); min_period is the
    repeat's cycle length in tokens.

    Plan: one gram explode → per-(doc, gram) occurrence count (the
    2..16 band kills unique grams and defers LONG degenerate docs —
    22+ identical tokens push a gram past 16 occurrences — to
    q_repetition's mass ratios; a SHORT degenerate doc of 7–21
    identical tokens stays in-band and honestly reports
    min_period = 1) → within-doc
    position self-join → one window + two aggregates, all keyed by
    (doc_id, shift); everything after the explode shuffles 8-byte
    hashes on doc-local keys.  LIMIT rides a total order."""
    from week4_musemotion_spark.functions.text import shingles, tokens

    d = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    ts = tokens("text")
    block = F.slice(ts, 1, _SR_BLOCK)
    reps = (F.pmod(F.col("doc_id"), F.lit(3)) + 2).cast("int")
    dirty = F.when(
        F.pmod(F.col("doc_id"), F.lit(5)) == 0,
        F.concat(ts, F.flatten(F.array_repeat(block, reps))),
    ).otherwise(ts)
    g = d.select("doc_id", F.posexplode(shingles(dirty, _SR_N)).alias("pos", "s"))
    hx = g.select("doc_id", "pos", stable_hash64(F.col("s")).alias("h"))
    occ = hx.groupBy("doc_id", "h").agg(F.count(F.lit(1)).alias("c"))
    keep = hx.join(
        occ.filter((F.col("c") >= 2) & (F.col("c") <= _SR_MAXOCC)), ["doc_id", "h"]
    ).select("doc_id", "pos", "h")
    a = keep.select("doc_id", F.col("pos").alias("pa"), "h")
    b = keep.select("doc_id", F.col("pos").alias("pb"), "h")
    mt = (
        a.join(b, ["doc_id", "h"])
        .filter(F.col("pa") < F.col("pb"))
        .select("doc_id", "pa", (F.col("pb") - F.col("pa")).alias("shift"))
    )
    wisl = Window.partitionBy("doc_id", "shift").orderBy("pa")
    isl = mt.withColumn("grp", F.col("pa") - F.row_number().over(wisl))
    runs = (
        isl.groupBy("doc_id", "shift", "grp")
        .agg(F.count(F.lit(1)).alias("grams"))
        .filter(F.col("grams") >= _SR_MIN_GRAMS)
    )
    return (
        runs.groupBy("doc_id")
        .agg(
            (F.max("grams") + (_SR_N - 1)).cast("long").alias("longest_repeat_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_runs"),
            F.min("shift").cast("long").alias("min_period"),
        )
        .orderBy(F.desc("longest_repeat_tokens"), "doc_id")
        .limit(_SR_TOPK)
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit
# ---------------------------------------------------------------------------

#: Expected Benford shares in ppm — Python-precomputed CONSTANTS
#: (round(log10(1 + 1/d) · 10^6)); no engine evaluates a log.
_BENFORD_PPM = {d: round(math.log10(1 + 1 / d) * 1_000_000) for d in range(1, 10)}
_BENFORD_CASE = "CASE fd " + " ".join(
    f"WHEN {d} THEN {p}" for d, p in _BENFORD_PPM.items()
) + " END"


@query(
    "q_benford_audit",
    covers=("X-BENFORD",),
    oracle=f"""
    WITH v AS (
        SELECT CAST(substr(CAST({cents_sql("o_totalprice")} AS VARCHAR), 1, 1)
                    AS BIGINT) AS fd
        FROM orders WHERE o_totalprice > 0
    ),
    c AS (SELECT fd, count(*) AS n FROM v GROUP BY fd),
    t AS (SELECT CAST(sum(n) AS HUGEINT) AS total FROM c)
    SELECT fd AS first_digit,
           CAST(n AS BIGINT) AS n_values,
           CAST(CAST(n AS HUGEINT) * 1000000 // total AS BIGINT) AS observed_ppm,
           CAST({_BENFORD_CASE} AS BIGINT) AS benford_ppm,
           CAST(abs(CAST(n AS HUGEINT) * 1000000 // total - {_BENFORD_CASE}) AS BIGINT)
               AS abs_dev_ppm
    FROM c CROSS JOIN t
    """,
)
def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of order prices vs
    Benford's law, in exact ppm: multi-magnitude money columns obey
    log10(1 + 1/d) closely, and a synthetic, truncated, or capped
    column snaps away from it — the classic numeric-QA screen run
    before trusting a numeric column's distribution.  The expected
    shares are Python-precomputed integer constants (no engine log),
    so the whole report is exact on both engines.

    The first digit comes from the cents-integer's decimal string —
    exact, locale-free, and identical in both engines (float
    formatting would not be).  Plan: per-row expression → 9-group
    aggregate → broadcast total; scan-bound."""
    o = load_table(spark, sf_dir, "orders")
    v = o.filter(F.col("o_totalprice") > 0).select(
        F.substring(cents("o_totalprice").cast("string"), 1, 1).cast("long").alias("fd")
    )
    c = v.groupBy("fd").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(F.sum("n").alias("total"))
    bc = None
    for d, p in _BENFORD_PPM.items():
        lit = F.lit(p)
        bc = F.when(F.col("fd") == d, lit) if bc is None else bc.when(F.col("fd") == d, lit)
    obs = int_div_trunc(dec(F.col("n")) * 1_000_000, F.col("total"))
    return c.crossJoin(t).select(  # 9 rows × 1 row
        F.col("fd").alias("first_digit"),
        F.col("n").cast("long").alias("n_values"),
        obs.alias("observed_ppm"),
        bc.cast("long").alias("benford_ppm"),
        F.abs(obs - bc).cast("long").alias("abs_dev_ppm"),
    )
