"""Provenance forensics: who copied what, and whether dup detectors agree.

- q_winnow_density — winnowing fingerprint selection (Schleimer et
  al. 2003, the MOSS algorithm): per-source audit of selected-print
  density against the 2/(w+1) expectation.  The selection itself is
  ONE window-min over a packed (hash, position) integer key — the
  rightmost-min tie-break falls out of the key encoding, no argmin
  subquery, no self-join.
- q_winnow_pairs — document overlap via shared winnowed prints:
  the MOSS use case, a print equi-join over an index that is only
  ~2/(w+1) the size of the full gram stream (the winnowing guarantee:
  any shared run of w+k-1 tokens shares >= 1 selected print, so
  recall on long overlaps survives the 8x index shrink).
- q_substring_runs — maximal duplicated-substring runs (the signal
  behind exact-substring dedup, Lee et al. 2022): gaps-and-islands
  over diagonal-aligned gram matches turns position pairs into
  maximal runs with exact token lengths.
- q_detector_agreement — Cohen's kappa (exact ppm integer
  arithmetic) between the two independent near-dup detectors the
  engine ships (63-bit SimHash Hamming<=1 vs exact 3-gram
  Jaccard>=0.8) over the full C(n,2) pair universe — the monitoring
  query that catches one detector silently rotting.
- q_dedup_simhash_ngram / q_detector_agreement_ngram — the fix the
  kappa baseline demanded: SimHash moved into the SAME shingle
  feature space the Jaccard detector measures (distinct word
  3-grams, Hamming<=4), and the after-picture kappa line (~0.9 vs
  0.012) proving the two detectors now see the same duplicates.
- q_provenance_bits — per exact-dup-group source-provenance bitmask
  (bit_or of per-source bits): which source combinations ship
  identical content, sized in groups and docs.
- q_cusum_drift — integer CUSUM changepoint statistic over daily
  event counts per type: S_t = D*prefix_t - t*total stays in exact
  BIGINT (no mean floats), peak day + range as the drift verdict.

Differential evidence: the ``*_matches_oracle`` tests (Spark vs DuckDB at
sf0.001 via conftest.oracle_diff; sf0.01/sf0.1 via
``tools/check_correctness.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from week4_musemotion_spark.functions.eventtime import epoch_micros
from week4_musemotion_spark.functions.exact import dec, int_div_trunc
from week4_musemotion_spark.functions.hashing import stable_hash64, stable_hash64_sql
from week4_musemotion_spark.operators.dedup import jaccard_pairs, simhash_pairs
from week4_musemotion_spark.queries.extensions import (
    _SIMHASH_MAX_HAMMING,
    _SIMHASH_PAIR_BITS,
    JACCARD_THRESHOLD,
    _closure_ctes,
    _jaccard_ctes,
    _quality_e4_sql,
    _shingle_expr,
    _simhash_sql,
    _STOPLIST as _STOPLIST_SQL,
)
from week4_musemotion_spark.queries.registry import query
from week4_musemotion_spark.sources.tables import load_table, spread

# ---------------------------------------------------------------------------
# Winnowing (Schleimer, Wilkerson, Aiken 2003 — "Winnowing: Local
# Algorithms for Document Fingerprinting", the MOSS fingerprinter)
# ---------------------------------------------------------------------------

#: k-gram size for winnowing: 4 tokens — the noise threshold (any
#: shared 4-token gram counts as a match candidate).
_WK = 4
#: Window size w: every window of 8 consecutive gram hashes selects
#: one fingerprint, guaranteeing detection of shared runs of at least
#: w + k - 1 = 11 tokens while keeping ~2/(w+1) of positions.
_WW = 8
#: Packed-key layout: key = (hash % 2^40) * 2^20 + (2^20 - 1 - pos).
#: min(key) over a window is then EXACTLY winnowing's base rule
#: ("select the minimum hash; if there is more than one, select the
#: rightmost" — robust winnowing additionally prefers the previous
#: window's pick, which a pure window-min deliberately does NOT do) —
#: the position complement makes larger positions compare smaller
#: within a tied hash — and both halves unpack with pure integer
#: shifts.  40 + 20 = 60 bits keeps the key inside the engines'
#: shared BIGINT range; positions are bounded by the 2^20-token
#: document contract (testdata max is ~1e3), and BOTH engines raise
#: on a violating document rather than silently corrupting keys.
_H40 = 1 << 40
_POSM = 1 << 20

#: Pair-report knobs: prints shared by more than _WP_MAXDF docs are
#: boilerplate (stop-print cutoff — bounds the equi-join fanout the
#: same way stop-grams bound q_substring_runs); pairs need >=
#: _WP_MIN_SHARED surviving shared prints to report.
_WP_MAXDF = 16
_WP_MIN_SHARED = 3
_WP_TOPK = 200


def _gram_sql(n: int, cols: str = "doc_id", prefix: str = "") -> str:
    """Shared oracle CTE chain ``{prefix}tok`` → ``{prefix}g``:
    whitespace tokens → positioned n-gram stream (DuckDB zips the two
    unnests in one SELECT — lockstep expansion, exactly Spark's
    posexplode).  ONE definition serves the winnowing, substring-run,
    and shingle-SimHash oracles so a tokenization fix cannot
    desynchronize them (the Spark twin is ``functions.text.tokens``/
    ``shingles``, already shared).  ``prefix`` namespaces the CTEs
    when composed with other chains that also tokenize (e.g.
    _jaccard_ctes' own ``tok``)."""
    return f"""{prefix}tok AS (SELECT {cols}, list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS ts FROM documents),
    {prefix}g AS (SELECT {cols}, unnest({_shingle_expr(n)}) AS s,
                 unnest(range(0, len(ts) - {n - 1})) AS pos
          FROM {prefix}tok WHERE len(ts) >= {n})"""


def _winnow_sel_sql(prefix: str = "") -> str:
    """Shared oracle CTE chain: documents → gram stream with
    positions → packed keys → per-window min (``sel(doc_id, source,
    pos, selkey)``).  DuckDB zips the two unnests in one SELECT
    (lockstep expansion), which is exactly Spark's posexplode.
    ``prefix`` namespaces every CTE for composition with chains that
    also tokenize (forwarded to :func:`_gram_sql`)."""
    h = stable_hash64_sql("s")
    return f"""{_gram_sql(_WK, cols="doc_id, source", prefix=prefix)},
    {prefix}k AS (SELECT doc_id, source, pos,
                 ({h} % {_H40}) * {_POSM}
                 + ({_POSM - 1} - CASE WHEN pos < {_POSM} THEN pos
                                       ELSE error('winnow: document exceeds the 2^20-token contract') END) AS key
          FROM {prefix}g),
    {prefix}sel AS (SELECT doc_id, source, pos,
                   min(key) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS BETWEEN {_WW - 1} PRECEDING AND CURRENT ROW) AS selkey
            FROM {prefix}k)"""


def _winnow_selected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of :func:`_winnow_sel_sql`: one posexplode, one
    window-min — no argmin subquery, no position self-join.  The
    window partitions by (doc_id, source) so the per-doc aggregate
    downstream reuses the same hash partitioning (source is constant
    within a doc — same semantics, one Exchange total)."""
    d = spread(load_table(spark, sf_dir, "documents").select("doc_id", "source", "text"))
    from week4_musemotion_spark.functions.text import shingles, tokens

    g = d.select(
        "doc_id", "source", F.posexplode(shingles(tokens("text"), _WK)).alias("pos", "s")
    )
    # contract guard: a pos >= 2^20 would bleed the position
    # complement into the hash field, silently inverting the
    # tie-break — fail loudly instead (assert must ride the USED
    # expression or Catalyst prunes it; the oracle raises via the
    # matching CASE/error() in _winnow_sel_sql)
    pos_ok = F.assert_true(
        F.col("pos") < _POSM,
        F.lit("winnow: document exceeds the 2^20-token contract"),
    )
    key = (stable_hash64(F.col("s")) % F.lit(_H40)) * F.lit(_POSM) + (
        F.lit(_POSM - 1) - F.when(pos_ok.isNull(), F.col("pos"))
    )
    w = (
        Window.partitionBy("doc_id", "source")
        .orderBy("pos")
        .rowsBetween(-(_WW - 1), Window.currentRow)
    )
    return g.select("doc_id", "source", "pos", F.min(key).over(w).alias("selkey"))


def _winnow_prints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distinct winnowed prints of every document, ``(doc_id,
    ph)``: the selected key of each full window (``pos >= w-1``)
    with the position complement shifted off, so a print is the
    40-bit gram hash alone."""
    return (
        _winnow_selected(spark, sf_dir)
        .filter(F.col("pos") >= _WW - 1)
        .select("doc_id", F.shiftright("selkey", 20).alias("ph"))
        .distinct()
    )


@query(
    "q_winnow_density",
    covers=("X-WINNOW-DENSITY",),
    oracle=f"""
    WITH {_winnow_sel_sql()},
    pd AS (
        SELECT doc_id, source, max(pos) + 1 AS n_grams,
               count(DISTINCT CASE WHEN pos >= {_WW - 1} THEN selkey END) AS n_prints
        FROM sel GROUP BY 1, 2
    )
    SELECT source,
           CAST(sum(n_grams) AS BIGINT) AS n_grams,
           CAST(sum(n_prints) AS BIGINT) AS n_prints,
           CAST(CAST(sum(n_prints) AS HUGEINT) * 1000000
                // CAST(sum(n_grams) AS HUGEINT) AS BIGINT) AS density_ppm
    FROM pd GROUP BY source
    """,
)
def q_winnow_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint density per source: selected prints /
    gram positions, expected ≈ 2/(w+1) ≈ 222k ppm for w=8 (the paper's
    density bound for random hashes) — a drifting density flags a
    degenerate token distribution (e.g. boilerplate floods) before
    any pair join runs.

    Plan: posexplode → ONE window-min (packed key carries the
    rightmost-min tie-break) → per-doc aggregate on the SAME
    (doc_id, source) keys — Catalyst plans a single Exchange for
    window + both aggregates; prints never leave their doc partition.
    Windows shorter than w (pos < w-1) are warm-up rows, excluded
    exactly as the paper defines; docs shorter than k grams contribute
    nothing on either engine."""
    sel = _winnow_selected(spark, sf_dir)
    per_doc = sel.groupBy("doc_id", "source").agg(
        (F.max("pos") + 1).alias("n_grams"),
        F.countDistinct(
            F.when(F.col("pos") >= _WW - 1, F.col("selkey"))
        ).alias("n_prints"),
    )
    np_, ng = F.sum("n_prints"), F.sum("n_grams")
    return per_doc.groupBy("source").agg(
        ng.cast("long").alias("n_grams"),
        np_.cast("long").alias("n_prints"),
        int_div_trunc(dec(np_) * 1_000_000, ng).alias("density_ppm"),
    )


@query(
    "q_winnow_pairs",
    covers=("X-WINNOW-PAIRS",),
    oracle=f"""
    WITH {_winnow_sel_sql()},
    fp AS (SELECT DISTINCT doc_id, selkey >> 20 AS ph
           FROM sel WHERE pos >= {_WW - 1}),
    st AS (SELECT doc_id, ph,
                  count(*) OVER (PARTITION BY ph) AS nd,
                  count(*) OVER (PARTITION BY doc_id) AS nsz
           FROM fp),
    cap AS (SELECT * FROM st WHERE nd <= {_WP_MAXDF}),
    pr AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared,
               min(a.nsz) AS na, min(b.nsz) AS nb
        FROM cap a JOIN cap b ON a.ph = b.ph AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(shared AS BIGINT) AS shared_prints,
           CAST(na AS BIGINT) AS na_prints,
           CAST(nb AS BIGINT) AS nb_prints,
           CAST(shared * 1000000 // least(na, nb) AS BIGINT) AS containment_ppm
    FROM pr WHERE shared >= {_WP_MIN_SHARED}
    ORDER BY shared DESC, doc_a, doc_b LIMIT {_WP_TOPK}
    """,
)
def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-overlap pairs via shared winnowed fingerprints — the
    MOSS report: top pairs by shared print count with a
    containment score against the smaller doc's print set.

    Scale story: the join runs over the winnowed INDEX (~2/(w+1) ≈
    22% of gram positions, distinct-ed per doc), not the gram stream,
    and the stop-print cutoff (prints in > {_WP_MAXDF} docs are
    boilerplate) caps per-key fanout, so candidate volume tracks true
    overlap, never corpus².  The winnowing guarantee bounds recall
    BELOW the cutoff: any shared run of w+k-1 = 11 tokens shares at
    least one selected print on both sides (same hash, same local
    window content), so pairwise overlaps cannot evade the 8× index
    shrink.  The cutoff is a deliberate precision/size trade with a
    known blind spot: content replicated across MORE than
    {_WP_MAXDF} docs loses ALL its prints here — by design, because
    such mega-clusters are the exact-dedup layer's job
    (q_dedup_exact / q_provenance_bits catch byte-identical
    replication at any cluster size; MOSS drops high-df prints for
    the same reason).  LIMIT rides a total order (shared DESC,
    doc_a, doc_b)."""
    fp = _winnow_prints(spark, sf_dir)
    st = fp.select(
        "doc_id",
        "ph",
        F.count(F.lit(1)).over(Window.partitionBy("ph")).alias("nd"),
        F.count(F.lit(1)).over(Window.partitionBy("doc_id")).alias("nsz"),
    )
    cap = st.filter(F.col("nd") <= _WP_MAXDF)
    a = cap.select(F.col("doc_id").alias("doc_a"), "ph", F.col("nsz").alias("nsa"))
    b = cap.select(F.col("doc_id").alias("doc_b"), "ph", F.col("nsz").alias("nsb"))
    pr = (
        a.join(b, "ph")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("shared"),
            F.min("nsa").alias("na"),
            F.min("nsb").alias("nb"),
        )
        .filter(F.col("shared") >= _WP_MIN_SHARED)
    )
    return (
        pr.select(
            "doc_a",
            "doc_b",
            F.col("shared").cast("long").alias("shared_prints"),
            F.col("na").cast("long").alias("na_prints"),
            F.col("nb").cast("long").alias("nb_prints"),
            int_div_trunc(
                dec(F.col("shared")) * 1_000_000, F.least("na", "nb")
            ).alias("containment_ppm"),
        )
        .orderBy(F.desc("shared_prints"), "doc_a", "doc_b")
        .limit(_WP_TOPK)
    )


# ---------------------------------------------------------------------------
# Maximal duplicated-substring runs (exact-substring dedup signal —
# Lee et al. 2022, "Deduplicating Training Data Makes Language Models
# Better"; suffix-array substring dedup re-expressed as
# gram-anchored gaps-and-islands)
# ---------------------------------------------------------------------------

#: Gram anchor size for run detection (tokens): shared 8-grams imply
#: copied text on this vocabulary.
_RUN_N = 8
#: Stop-gram cutoff: grams occurring in more than this many docs are
#: template boilerplate; skipping them bounds the position join at
#: O(df² · positions) per gram — the standard suffix-dedup trick.
_RUN_MAXDF = 4
#: A "run" must chain at least this many consecutive aligned grams
#: (2 grams ⇒ ≥ n+1 = 9 copied tokens) — single-gram hits are noise.
_RUN_MIN_GRAMS = 2
_RUN_TOPK = 100


@query(
    "q_substring_runs",
    covers=("X-SUBSTRING-RUNS",),
    oracle=f"""
    WITH {_gram_sql(_RUN_N)},
    hx AS (SELECT doc_id, pos, {stable_hash64_sql("s")} AS h FROM g),
    df AS (SELECT h, count(DISTINCT doc_id) AS nd FROM hx GROUP BY h),
    keep AS (SELECT hx.* FROM hx JOIN df USING (h) WHERE df.nd BETWEEN 2 AND {_RUN_MAXDF}),
    mt AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.pos AS pa, a.pos - b.pos AS diag
        FROM keep a JOIN keep b ON a.h = b.h AND a.doc_id < b.doc_id
    ),
    isl AS (
        SELECT doc_a, doc_b, diag, pa,
               pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS grp
        FROM mt
    ),
    runs AS (
        SELECT doc_a, doc_b, count(*) AS grams, min(pa) AS start_a
        FROM isl GROUP BY doc_a, doc_b, diag, grp
        HAVING count(*) >= {_RUN_MIN_GRAMS}
    )
    SELECT doc_a, doc_b,
           CAST(max(grams) + {_RUN_N - 1} AS BIGINT) AS longest_run_tokens,
           CAST(count(*) AS BIGINT) AS n_runs,
           CAST(sum(grams) AS BIGINT) AS run_grams
    FROM runs GROUP BY doc_a, doc_b
    ORDER BY longest_run_tokens DESC, doc_a, doc_b LIMIT {_RUN_TOPK}
    """,
)
def q_substring_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated-substring runs between document pairs:
    aligned gram matches (same hash, same position diagonal)
    collapsed into maximal consecutive runs via gaps-and-islands
    (pos - row_number is constant exactly within a consecutive run),
    reported as exact token lengths (grams + n - 1).

    This is the per-pair signal of exact-substring dedup: a
    boilerplate paragraph repeated across otherwise-distinct pages
    shows up as one long run even when whole-doc Jaccard stays below
    every near-dup threshold.

    Plan shape: gram stream → doc-frequency filter (2 ≤ df ≤
    {_RUN_MAXDF}: unique grams can't match, high-df grams are
    template stop-grams — this caps join fanout) → position
    equi-join on the 8-byte hash → one window + two aggregates all
    keyed by (doc_a, doc_b[, diag]) — the window's partitioning is
    reused by both groupBys, so the run analysis costs one Exchange
    after the join.  Hash collisions gluing different grams appear
    with p ≈ n²/2^61 and the oracle hashes identically, so both
    engines agree bit-for-bit regardless."""
    from week4_musemotion_spark.functions.text import shingles, tokens

    d = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    g = d.select("doc_id", F.posexplode(shingles(tokens("text"), _RUN_N)).alias("pos", "s"))
    hx = g.select("doc_id", "pos", stable_hash64(F.col("s")).alias("h"))
    wdf = Window.partitionBy("h")
    # distinct-docs-per-gram without countDistinct: dense_rank over
    # doc_id peaks at the distinct count; max over the partition
    # broadcasts it back to every row (same single Exchange on h).
    ranked = hx.withColumn(
        "dr", F.dense_rank().over(Window.partitionBy("h").orderBy("doc_id"))
    ).withColumn("nd", F.max("dr").over(wdf))
    keep = ranked.filter((F.col("nd") >= 2) & (F.col("nd") <= _RUN_MAXDF)).select(
        "doc_id", "pos", "h"
    )
    a = keep.select(F.col("doc_id").alias("doc_a"), F.col("pos").alias("pa"), "h")
    b = keep.select(F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb"), "h")
    mt = (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "pa", (F.col("pa") - F.col("pb")).alias("diag"))
    )
    wisl = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    isl = mt.withColumn("grp", F.col("pa") - F.row_number().over(wisl))
    runs = (
        isl.groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(F.count(F.lit(1)).alias("grams"))
        .filter(F.col("grams") >= _RUN_MIN_GRAMS)
    )
    return (
        runs.groupBy("doc_a", "doc_b")
        .agg(
            (F.max("grams") + (_RUN_N - 1)).cast("long").alias("longest_run_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_runs"),
            F.sum("grams").cast("long").alias("run_grams"),
        )
        .orderBy(F.desc("longest_run_tokens"), "doc_a", "doc_b")
        .limit(_RUN_TOPK)
    )


# ---------------------------------------------------------------------------
# Detector agreement (Cohen's kappa, exact integer ppm)
# ---------------------------------------------------------------------------

#: Kappa algebra over a `sim(doc_a, doc_b)` CTE + the Jaccard `pairs`
#: CTE — ONE definition shared by both agreement queries so the two
#: kappa lines can never disagree on the statistic itself.
_KAPPA_TAIL_SQL = """
    jac AS (SELECT doc_a, doc_b FROM pairs),
    u AS (
        SELECT coalesce(s.doc_a, j.doc_a) AS doc_a,
               CASE WHEN s.doc_a IS NOT NULL THEN 1 ELSE 0 END AS sf,
               CASE WHEN j.doc_a IS NOT NULL THEN 1 ELSE 0 END AS jf
        FROM sim s FULL OUTER JOIN jac j
          ON s.doc_a = j.doc_a AND s.doc_b = j.doc_b
    ),
    c AS (
        SELECT CAST(sum(sf * jf) AS HUGEINT) AS both_cnt,
               CAST(sum(sf * (1 - jf)) AS HUGEINT) AS only_sim,
               CAST(sum((1 - sf) * jf) AS HUGEINT) AS only_jac
        FROM u
    ),
    n AS (SELECT CAST(count(*) AS HUGEINT) AS nd FROM documents),
    k AS (
        SELECT nd, nd * (nd - 1) // 2 AS np, both_cnt, only_sim, only_jac,
               nd * (nd - 1) // 2 - both_cnt - only_sim - only_jac AS neither
        FROM c CROSS JOIN n
    ),
    k2 AS (
        SELECT *,
               np * (both_cnt + neither)
                 - ((both_cnt + only_sim) * (both_cnt + only_jac)
                    + (np - both_cnt - only_sim) * (np - both_cnt - only_jac)) AS num,
               np * np
                 - ((both_cnt + only_sim) * (both_cnt + only_jac)
                    + (np - both_cnt - only_sim) * (np - both_cnt - only_jac)) AS den
        FROM k
    )
    SELECT CAST(nd AS BIGINT) AS n_docs,
           CAST(np AS BIGINT) AS n_pairs,
           CAST(both_cnt AS BIGINT) AS both_dup,
           CAST(only_sim AS BIGINT) AS simhash_only,
           CAST(only_jac AS BIGINT) AS jaccard_only,
           CAST((both_cnt + neither) * 1000000 // np AS BIGINT) AS agree_ppm,
           CAST(CASE WHEN num >= 0 THEN (num * 1000000) // den
                     ELSE -((-num * 1000000) // den) END AS BIGINT) AS kappa_ppm
    FROM k2"""


def _kappa_report(docs: DataFrame, sim: DataFrame, jac: DataFrame) -> DataFrame:
    """Spark twin of :data:`_KAPPA_TAIL_SQL`: exact-integer Cohen's
    kappa (decimal(38,0) throughout) between two pair detectors over
    the full C(n,2) universe, negative-negative cell by subtraction —
    the pair universe never materializes."""
    sim = sim.select("doc_a", "doc_b", F.lit(1).alias("sf"))
    jac = jac.select("doc_a", "doc_b", F.lit(1).alias("jf"))
    u = sim.join(jac, ["doc_a", "doc_b"], "full_outer").select(
        F.coalesce("sf", F.lit(0)).alias("sf"), F.coalesce("jf", F.lit(0)).alias("jf")
    )
    c = u.agg(
        F.sum(F.col("sf") * F.col("jf")).alias("both_cnt"),
        F.sum(F.col("sf") * (1 - F.col("jf"))).alias("only_sim"),
        F.sum((1 - F.col("sf")) * F.col("jf")).alias("only_jac"),
    )
    n = docs.agg(F.count(F.lit(1)).alias("nd"))
    k = c.crossJoin(n)  # 1-row × 1-row

    nd, bo, os_, oj = dec(F.col("nd")), dec(F.col("both_cnt")), dec(F.col("only_sim")), dec(F.col("only_jac"))
    np_ = int_div_trunc(nd * (nd - 1), F.lit(2))
    npd = dec(np_)
    neither = npd - bo - os_ - oj
    pos_s, pos_j = bo + os_, bo + oj
    neg_s, neg_j = npd - pos_s, npd - pos_j
    num = npd * (bo + neither) - (pos_s * pos_j + neg_s * neg_j)
    den = npd * npd - (pos_s * pos_j + neg_s * neg_j)
    kmag = int_div_trunc(F.abs(num) * 1_000_000, den)
    return k.select(
        F.col("nd").cast("long").alias("n_docs"),
        np_.alias("n_pairs"),
        F.col("both_cnt").cast("long").alias("both_dup"),
        F.col("only_sim").cast("long").alias("simhash_only"),
        F.col("only_jac").cast("long").alias("jaccard_only"),
        int_div_trunc((bo + neither) * 1_000_000, npd).alias("agree_ppm"),
        F.when(num >= 0, kmag).otherwise(-kmag).cast("long").alias("kappa_ppm"),
    )


@query(
    "q_detector_agreement",
    covers=("X-DETECTOR-AGREEMENT",),
    oracle=f"""
    WITH sh2 AS ({_simhash_sql(_SIMHASH_PAIR_BITS)}),
    sim AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sh2 a JOIN sh2 b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_MAX_HAMMING}
    ),
    {_jaccard_ctes(JACCARD_THRESHOLD)},
    {_KAPPA_TAIL_SQL}
    """,
)
def q_detector_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the engine's two independent near-dup
    detectors — 63-bit SimHash (Hamming ≤ 1) and exact 3-gram Jaccard
    (≥ 0.8) — over the full C(n,2) pair universe, in exact integer
    ppm (decimal(38,0) throughout: n_pairs² · 10^6 passes 2^63 well
    below warehouse scale, and a silent long wrap here would read as
    a detector-rot alarm).

    Chance-corrected agreement is the right monitor for paired
    detectors: raw agreement is ≈ 1 by construction (almost all pairs
    are negatives for both), so only kappa moves when one detector
    starts drifting.  The pair universe never materializes — the
    negative-negative cell is computed by subtraction from C(n,2).

    Baseline note: on this corpus kappa is small (~12k ppm) because
    the two detectors deliberately target different similarity bands
    — SimHash Hamming≤1 is a loose cosine band that fires on
    stopword-dominated pairs Jaccard 0.8 rejects — yet both_dup sits
    ~30× above the independence expectation, so kappa stays strictly
    positive.  The monitor thresholds on DRIFT of the whole
    confusion row (both/only_sim/only_jac/kappa), not on a large
    absolute kappa.

    Both detectors are already oracle-pinned individually
    (q_dedup_simhash_pairs, q_dedup_ngram_jaccard); this query pins
    their JOINT distribution."""
    docs = load_table(spark, sf_dir, "documents")
    return _kappa_report(
        docs,
        simhash_pairs(docs, _SIMHASH_MAX_HAMMING, bits=_SIMHASH_PAIR_BITS),
        jaccard_pairs(docs, JACCARD_THRESHOLD),
    )


# ---------------------------------------------------------------------------
# Shingle-space SimHash (feature-space fix the kappa monitor demanded)
# ---------------------------------------------------------------------------

#: SimHash over distinct word 3-grams — the SAME feature space the
#: Jaccard detector measures.  The unigram detector collapses on this
#: corpus (a small shared vocabulary correlates votes corpus-wide:
#: 611 firings vs Jaccard's 28, overlap 4, kappa 0.012); in shingle
#: space Hamming ≤ 4 of 63 bits fires almost exactly on the Jaccard
#: pair set (kappa ~0.9).  Banding: 5 bands of 13 bits, pigeonhole
#: recall intact.
_NG_SIMHASH_N = 3
_NG_SIMHASH_HAM = 4


def _simhash_ngram_sql(bits: int, n: int) -> str:
    """Oracle CTE chain ending in ``sig(doc_id, simhash)``: SimHash
    votes over per-doc DISTINCT shingle HASHES (the Spark side dedups
    on the same 60-bit portable hash, so the vote multiset is defined
    identically even under an md5 collision; group-by formulation —
    same sign rule as extensions._simhash_sql's list form)."""
    h = stable_hash64_sql("s")
    terms = " + ".join(
        f"CASE WHEN sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for j in range(bits)
    )
    return f"""{_gram_sql(n, prefix="sh_")},
    hxs AS (SELECT DISTINCT doc_id, {h} AS h FROM sh_g),
    sig AS (SELECT doc_id, CAST({terms} AS BIGINT) AS simhash FROM hxs GROUP BY doc_id)"""


@query(
    "q_dedup_simhash_ngram",
    covers=("X-DEDUP-SIMHASH-NGRAM",),
    oracle=f"""
    WITH {_simhash_ngram_sql(_SIMHASH_PAIR_BITS, _NG_SIMHASH_N)}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {_NG_SIMHASH_HAM}
    """,
)
def q_dedup_simhash_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs in SHINGLE feature space (distinct word
    3-grams, 63 bits, Hamming ≤ 4) — the detector the kappa monitor
    says to actually pair with n-gram Jaccard: same feature sets, so
    small Hamming distance tracks high shingle-Jaccard instead of
    unigram-vocabulary overlap (measured: every Hamming≤4 pair on
    this corpus is also a Jaccard≥0.8 pair).

    Plan: identical banded shape to q_dedup_simhash_pairs (pigeonhole
    over 5 bands of 13 bits — perfect recall, bucket equi-join, XOR
    verify), only the vote stream is the shingle explode.  Oracle is
    the exact quadratic scan over signatures."""
    return simhash_pairs(
        load_table(spark, sf_dir, "documents"),
        _NG_SIMHASH_HAM,
        bits=_SIMHASH_PAIR_BITS,
        ngram=_NG_SIMHASH_N,
    )


@query(
    "q_detector_agreement_ngram",
    covers=("X-DETECTOR-AGREEMENT-NGRAM",),
    oracle=f"""
    WITH {_simhash_ngram_sql(_SIMHASH_PAIR_BITS, _NG_SIMHASH_N)},
    sim AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {_NG_SIMHASH_HAM}
    ),
    {_jaccard_ctes(JACCARD_THRESHOLD)},
    {_KAPPA_TAIL_SQL}
    """,
)
def q_detector_agreement_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between shingle-space SimHash (Hamming ≤ 4) and
    3-gram Jaccard (≥ 0.8) — the after picture to
    q_detector_agreement's before: moving SimHash into the feature
    space the Jaccard detector measures lifts kappa from ~0.012 to
    ~0.9 on this corpus (the pair of kappa lines is itself the
    monitor: a detector change that re-opens the gap is a
    regression).  Same exact-integer algebra, same shared
    _KAPPA_TAIL_SQL — the two agreement queries cannot drift apart on
    the statistic.

    Plan: both detectors measure the SAME word-3-gram feature space,
    so one tokenize+shingle pass feeds both — the distinct (_id, s)
    shingle table is built once and pinned; SimHash hashes it with
    the portable md5 family, Jaccard with xxhash64 (each detector's
    own dedup/distinct is unchanged, so both pair sets are
    bit-identical to their standalone queries)."""
    docs = load_table(spark, sf_dir, "documents")
    from week4_musemotion_spark.operators.dedup import shingle_strings

    shd = shingle_strings(docs).distinct().localCheckpoint(eager=False)
    return _kappa_report(
        docs,
        simhash_pairs(
            docs,
            _NG_SIMHASH_HAM,
            bits=_SIMHASH_PAIR_BITS,
            ngram=_NG_SIMHASH_N,
            shingles=shd,
        ),
        jaccard_pairs(docs, JACCARD_THRESHOLD, shingles=shd),
    )


# ---------------------------------------------------------------------------
# Provenance bitmasks
# ---------------------------------------------------------------------------


@query(
    "q_provenance_bits",
    covers=("X-PROVENANCE-BITS",),
    oracle=f"""
    WITH r AS (
        SELECT source,
               CAST(row_number() OVER (ORDER BY source) - 1 AS BIGINT) AS rk
        FROM (SELECT DISTINCT source FROM documents)
    ),
    g AS (
        SELECT {stable_hash64_sql("text")} AS h,
               (CAST(1 AS BIGINT) << r.rk) AS bitv
        FROM documents d JOIN r USING (source)
    ),
    g1 AS (SELECT h, bit_or(bitv) AS mask, count(*) AS ndocs FROM g GROUP BY h)
    SELECT mask,
           CAST(bit_count(mask) AS BIGINT) AS n_sources,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(ndocs) AS BIGINT) AS n_docs
    FROM g1 GROUP BY mask
    """,
)
def q_provenance_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-provenance bitmask per exact-content group: which
    EXACT combinations of sources ship byte-identical documents, how
    many groups and docs per combination.  Multi-bit masks are the
    cross-source contamination map (licensing/quota decisions need
    the combination, not just a source count — bit_count gives the
    count for free).

    Plan: sources get stable bit positions from a 20-row sorted
    rank (broadcast back), then ONE hash aggregate folds doc bits
    into group masks and a second tiny aggregate histograms the
    masks; bit_or is a map-side-combinable monoid, so the corpus
    shuffle carries one long per (content-hash, partition).  The
    mask stays in one BIGINT through |sources| ≤ 63 — beyond that,
    switch to a sorted source-set string (documented, not needed on
    this corpus's 20)."""
    d = load_table(spark, sf_dir, "documents")
    srcs = (
        d.select("source")
        .distinct()
        .withColumn("rk", F.row_number().over(Window.orderBy("source")) - 1)
    )
    # spread() before the md5-over-full-text hashing: a single-row-
    # group scan would otherwise compute every content hash in one
    # task (no-op on wide production scans)
    g = spread(d.select("source", "text")).join(F.broadcast(srcs), "source").select(
        stable_hash64(F.col("text")).alias("h"),
        F.expr("shiftleft(CAST(1 AS BIGINT), rk)").alias("bitv"),
    )
    g1 = g.groupBy("h").agg(
        F.bit_or("bitv").alias("mask"), F.count(F.lit(1)).alias("ndocs")
    )
    return g1.groupBy("mask").agg(
        F.bit_count("mask").cast("long").alias("n_sources"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("ndocs").cast("long").alias("n_docs"),
    ).select("mask", "n_sources", "n_groups", "n_docs")


# ---------------------------------------------------------------------------
# Near-dup cluster forensics: source purity + quality bias
# ---------------------------------------------------------------------------

#: Recursive-CTE transitive closure over the Jaccard pair graph →
#: ``cl(doc_id, keep_id)`` — the shared fragment every dedup-cluster
#: oracle composes (extensions._closure_ctes).
_CLOSURE_SQL = _closure_ctes(JACCARD_THRESHOLD)


@query(
    "q_dup_cluster_purity",
    covers=("X-DUP-CLUSTER-PURITY",),
    oracle=f"""
    WITH RECURSIVE {_CLOSURE_SQL},
    mem AS (SELECT cl.keep_id, d.source
            FROM cl JOIN documents d USING (doc_id)),
    ps AS (SELECT keep_id, source, count(*) AS cnt FROM mem GROUP BY 1, 2),
    pc AS (SELECT keep_id,
                  CAST(sum(cnt) AS BIGINT) AS size,
                  CAST(count(*) AS BIGINT) AS n_sources,
                  max({{'c': cnt, 's': source}}) AS top
           FROM ps GROUP BY keep_id)
    SELECT keep_id AS cluster_id, size, n_sources,
           top.s AS majority_source,
           CAST(top.c * 1000000 // size AS BIGINT) AS purity_ppm
    FROM pc
    """,
)
def q_dup_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source purity per near-dup cluster: is duplication WITHIN a
    source (scraper re-crawl — fix the pipeline) or ACROSS sources
    (mirror sites / syndication — a licensing and quota question)?
    Reports cluster size, distinct sources, the majority source and
    its share in exact ppm.

    Plan: near-dup pairs (banded, never corpus²) → pointer-jumping
    connected components → ONE equi-join to recover sources → two
    nested aggregates (the second re-shuffles (keep_id, source) rows
    down to keep_id — hash partitioning on the pair does NOT satisfy
    keep_id clustering — but its input is already one row per
    cluster×source, negligible at any scale).  The majority source
    rides a struct-max
    (cnt, source) — lexicographic struct ordering in both engines,
    ties break to the larger source string deterministically.
    Oracle recomputes the closure with a recursive CTE, same as
    q_dedup_clusters'."""
    from week4_musemotion_spark.operators.graph import dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    clusters = dedup_clusters(jaccard_pairs(docs, JACCARD_THRESHOLD))
    mem = clusters.join(docs.select("doc_id", "source"), "doc_id")
    ps = mem.groupBy("keep_id", "source").agg(F.count(F.lit(1)).alias("cnt"))
    pc = ps.groupBy("keep_id").agg(
        F.sum("cnt").cast("long").alias("size"),
        F.count(F.lit(1)).cast("long").alias("n_sources"),
        F.max(F.struct(F.col("cnt").alias("c"), F.col("source").alias("s"))).alias("top"),
    )
    return pc.select(
        F.col("keep_id").alias("cluster_id"),
        "size",
        "n_sources",
        F.col("top.s").alias("majority_source"),
        int_div_trunc(dec(F.col("top.c")) * 1_000_000, F.col("size")).alias("purity_ppm"),
    )


@query(
    "q_dup_quality_bias",
    covers=("X-DUP-QUALITY-BIAS",),
    oracle=f"""
    WITH RECURSIVE {_CLOSURE_SQL},
    t AS (
        SELECT doc_id, source,
               list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS ts
        FROM documents
    ),
    s9q AS (
        SELECT doc_id, source, len(ts) AS n_tokens,
               len(list_filter(ts, w -> w IN ({_STOPLIST_SQL}))) AS stop_cnt
        FROM t
    ),
    q AS (
        SELECT doc_id, source, n_tokens,
               {_quality_e4_sql("n_tokens", "stop_cnt")} AS quality_e4
        FROM s9q
    ),
    j AS (
        SELECT q.source, q.n_tokens, q.quality_e4,
               CASE WHEN cl.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_dup
        FROM q LEFT JOIN cl USING (doc_id)
    )
    SELECT source, CAST(is_dup AS BIGINT) AS is_dup,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(quality_e4) // count(*) AS BIGINT) AS mean_quality_e4,
           CAST(sum(n_tokens) // count(*) AS BIGINT) AS mean_tokens
    FROM j GROUP BY source, is_dup
    """,
)
def q_dup_quality_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality bias of near-dup membership, per source: mean quality
    score and length of documents inside vs outside near-dup
    clusters.  The question a dedup rollout must answer before
    deleting anything — if duplicated documents score systematically
    HIGHER than the rest of their source, a keep-one-per-cluster
    policy is deleting the best content and the keep rule should
    switch to keep-best (operators/dedup.keep_best exists for exactly
    that).

    Plan: quality features ride the corpus scan (quality_stats
    keep_cols — no join-back), cluster membership is ONE left join
    against the CC output, then a |sources|×2 aggregate.  Exact
    integer means (truncating division, both engines)."""
    from week4_musemotion_spark.operators.graph import dedup_clusters
    from week4_musemotion_spark.operators.textstats import quality_stats

    docs = load_table(spark, sf_dir, "documents")
    clusters = dedup_clusters(jaccard_pairs(docs, JACCARD_THRESHOLD))
    q = quality_stats(docs, keep_cols=("source",))
    j = q.join(clusters.select("doc_id", F.lit(1).alias("_m")), "doc_id", "left").select(
        "source",
        "n_tokens",
        "quality_e4",
        F.when(F.col("_m").isNotNull(), F.lit(1)).otherwise(F.lit(0)).cast("long").alias("is_dup"),
    )
    n = F.count(F.lit(1))
    return j.groupBy("source", "is_dup").agg(
        n.cast("long").alias("n_docs"),
        int_div_trunc(dec(F.sum("quality_e4")), n).alias("mean_quality_e4"),
        int_div_trunc(dec(F.sum("n_tokens")), n).alias("mean_tokens"),
    )


# ---------------------------------------------------------------------------
# CUSUM drift (exact integer changepoint statistic)
# ---------------------------------------------------------------------------

from week4_musemotion_spark.functions.eventtime import US_PER_DAY as _US_PER_DAY


def _daily_dense_sql() -> str:
    """CTE chain ``daily`` → ``span`` → ``grid`` → ``dense(event_type,
    day_idx, cnt)``: per-type daily event counts densified over each
    type's [min, max] day span so zero-event days carry cnt = 0 —
    ONE definition shared by every daily-grid monitor (CUSUM,
    seasonal residuals) so the grid semantics cannot drift.

    Day bucketing truncates epoch-µs; both engines assume
    NON-NEGATIVE epochs (int_div_trunc's p ≥ 0 contract — DuckDB
    ``//`` truncates toward zero while the Spark helper is only
    defined for p ≥ 0, so a pre-1970 timestamp would bucket
    differently; the testdata contract is post-1970 event time)."""
    return f"""daily AS (
        SELECT event_type, epoch_us(ts) // {_US_PER_DAY} AS day_idx,
               count(*) AS cnt
        FROM events GROUP BY 1, 2
    ),
    span AS (SELECT event_type, min(day_idx) AS d0, max(day_idx) AS d1
             FROM daily GROUP BY event_type),
    grid AS (SELECT event_type, unnest(range(d0, d1 + 1)) AS day_idx FROM span),
    dense AS (
        SELECT g.event_type, g.day_idx, coalesce(d.cnt, 0) AS cnt
        FROM grid g LEFT JOIN daily d USING (event_type, day_idx)
    )"""


def _daily_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of :func:`_daily_dense_sql` — ``(event_type,
    day_idx, cnt)`` densified per type.  The grid join is
    |types|×|days| rows; both sides derive from the already-tiny
    daily aggregate."""
    e = load_table(spark, sf_dir, "events")
    day = int_div_trunc(epoch_micros(e), F.lit(_US_PER_DAY))
    daily = e.groupBy("event_type", day.alias("day_idx")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    span = daily.groupBy("event_type").agg(
        F.min("day_idx").alias("d0"), F.max("day_idx").alias("d1")
    )
    grid = span.select(
        "event_type", F.explode(F.sequence("d0", "d1")).alias("day_idx")
    )
    return grid.join(daily, ["event_type", "day_idx"], "left").select(
        "event_type", "day_idx", F.coalesce("cnt", F.lit(0)).alias("cnt")
    )


@query(
    "q_cusum_drift",
    covers=("X-CUSUM-DRIFT",),
    oracle=f"""
    WITH {_daily_dense_sql()},
    t AS (
        SELECT event_type, day_idx, cnt,
               count(*) OVER (PARTITION BY event_type) AS nd,
               sum(cnt) OVER (PARTITION BY event_type) AS total
        FROM dense
    ),
    s AS (
        SELECT event_type, day_idx, nd, total,
               sum(cnt * nd - total) OVER (PARTITION BY event_type ORDER BY day_idx
                                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
        FROM t
    ),
    agg AS (
        SELECT event_type, CAST(min(nd) AS BIGINT) AS n_days,
               CAST(min(total) AS BIGINT) AS total_events,
               CAST(max(cusum) AS BIGINT) AS s_max, CAST(min(cusum) AS BIGINT) AS s_min,
               max({{'c': cusum, 'nd': -day_idx}}) AS pk
        FROM s GROUP BY event_type
    )
    SELECT event_type, n_days, total_events, s_max, s_min,
           s_max - s_min AS drift_range,
           CAST(-(pk.nd) AS BIGINT) AS peak_day_idx
    FROM agg
    """,
)
def q_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint statistic over daily event counts per type,
    in exact integers: S_t = Σ(cnt_i·D − total) = D·prefix_t −
    t·total (deviation from the mean scaled by the day count D, so no
    fractional mean ever exists).  The peak day is where the
    cumulative deviation tops out — the classic changepoint estimate
    — and (s_max − s_min) is the drift range a monitor thresholds.

    All window work happens on the |types|×|days| daily grid,
    DENSIFIED over each type's [min, max] day span so zero-event
    days carry cnt=0 (deviation −total per silent day — a full
    dropout drives the CUSUM hard negative instead of being
    compressed away; n_days is therefore the span length, not the
    active-day count).  The grid is a few thousand rows at any scale
    — the corpus shuffle is the grouped count, everything after is
    negligible — and the peak day rides
    the SAME single aggregate as the extrema via a struct-max
    (max(cusum, −day) — lexicographic struct ordering in both
    engines), so the corpus is scanned exactly once.  Ties on the
    peak break to the earliest day, keeping the LIMIT-free output
    fully deterministic."""
    dense = _daily_dense(spark, sf_dir)
    wt = Window.partitionBy("event_type")
    t = dense.select(
        "event_type",
        "day_idx",
        "cnt",
        F.count(F.lit(1)).over(wt).alias("nd"),
        F.sum("cnt").over(wt).alias("total"),
    )
    ws = wt.orderBy("day_idx").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    s = t.select(
        "event_type",
        "day_idx",
        "nd",
        "total",
        F.sum(F.col("cnt") * F.col("nd") - F.col("total")).over(ws).alias("cusum"),
    )
    agg = s.groupBy("event_type").agg(
        F.min("nd").cast("long").alias("n_days"),
        F.min("total").cast("long").alias("total_events"),
        F.max("cusum").cast("long").alias("s_max"),
        F.min("cusum").cast("long").alias("s_min"),
        F.max(
            F.struct(F.col("cusum").alias("c"), (-F.col("day_idx")).alias("ndl"))
        ).alias("pk"),
    )
    return agg.select(
        "event_type",
        "n_days",
        "total_events",
        "s_max",
        "s_min",
        (F.col("s_max") - F.col("s_min")).alias("drift_range"),
        (-F.col("pk.ndl")).cast("long").alias("peak_day_idx"),
    )
