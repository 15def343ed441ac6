"""Sketch audits: span coverage, bloom/CMS/HLL error, projection distortion.

- q_dup_span_coverage — per source, the fraction of 8-gram positions
  whose gram also appears in another document: the cross-document
  duplicated-SPAN signal behind exact-substring dedup (Lee et al.
  2022, arXiv:2107.06499) that pair-level Jaccard misses when only a
  boilerplate paragraph repeats inside otherwise-distinct documents.
- q_bloom_fp_audit — the bloom filter itself made oracle-checkable:
  exact per-outcome row counts (true match / false positive /
  pruned) for a dim-key bloom over the fact side, with the oracle
  re-deriving membership from the hash positions by joins.
- q_source_overlap_sketch — pairwise source-vocabulary overlap by
  inclusion-exclusion over MERGED HLL registers (hll_merge): |S|²
  pairs cost |S|²·m register rows after one corpus scan, never a
  pairwise data union; the mirror-site triage signal.
- q_cms_point_error — count-min point-frequency audit over a width
  grid: top-20 exact counts vs count-min estimates with over_ppm
  collapsing ~1/width; the one-sided never-underestimates guarantee
  holds in every row.
- q_stream_distinct_report — the STREAMING register store
  (streaming/sketches.make_hll_sink driven over ordered
  micro-batches, gate-report fixture pattern) read back and compared
  against the pure-batch HLL oracle: bit-equal because max-merge is
  associative/commutative/idempotent, so the driver certifies the
  streaming path end to end.
- q_semantic_threshold_sweep — the embedding-space twin of the
  Jaccard threshold sweep: per candidate cosine cut, pair and
  touched-vector counts from ONE pair table, grid-compared on the
  rounded-e6 integer cosine.
- q_hll_fold_grid — the precision-fold audit: one p=11 register
  table folded (hll_fold_register) to each grid precision and proven
  equal — registers AND estimate — to a direct build at that
  precision; the one-pass grid contract the bloom/cms fold family
  established, completed for cardinality.
- q_rp_distortion — Johnson-Lindenstrauss ±1 projection audit:
  projected-vs-full cosine error over the exact near-dup pair set
  and the per-vector norm-preservation ratio, across a prefix-nested
  target-dim grid served by ONE projection pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from week4_musemotion_spark.functions.exact import dec, int_div_trunc
from week4_musemotion_spark.functions.hashing import stable_hash64, stable_hash64_sql
from week4_musemotion_spark.queries.extensions import (
    _COSINE_SQL_FRAG,
    EMBED_DUP_THRESHOLD,
)
from week4_musemotion_spark.queries.registry import query
from week4_musemotion_spark.queries.sketch_quality import (
    _BLOOM_PART_PRED_SQL,
    _HLL_M,
    _HLL_P,
    _HLL_W1,
    _hll_e2_sql,
    _hll_rho_sql,
    _hll_shingle_sql,
)
from week4_musemotion_spark.sources.sinks import cached_fixture
from week4_musemotion_spark.sources.tables import load_table

#: Span width for duplicated-span coverage: 8-token grams — long
#: enough that a shared gram implies copied text, short enough that
#: a copied paragraph contributes many positions.
_SPAN_N = 8


def _span_gram_sql() -> str:
    from week4_musemotion_spark.queries.extensions import _shingle_expr

    return f"""tok AS (SELECT doc_id, source, list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS ts FROM documents),
    g AS (SELECT doc_id, source, unnest({_shingle_expr(_SPAN_N)}) AS s FROM tok WHERE len(ts) >= {_SPAN_N})"""


@query(
    "q_dup_span_coverage",
    covers=("X-DUP-SPAN-COVERAGE",),
    oracle=f"""
    WITH {_span_gram_sql()},
    hx AS (SELECT doc_id, source, {stable_hash64_sql('s')} AS h FROM g),
    gs AS (
        SELECT h, source, count(*) AS cnt, count(DISTINCT doc_id) AS nd_s
        FROM hx GROUP BY 1, 2
    ),
    w AS (SELECT *, sum(nd_s) OVER (PARTITION BY h) AS nd FROM gs)
    SELECT source,
           CAST(sum(cnt) AS BIGINT) AS n_spans,
           CAST(sum(CASE WHEN nd >= 2 THEN cnt ELSE 0 END) AS BIGINT) AS dup_spans,
           CAST(CAST(sum(CASE WHEN nd >= 2 THEN cnt ELSE 0 END) AS HUGEINT) * 1000000
                // CAST(sum(cnt) AS HUGEINT) AS BIGINT) AS coverage_ppm
    FROM w GROUP BY source
    """,
)
def q_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span coverage per source: of all 8-token gram
    positions, how many carry a gram that also occurs in at least one
    OTHER document (corpus-wide, in ppm).  This is the signal behind
    exact-substring dedup (Lee et al. 2022): document-level near-dup
    scores miss the case where only a boilerplate paragraph repeats
    across otherwise-distinct pages, while span coverage surfaces
    exactly the share of text a substring-dedup pass would cut.

    Plan: one corpus explode → one shuffle of the gram stream keyed
    (hash, doc, source) — grams never travel, 8-byte keys do — whose
    groups are exactly one row per (gram, document), so the window
    over the gram hash counts ROWS to get distinct-docs-per-gram (no
    countDistinct expansion, which would cost an extra full-width
    exchange); a final |sources| aggregate emits exact integer ppm.
    Hash collisions could in principle glue two distinct grams
    (p ~ n²/2^61 — negligible), and the oracle uses the same hash,
    so both engines see the identical value."""
    from week4_musemotion_spark.functions.text import shingles, tokens
    from week4_musemotion_spark.sources.tables import spread

    # spread: parallelize explode+hash above a single-row-group scan
    d = spread(load_table(spark, sf_dir, "documents").select("doc_id", "source", "text"))
    g = d.select(
        "doc_id", "source", F.explode(shingles(tokens("text"), _SPAN_N)).alias("s")
    ).select("doc_id", "source", stable_hash64(F.col("s")).alias("h"))
    # one row per (gram, doc): cnt = occurrences of the gram in the doc
    gd = g.groupBy("h", "doc_id", "source").agg(F.count(F.lit(1)).alias("cnt"))
    w = gd.withColumn("nd", F.count(F.lit(1)).over(Window.partitionBy("h")))
    dup = F.sum(F.when(F.col("nd") >= 2, F.col("cnt")).otherwise(F.lit(0)))
    return w.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n_spans"),
        dup.cast("long").alias("dup_spans"),
        int_div_trunc(dec(dup) * 1_000_000, F.sum("cnt")).alias("coverage_ppm"),
    )


# ---------------------------------------------------------------------------
# Bloom false-positive audit
# ---------------------------------------------------------------------------

#: Bitmap-size grid: from one 64-bit word (saturates — near-pure
#: false positives) up to 4 KiB (comfortable at every test SF), so
#: the audit always exhibits BOTH regimes regardless of how many dim
#: keys the SF yields.  Production sizing reads this curve at
#: 10-16 bits/key (see operators/sketches.bloom_positions).
_FP_BITS_GRID = (64, 512, 4096, 32768)
_FP_HASHES = 3


def _fp_seed_hash_sql(key_expr: str) -> str:
    """Seeded portable hash with the row's own seed ``s.s`` — the
    shared helper's seed_expr form, so the rendering can never drift
    from functions.hashing.stable_hash64(col, seed=s)."""
    return stable_hash64_sql(key_expr, seed_expr="s.s")


@query(
    "q_bloom_fp_audit",
    covers=("X-BLOOM-FP-AUDIT",),
    oracle=f"""
    WITH dimk AS (SELECT DISTINCT p_partkey AS k FROM part WHERE {_BLOOM_PART_PRED_SQL}),
    seeds AS (SELECT unnest(range(0, {_FP_HASHES})) AS s),
    sizes AS (SELECT CAST(unnest([{", ".join(map(str, _FP_BITS_GRID))}]) AS BIGINT) AS b),
    dpos AS (
        SELECT DISTINCT z.b, {_fp_seed_hash_sql("CAST(d.k AS VARCHAR)")} % z.b AS p
        FROM dimk d CROSS JOIN seeds s CROSS JOIN sizes z
    ),
    factk AS (SELECT l_partkey AS k, count(*) AS cnt FROM lineitem GROUP BY 1),
    fpos AS (
        SELECT z.b, f.k, f.cnt,
               {_fp_seed_hash_sql("CAST(f.k AS VARCHAR)")} % z.b AS p
        FROM factk f CROSS JOIN seeds s CROSS JOIN sizes z
    ),
    verdict AS (
        SELECT fp.b, fp.k, min(fp.cnt) AS cnt,
               min(CASE WHEN d.p IS NOT NULL THEN 1 ELSE 0 END) AS passed
        FROM fpos fp LEFT JOIN dpos d ON fp.b = d.b AND fp.p = d.p
        GROUP BY fp.b, fp.k
    ),
    labeled AS (
        SELECT v.b, v.cnt,
               CASE WHEN v.passed = 1 AND m.k IS NOT NULL THEN 'hit'
                    WHEN v.passed = 1 THEN 'false_positive'
                    WHEN m.k IS NOT NULL THEN 'lost_true_key'
                    ELSE 'pruned' END AS outcome
        FROM verdict v LEFT JOIN dimk m ON v.k = m.k
    )
    SELECT b AS num_bits, outcome,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(cnt) AS BIGINT) AS n_rows
    FROM labeled GROUP BY b, outcome
    """,
)
def q_bloom_fp_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bloom filter itself under oracle: every distinct fact join
    key labeled ``hit`` (passes, true dim key), ``false_positive``
    (passes, not a dim key), ``pruned`` (rejected, not a dim key) or
    ``lost_true_key`` (rejected true key — MUST never appear; its
    absence is the no-false-negative certificate in the data, not
    just in a unit test), with key and row counts per outcome — and
    the label swept over a BITMAP-SIZE GRID (64 bits … 32 Kbits), so
    one result is the provisioning curve "my key distribution at b
    bits → this fp rate": the smallest bitmap saturates into
    near-pure false positives while the largest prunes cleanly at
    every test SF, and a team reads off the knee before sizing a
    production filter at 10-16 bits/key.

    Oracle path re-derives membership relationally: a key passes iff
    ALL of its seeded hash positions appear in the union of dim-key
    positions — exactly the OR-ed bitmap the Spark side broadcasts,
    so both engines agree on every label at every size."""
    from week4_musemotion_spark.operators.sketches import (
        _bloom_hash_positions,
        _bloom_probe,
        bloom_positions,
        bloom_words,
    )
    from week4_musemotion_spark.queries.sketch_quality import _bloom_part_pred

    part = load_table(spark, sf_dir, "part").filter(_bloom_part_pred())
    # pinned: dimk feeds the position build (eager collect) plus the
    # fused label join — unpinned, the part scan + distinct shuffle
    # would re-execute per consumer
    dimk = (
        part.select(F.col("p_partkey").alias("k"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    li = load_table(spark, sf_dir, "lineitem")
    factk = li.groupBy(F.col("l_partkey").alias("k")).agg(
        F.count(F.lit(1)).alias("cnt")
    ).localCheckpoint(eager=False)  # one fact scan feeds every grid size
    # one distributed position build at the grid maximum; every
    # power-of-two size below it is a driver-side mask (positions are
    # hash & (bits-1)), so the grid costs ONE Spark job, not four
    max_bits = max(_FP_BITS_GRID)
    pos = bloom_positions(dimk, F.col("k"), max_bits, _FP_HASHES, "portable")
    # FUSED grid: one join and one pass over factk for every size.
    # The three seeded portable hashes are computed ONCE per fact key
    # at the grid maximum (pmod at a power of two is a bit mask, so
    # pmod(h, max) & (b-1) == pmod(h, b) — the same fold-down identity
    # the position build uses), ONE left join labels dim membership,
    # and one struct explode emits each size's verdict from its own
    # bitmap literal.
    hashed = factk.join(dimk.withColumn("in_dim", F.lit(True)), "k", "left").select(
        "cnt",
        "in_dim",
        *[
            h.alias(f"_h{s}")
            for s, h in enumerate(
                _bloom_hash_positions(F.col("k"), max_bits, _FP_HASHES, "portable")
            )
        ],
    )
    structs = []
    for bits in _FP_BITS_GRID:
        passed = _bloom_probe(
            bloom_words(pos, bits),
            [F.col(f"_h{s}").bitwiseAND(bits - 1) for s in range(_FP_HASHES)],
        )
        structs.append(
            F.struct(
                F.lit(bits).cast("long").alias("num_bits"), passed.alias("passed")
            )
        )
    labeled = hashed.select(
        "cnt", "in_dim", F.explode(F.array(*structs)).alias("g")
    ).select(
        F.col("g.num_bits").alias("num_bits"),
        "cnt",
        F.when(F.col("g.passed") & F.col("in_dim").isNotNull(), "hit")
        .when(F.col("g.passed"), "false_positive")
        .when(F.col("in_dim").isNotNull(), "lost_true_key")
        .otherwise("pruned")
        .alias("outcome"),
    )
    return labeled.groupBy("num_bits", "outcome").agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("cnt").cast("long").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# Pairwise source-overlap via HLL register merges
# ---------------------------------------------------------------------------


@query(
    "q_source_overlap_sketch",
    covers=("X-HLL-OVERLAP",),
    oracle=f"""
    WITH {_hll_shingle_sql(3)},
    hx AS (SELECT source, s, {stable_hash64_sql('s')} AS h FROM sh),
    regs AS (
        SELECT source, h & {_HLL_M - 1} AS bucket,
               max({_hll_rho_sql()}) AS reg
        FROM hx GROUP BY 1, 2
    ),
    sagg AS (
        SELECT source, count(*) AS present,
               sum(CAST(1 AS BIGINT) << CAST({_HLL_W1} - reg AS INT)) AS dp
        FROM regs GROUP BY 1
    ),
    sest AS (SELECT source, {_hll_e2_sql()} AS e2 FROM sagg),
    srcs AS (SELECT DISTINCT source FROM documents),
    prs AS (
        SELECT a.source AS sa, b.source AS sb
        FROM srcs a JOIN srcs b ON a.source < b.source
    ),
    ua AS (
        SELECT p.sa, p.sb, r.bucket, r.reg FROM prs p JOIN regs r ON r.source = p.sa
        UNION ALL
        SELECT p.sa, p.sb, r.bucket, r.reg FROM prs p JOIN regs r ON r.source = p.sb
    ),
    ureg AS (SELECT sa, sb, bucket, max(reg) AS reg FROM ua GROUP BY 1, 2, 3),
    uagg AS (
        SELECT sa, sb, count(*) AS present,
               sum(CAST(1 AS BIGINT) << CAST({_HLL_W1} - reg AS INT)) AS dp
        FROM ureg GROUP BY 1, 2
    ),
    uest AS (SELECT sa, sb, {_hll_e2_sql()} AS union_e2 FROM uagg)
    SELECT u.sa AS source_a, u.sb AS source_b,
           ea.e2 AS a_e2, eb.e2 AS b_e2, u.union_e2,
           greatest(ea.e2 + eb.e2 - u.union_e2, 0) AS overlap_e2
    FROM uest u
    JOIN sest ea ON ea.source = u.sa
    JOIN sest eb ON eb.source = u.sb
    """,
)
def q_source_overlap_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-vocabulary overlap from MERGED HLL registers:
    |A ∩ B| ≈ |A| + |B| − |A ∪ B| by inclusion-exclusion, where
    |A ∪ B| comes from ``hll_merge`` of the two sources' register
    tables — no union of the underlying data is ever formed.  This is
    the mirror-site / cross-dump-contamination triage a curation team
    runs over every source pair: with exact counting it costs
    |S|²·vocab set unions; with sketches it costs |S|²·m register
    rows (m = 256), so all 190 pairs here — or all ~500k pairs of a
    1000-source corpus — stay driver-trivial after one corpus scan.
    The estimate replays bit-for-bit in the oracle (same portable
    primitives as q_distinct_sketch); ``overlap_e2`` is clamped at 0
    because inclusion-exclusion of three ±6.5 % estimates can land
    slightly negative for disjoint pairs."""
    from week4_musemotion_spark.functions.exact import dec, int_div_trunc
    from week4_musemotion_spark.functions.text import shingles, tokens
    from week4_musemotion_spark.operators.sketches import (
        hll_alpha_e7,
        hll_registers,
    )
    from week4_musemotion_spark.queries.sketch_quality import _HLL_M, _HLL_P, _HLL_W1

    from week4_musemotion_spark.sources.tables import spread

    d = spread(load_table(spark, sf_dir, "documents").select("source", "text"))
    s = d.select("source", F.explode(shingles(tokens("text"), 3)).alias("s"))
    # the register table is m rows/source — pin it: it feeds the
    # per-source aggregate AND both sides of the pairwise bucket join
    reg = hll_registers(s, ["source"], "s", p=_HLL_P).localCheckpoint(eager=False)
    top = 1 << _HLL_W1
    num_dec = F.lit(str(hll_alpha_e7(_HLL_M) * _HLL_M * _HLL_M * top)).cast(
        "decimal(38,0)"
    )
    term = lambda reg_col: F.call_function(  # noqa: E731 — 2^(W+1−reg)
        "shiftleft", F.lit(1).cast("long"), (F.lit(_HLL_W1) - F.col(reg_col)).cast("int")
    )

    def e2_of(dp, present):
        d_col = dp + (F.lit(_HLL_M) - present) * F.lit(top)
        return int_div_trunc(num_dec, dec(d_col) * 100_000)

    # per-source harmonic sums once (present, dp) — the per-source
    # estimate AND the pairwise-union correction both read them
    sagg = reg.groupBy("source").agg(
        F.count(F.lit(1)).alias("present"), F.sum(term("reg")).alias("dp")
    )
    # FUSED pairwise union (was: pair table ⋈ registers twice →
    # union → merge groupBy → estimate groupBy — two pair-replicated
    # register copies through two aggregates).  Inclusion-exclusion
    # on the harmonic denominator instead: for buckets present in
    # BOTH sources the merged register is max(ra, rb), so
    #   dp_union = dp_a + dp_b − Σ_both (2^(W+1−ra) + 2^(W+1−rb)
    #                                    − 2^(W+1−max(ra, rb)))
    #   present_union = present_a + present_b − present_both
    # — one bucket-keyed self-join + one aggregate produce the exact
    # same integers as the explicit merge (all terms are order-free
    # long sums), and pairs with no common bucket fall out of the
    # inner join (their correction is 0 via the left join below).
    r1 = reg.select(F.col("source").alias("sa"), "bucket", F.col("reg").alias("ra"))
    r2 = reg.select(F.col("source").alias("sb"), "bucket", F.col("reg").alias("rb"))
    corr = (
        r1.join(r2, (r1.bucket == r2.bucket) & (F.col("sa") < F.col("sb")))
        .groupBy("sa", "sb")
        .agg(
            F.count(F.lit(1)).alias("present_both"),
            F.sum(
                term("ra")
                + term("rb")
                - F.call_function(
                    "shiftleft",
                    F.lit(1).cast("long"),
                    (F.lit(_HLL_W1) - F.greatest(F.col("ra"), F.col("rb"))).cast(
                        "int"
                    ),
                )
            ).alias("corr"),
        )
    )
    srcs = reg.select("source").distinct()
    prs = srcs.select(F.col("source").alias("sa")).join(
        srcs.select(F.col("source").alias("sb")), F.col("sa") < F.col("sb")
    )
    ea = sagg.select(
        F.col("source").alias("sa"),
        F.col("present").alias("pa"),
        F.col("dp").alias("dpa"),
    )
    eb = sagg.select(
        F.col("source").alias("sb"),
        F.col("present").alias("pb"),
        F.col("dp").alias("dpb"),
    )
    joined = (
        prs.join(F.broadcast(ea), "sa")
        .join(F.broadcast(eb), "sb")
        .join(corr, ["sa", "sb"], "left")
        .select(
            "sa",
            "sb",
            "pa",
            "dpa",
            "pb",
            "dpb",
            F.coalesce("present_both", F.lit(0)).alias("present_both"),
            F.coalesce("corr", F.lit(0)).alias("corr"),
        )
    )
    a_e2 = e2_of(F.col("dpa"), F.col("pa"))
    b_e2 = e2_of(F.col("dpb"), F.col("pb"))
    u_e2 = e2_of(
        F.col("dpa") + F.col("dpb") - F.col("corr"),
        F.col("pa") + F.col("pb") - F.col("present_both"),
    )
    return joined.select(
        F.col("sa").alias("source_a"),
        F.col("sb").alias("source_b"),
        a_e2.alias("a_e2"),
        b_e2.alias("b_e2"),
        u_e2.alias("union_e2"),
        F.greatest(a_e2 + b_e2 - u_e2, F.lit(0)).alias("overlap_e2"),
    )


# ---------------------------------------------------------------------------
# Count-min point-frequency audit
# ---------------------------------------------------------------------------

#: Width grid: undersized → comfortable, so the audit is a
#: provisioning curve (error collapses ~1/width) at every SF, the
#: same shape q_bloom_fp_audit gives for membership.
_CMS_W_GRID = (1024, 8192, 65536)
_CMS_D = 4
#: Audit the sketch on the corpus' top-k shingles (deterministic:
#: count desc, shingle asc).
_CMS_TOPK = 20


def _cms_oracle_one_width(w: int) -> str:
    """One width's cells→lookup CTE chain; grid rows are UNION ALLed."""
    return f"""
    SELECT {w} AS width, t.term, min(t.exact_cnt) AS exact_cnt,
           min(COALESCE(c.cnt, 0)) AS cms_est
    FROM (
        SELECT e.term, e.exact_cnt, s.s AS j,
               {stable_hash64_sql("e.term", seed_expr="s.s")} & {w - 1} AS pos
        FROM ex e CROSS JOIN seeds s
    ) t
    LEFT JOIN (
        SELECT s.s AS j,
               {stable_hash64_sql("sh.s", seed_expr="s.s")} & {w - 1} AS pos,
               count(*) AS cnt
        FROM sh CROSS JOIN seeds s
        GROUP BY 1, 2
    ) c ON t.j = c.j AND t.pos = c.pos
    GROUP BY t.term"""


@query(
    "q_cms_point_error",
    covers=("X-CMS-POINT",),
    oracle=f"""
    WITH {_hll_shingle_sql(3)},
    seeds AS (SELECT unnest(range(0, {_CMS_D})) AS s),
    ex AS (
        SELECT s AS term, count(*) AS exact_cnt FROM sh GROUP BY 1
        ORDER BY exact_cnt DESC, term ASC LIMIT {_CMS_TOPK}
    ),
    est AS ({" UNION ALL ".join(_cms_oracle_one_width(w) for w in _CMS_W_GRID)})
    SELECT CAST(width AS BIGINT) AS width, term,
           CAST(exact_cnt AS BIGINT) AS exact_cnt,
           CAST(cms_est AS BIGINT) AS cms_est,
           CAST((CAST(cms_est AS HUGEINT) - exact_cnt) * 1000000
                // CAST(exact_cnt AS HUGEINT) AS BIGINT) AS over_ppm
    FROM est
    """,
)
def q_cms_point_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch under audit: the corpus' top-20 shingles by
    EXACT count next to their count-min estimates and the
    overestimate in ppm, swept over a WIDTH GRID (1 Ki → 64 Ki
    cells/row) — one result is the provisioning curve "my stream at
    width w → this collision mass", error collapsing ~1/w as the
    grid widens.  ``over_ppm >= 0`` everywhere is CMS's one-sided
    guarantee, visible in the data; the flat-headed shingle
    distribution here makes the undersized end overestimate several-
    fold, which is exactly what the audit exists to expose before a
    team trusts a depth×width budget for per-token/per-URL counts.

    Scale: each sketch is depth × width rows TOTAL no matter the
    stream, and the whole GRID costs one corpus pass — cells are
    built once at the grid maximum and folded down per width
    (positions are hash & (w-1), so narrow cells are exact sums of
    wide ones), the same one-build trick as the bloom grid.  The
    exact top-k exists only as the audit's truth side.
    Same portable primitives as the HLL/bloom family, so the oracle
    replays every cell at every width."""
    from week4_musemotion_spark.functions.text import shingles, tokens

    # spread: parallelize explode+md5 above a single-row-group scan
    from week4_musemotion_spark.sources.tables import spread

    d = spread(load_table(spark, sf_dir, "documents").select("text"))
    s = d.select(F.explode(shingles(tokens("text"), 3)).alias("s"))
    # ONE corpus pass: the top-k truth aggregate and the sketch share
    # the exact term-frequency table.
    # The audit already needs the exact per-term counts for its truth
    # side, and a CMS cell is by definition the sum of the counts of
    # the terms hashing into it — so the whole sketch GRID derives
    # from the exact term-frequency table: 4 md5s per DISTINCT term
    # (hashed once at the grid max, masked down per width — pmod at a
    # power of two is a bit mask), not 4 per occurrence.  One
    # explode+aggregate builds every width's cells and one broadcast
    # left join + min aggregate reads the estimates.  Cell counts and
    # estimates are bit-identical to building at each width
    # directly.
    exact = (
        s.groupBy("s")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .localCheckpoint(eager=False)  # lazy: feeds cells, top-k and
        # the probe side inside the one final job
    )
    hashed = exact.select(
        "s",
        "exact_cnt",
        *[
            stable_hash64(F.col("s").cast("string"), seed=j).alias(f"_h{j}")
            for j in range(_CMS_D)
        ],
    )
    cells = (
        hashed.select(
            "exact_cnt",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(w).cast("long").alias("width"),
                            F.lit(j).cast("int").alias("j"),
                            F.col(f"_h{j}").bitwiseAND(w - 1).alias("pos"),
                        )
                        for w in _CMS_W_GRID
                        for j in range(_CMS_D)
                    ]
                )
            ).alias("g"),
        )
        .groupBy(
            F.col("g.width").alias("width"),
            F.col("g.j").alias("j"),
            F.col("g.pos").alias("pos"),
        )
        .agg(F.sum("exact_cnt").alias("cnt"))
    )
    top = (
        hashed.orderBy(F.col("exact_cnt").desc(), F.col("s").asc())
        .limit(_CMS_TOPK)
        .withColumnRenamed("s", "term")
    )
    tpos = top.select(
        "term",
        "exact_cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(w).cast("long").alias("width"),
                        F.lit(j).cast("int").alias("j"),
                        F.col(f"_h{j}").bitwiseAND(w - 1).alias("pos"),
                    )
                    for w in _CMS_W_GRID
                    for j in range(_CMS_D)
                ]
            )
        ).alias("g"),
    ).select(
        "term",
        "exact_cnt",
        F.col("g.width").alias("width"),
        F.col("g.j").alias("j"),
        F.col("g.pos").alias("pos"),
    )
    est = (
        tpos.join(F.broadcast(cells), ["width", "j", "pos"], "left")
        .groupBy("width", "term", "exact_cnt")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("cms_est"))
    )
    return est.select(
        "width",
        "term",
        F.col("exact_cnt").cast("long").alias("exact_cnt"),
        "cms_est",
        int_div_trunc(
            (dec(F.col("cms_est")) - dec(F.col("exact_cnt"))) * 1_000_000,
            dec(F.col("exact_cnt")),
        ).alias("over_ppm"),
    )


# ---------------------------------------------------------------------------
# Streaming HLL store report
# ---------------------------------------------------------------------------

_STREAM_BATCHES = 3
#: Raw-regime boundary in e2 fixed point: 2.5 · m · 100 (integer
#: compare, portable).
_HLL_LINEAR_E2 = int(2.5 * _HLL_M * 100)


def _build_hll_store(spark: SparkSession, sf_dir: str, tmp: str) -> None:
    """Run the REAL streaming sink body deterministically: events
    split into ordered micro-batches by event_id residue, each pushed
    through make_hll_sink (the foreachBatch body)."""
    import os

    from week4_musemotion_spark.streaming.sketches import make_hll_sink

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", F.col("user_id").cast("string").alias("u")
    )
    sink = make_hll_sink(["event_type"], "u", os.path.join(tmp, "store"))
    for b in range(_STREAM_BATCHES):
        sink(ev.filter(F.col("event_id") % _STREAM_BATCHES == b), b)


def _hll_store_fixture(spark: SparkSession, sf_dir: str) -> str:
    return cached_fixture(
        "musemotion_hll_store",
        sf_dir,
        f"hll_store:{_STREAM_BATCHES}:{_HLL_M}".encode(),
        lambda tmp: _build_hll_store(spark, sf_dir, tmp),
        table="events",  # fingerprint the table the store is BUILT from
    )


@query(
    "q_stream_distinct_report",
    covers=("X-STREAM-HLL",),
    oracle=f"""
    WITH hx AS (
        SELECT event_type, {stable_hash64_sql("CAST(user_id AS VARCHAR)")} AS h
        FROM events
        -- mirror hll_registers' null guard: md5(NULL) is NULL in
        -- DuckDB and would otherwise mint a NULL-bucket register row
        WHERE user_id IS NOT NULL
    ),
    reg AS (
        SELECT event_type, h & {_HLL_M - 1} AS bucket,
               max({_hll_rho_sql()}) AS reg
        FROM hx GROUP BY 1, 2
    ),
    agg AS (
        SELECT event_type, count(*) AS present,
               sum(CAST(1 AS BIGINT) << CAST({_HLL_W1} - reg AS INT)) AS dp
        FROM reg GROUP BY 1
    ),
    est AS (
        SELECT event_type, {_hll_e2_sql()} AS hll_e2,
               CAST({_HLL_M} - present AS BIGINT) AS zero_regs
        FROM agg
    ),
    ex AS (
        SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
        FROM events GROUP BY 1
    )
    SELECT e.event_type, ex.exact_distinct, e.hll_e2, e.zero_regs,
           CASE WHEN e.hll_e2 <= {_HLL_LINEAR_E2} AND e.zero_regs > 0
                THEN 'linear-counting' ELSE 'raw' END AS regime
    FROM est e JOIN ex ON e.event_type = ex.event_type
    """,
)
def q_stream_distinct_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING register store under the value oracle: events
    are pushed through the real ``make_hll_sink`` foreachBatch body
    in ordered micro-batches (cached fixture, gate-report pattern),
    and the query reads the store it published — per event type, the
    stream's distinct-user register estimate next to the exact batch
    count.  The oracle is the PURE-BATCH HLL SQL over the same
    events: it matches bit-for-bit because the store provably equals
    the batch sketch (pointwise-max merge is associative/commutative/
    idempotent — the algebra the streaming module's exactly-once
    rests on), so the driver check certifies the streaming path end
    to end, not just its batch twin.  ``regime`` labels rows whose
    cardinality sits below the raw-estimate regime (small SFs here):
    the integer raw form is reported either way — engine-identical —
    and callers read ``estimate``'s linear-counting branch for those
    rows in production."""
    from week4_musemotion_spark.operators.sketches import hll_estimate

    import os

    store = os.path.join(_hll_store_fixture(spark, sf_dir), "store")
    reg = spark.read.parquet(store)
    est = hll_estimate(reg, ["event_type"], p=_HLL_P)
    ev = load_table(spark, sf_dir, "events")
    ex = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct")
    )
    regime = F.when(
        (F.col("hll_e2") <= _HLL_LINEAR_E2) & (F.col("zero_regs") > 0),
        "linear-counting",
    ).otherwise("raw")
    return ex.join(est, "event_type").select(
        "event_type", "exact_distinct", "hll_e2", "zero_regs", regime.alias("regime")
    )


# ---------------------------------------------------------------------------
# Embedding-cosine threshold sweep
# ---------------------------------------------------------------------------

#: Cosine-threshold grid (e6 fixed-point), above the pair-generation
#: base EMBED_DUP_THRESHOLD so the grid compare runs on the ROUNDED
#: integer cosine — exact on both engines; 510000 sits above this
#: corpus' organic maximum (~0.51) and exercises the empty row.
_SEM_SWEEP = (450000, 470000, 490000, 510000)


@query(
    "q_semantic_threshold_sweep",
    covers=("X-SEM-THRESHOLD-SWEEP",),
    oracle="""
    WITH p AS (
        SELECT a.vec_id AS vec_id_a, a.embedding AS va,
               b.vec_id AS vec_id_b, b.embedding AS vb
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    ),
    s AS (
        SELECT vec_id_a, vec_id_b,
               {cos} AS cos
        FROM p
    ),
    pe AS (
        SELECT vec_id_a, vec_id_b,
               CAST(floor(cos * 1000000 + 0.5) AS BIGINT) AS cosine_e6
        FROM s WHERE cos >= {base}
    ),
    grid AS (SELECT CAST(unnest([{grid}]) AS BIGINT) AS thr_e6),
    q AS (
        SELECT g.thr_e6, p.vec_id_a, p.vec_id_b
        FROM grid g LEFT JOIN pe p ON p.cosine_e6 >= g.thr_e6
    ),
    dc AS (
        SELECT thr_e6, CAST(count(DISTINCT v) AS BIGINT) AS n_dup_vecs
        FROM (SELECT thr_e6, unnest([vec_id_a, vec_id_b]) AS v FROM q WHERE vec_id_a IS NOT NULL)
        GROUP BY thr_e6
    )
    SELECT n.thr_e6, n.n_pairs, COALESCE(dc.n_dup_vecs, 0) AS n_dup_vecs
    FROM (SELECT thr_e6, CAST(count(vec_id_a) AS BIGINT) AS n_pairs FROM q GROUP BY thr_e6) n
    LEFT JOIN dc ON dc.thr_e6 = n.thr_e6
    """.format(
        cos=_COSINE_SQL_FRAG.format(a="va", b="vb"),
        base=EMBED_DUP_THRESHOLD,
        grid=", ".join(map(str, _SEM_SWEEP)),
    ),
)
def q_semantic_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-threshold selection curve for embeddings: per
    candidate cosine threshold, the pair count and the vectors those
    pairs touch — the embedding-space twin of the Jaccard sweep
    (q_dedup_threshold_sweep), read before fixing the semantic-dedup
    cut (too low: distinct content merged; too high: paraphrase
    clusters survive).  Thresholds compare against the rounded-e6
    integer cosine, so the grid is exact on both engines; only the
    pair-generation base uses the float cosine, at the same
    engine-stable threshold q_dedup_embedding already pins.

    Scale: the pair table is computed ONCE (block-nested-loop here —
    the exact baseline; cosine_pairs_lsh at 100 TB feeds the same
    sweep) and the grid fan-out runs over that tiny frame."""
    from week4_musemotion_spark.operators.similarity import cosine_pairs
    from week4_musemotion_spark.queries.extensions import EMBED_DUP_THRESHOLD

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = cosine_pairs(emb, EMBED_DUP_THRESHOLD).localCheckpoint(eager=False)
    # lazy: both grid aggregate branches share the checkpointed RDD
    # inside the one final job — the eager form paid a separate
    # blocking pair-build job first
    grid = spark.createDataFrame([(t,) for t in _SEM_SWEEP], "thr_e6 long")
    # broadcast-grid crossJoin, NOT a grid⋈pairs theta join (Catalyst
    # plans that as a task-exploding CartesianProduct — see
    # q_dedup_threshold_sweep); empty thresholds recovered by
    # left-joining the grid onto the aggregates
    hits = pairs.crossJoin(F.broadcast(grid)).filter(
        F.col("cosine_e6") >= F.col("thr_e6")
    )
    n_pairs = hits.groupBy("thr_e6").agg(F.count(F.lit(1)).cast("long").alias("np"))
    vecs = (
        hits.select("thr_e6", F.explode(F.array("vec_id_a", "vec_id_b")).alias("v"))
        .groupBy("thr_e6")
        .agg(F.countDistinct("v").cast("long").alias("nd"))
    )
    return (
        grid.join(n_pairs, "thr_e6", "left")
        .join(vecs, "thr_e6", "left")
        .select(
            "thr_e6",
            F.coalesce(F.col("np"), F.lit(0).cast("long")).alias("n_pairs"),
            F.coalesce(F.col("nd"), F.lit(0).cast("long")).alias("n_dup_vecs"),
        )
    )


#: Precision-fold grid: build once at p=11 (2048 registers/source),
#: fold down to each audited precision.  The grid's point is the
#: ONE-PASS contract — fold(build(11), q) == build(q) exactly — so
#: a precision/error trade-off study costs one corpus scan.
_FOLD_P_HI = 11
_FOLD_GRID = (10, 9, 8)


def _fold_rho_sql(p: int, h: str = "h") -> str:
    """Oracle rho at an arbitrary precision (the p-parameterized twin
    of sketch_quality._hll_rho_sql)."""
    w1 = 60 - p + 1
    return (
        f"CASE WHEN ({h} >> {p}) = 0 THEN {w1} "
        f"ELSE {w1} - length(bin({h} >> {p})) END"
    )


def _fold_e2_sql(p: int, dp: str = "dp", present: str = "present") -> str:
    """Oracle raw-estimate integer at an arbitrary precision."""
    from week4_musemotion_spark.operators.sketches import hll_alpha_e7

    m = 1 << p
    w1 = 60 - p + 1
    num = hll_alpha_e7(m) * m * m * (1 << w1)
    return (
        f"CAST(CAST('{num}' AS HUGEINT)"
        f" // (CAST({dp} + ({m} - {present}) * (CAST(1 AS BIGINT) << {w1}) AS HUGEINT) * 100000)"
        f" AS BIGINT)"
    )


def _fold_block_sql(q: int) -> str:
    """One grid point: fold reg_hi down to q, build directly at q,
    compare registers and estimates."""
    m = 1 << q
    w1 = 60 - q + 1
    sent_hi = 60 - _FOLD_P_HI + 1
    return f"""fold_{q} AS (
        SELECT source, bucket & {m - 1} AS bucket,
               max(CASE WHEN reg < {sent_hi} THEN reg
                        WHEN (bucket >> {q}) = 0 THEN {w1}
                        ELSE {w1} - length(bin(bucket >> {q})) END) AS reg
        FROM reg_hi GROUP BY 1, 2
    ),
    direct_{q} AS (
        SELECT source, h & {m - 1} AS bucket, max({_fold_rho_sql(q)}) AS reg
        FROM hx GROUP BY 1, 2
    ),
    ef_{q} AS (
        SELECT source, {_fold_e2_sql(q)} AS e2 FROM (
            SELECT source, count(*) AS present,
                   sum(CAST(1 AS BIGINT) << CAST({w1} - reg AS INT)) AS dp
            FROM fold_{q} GROUP BY 1)
    ),
    ed_{q} AS (
        SELECT source, {_fold_e2_sql(q)} AS e2 FROM (
            SELECT source, count(*) AS present,
                   sum(CAST(1 AS BIGINT) << CAST({w1} - reg AS INT)) AS dp
            FROM direct_{q} GROUP BY 1)
    ),
    mm_{q} AS (
        SELECT COALESCE(f.source, d.source) AS source,
               CAST(sum(CASE WHEN f.reg IS DISTINCT FROM d.reg THEN 1 ELSE 0 END) AS BIGINT) AS reg_mismatch
        FROM fold_{q} f FULL JOIN direct_{q} d
          ON f.source = d.source AND f.bucket = d.bucket
        GROUP BY 1
    ),
    block_{q} AS (
        SELECT ef.source, CAST({q} AS BIGINT) AS p,
               ef.e2 AS hll_e2_fold, ed.e2 AS hll_e2_direct, mm.reg_mismatch
        FROM ef_{q} ef
        JOIN ed_{q} ed ON ef.source = ed.source
        JOIN mm_{q} mm ON ef.source = mm.source
    )"""


def _fold_oracle_sql() -> str:
    blocks = ",\n    ".join(_fold_block_sql(q) for q in _FOLD_GRID)
    union = "\n    UNION ALL ".join(f"SELECT * FROM block_{q}" for q in _FOLD_GRID)
    return f"""
    WITH {_hll_shingle_sql(3)},
    hx AS (SELECT source, s, {stable_hash64_sql('s')} AS h FROM sh),
    reg_hi AS (
        SELECT source, h & {(1 << _FOLD_P_HI) - 1} AS bucket,
               max({_fold_rho_sql(_FOLD_P_HI)}) AS reg
        FROM hx GROUP BY 1, 2
    ),
    {blocks}
    {union}
    """


@query("q_hll_fold_grid", covers=("X-HLL-FOLD",), oracle=_fold_oracle_sql())
def q_hll_fold_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL precision-fold audit: one register table built at p=11 is
    folded (``operators/sketches.hll_fold_register``) to each
    precision in the grid and compared — register table AND
    estimate — against a direct build at that precision.  ``reg_mismatch`` must be 0 in
    every row: the fold is EXACT, because narrowing the bucket index
    moves the dropped index bits (recoverable as ``bucket >> q``) to
    the bottom of the ranked suffix where they cannot displace the
    leading 1-bit, and the all-zero-suffix sentinel's image still
    dominates its bucket.

    What it buys at 100 TB: a precision/error/memory study — "is
    m=256 enough for my per-source mixing weights?" — costs ONE
    corpus pass (build at the grid max, m rows/source) instead of one
    scan per candidate precision; the same one-build grid contract as
    the bloom bitmap-size audit and the count-min width grid.  The
    oracle independently replays the fold arithmetic AND every direct
    build, so a fold bug cannot hide behind its own twin.

    Scale: after the one hash pass everything acts on ≤ 2^11
    register rows per source; the direct builds exist only as the
    audit's truth side (drop them in production — that is the point).
    """
    from week4_musemotion_spark.functions.exact import dec, int_div_trunc
    from week4_musemotion_spark.functions.text import shingles, tokens
    from week4_musemotion_spark.operators.sketches import (
        _HASH_BITS,
        hll_alpha_e7,
        hll_fold_register,
        hll_registers_grid,
    )
    from week4_musemotion_spark.sources.tables import spread

    # spread: parallelize explode+md5 above a single-row-group scan
    d = spread(load_table(spark, sf_dir, "documents").select("source", "text"))
    s = d.select("source", F.explode(shingles(tokens("text"), 3)).alias("s"))
    # ONE corpus hash pass for the p=11 source table AND every direct
    # build (hll_registers_grid: the md5 is the cost, the per-p
    # bucket/rho are int ops on the same 60 bits); the pinned grid is
    # sum(2^p) register rows per source — everything downstream acts
    # on that
    regs = hll_registers_grid(
        s, ["source"], "s", (_FOLD_P_HI, *_FOLD_GRID)
    ).localCheckpoint(eager=False)
    hi = regs.filter(F.col("p") == _FOLD_P_HI)
    # FUSED grid (was: per-q fold aggregate + 2 estimate aggregates +
    # full join + 3 result joins, × 3 grid points, unioned — 14 joins/
    # aggregates).  All three folds ride ONE explode+aggregate (the
    # per-q mapped registers derive from the same p=11 row through
    # operators/sketches.hll_fold_register), the direct
    # builds are already keyed (source, p, bucket) in the grid table,
    # and ONE full join + ONE aggregate compute register mismatches
    # and both estimates' harmonic sums per (source, p).  The estimate
    # formula inlines hll_estimate's exact-integer arithmetic with the
    # same pinned α·m²·2^(W+1) literals, so every output integer is
    # bit-identical to the branched form (oracle unchanged).
    fold_structs = [
        F.struct(
            F.lit(q).cast("int").alias("p"),
            F.col("bucket").bitwiseAND((1 << q) - 1).alias("bucket"),
            hll_fold_register(q).cast("int").alias("rho"),
        )
        for q in _FOLD_GRID
    ]
    fold = (
        hi.select("source", F.explode(F.array(*fold_structs)).alias("f"))
        .groupBy("source", F.col("f.p").alias("p"), F.col("f.bucket").alias("bucket"))
        .agg(F.max("f.rho").cast("int").alias("reg"))
    )
    direct = regs.filter(F.col("p") != _FOLD_P_HI)
    j = fold.select("source", "p", "bucket", F.col("reg").alias("rf")).join(
        direct.select("source", "p", "bucket", F.col("reg").alias("rd")),
        ["source", "p", "bucket"],
        "full",
    )
    # per-(source, p) harmonic sums: each register contributes
    # 2^(W_p+1 − reg) with W_p+1 = 61 − p a per-row column expression
    w1 = (F.lit(_HASH_BITS + 1) - F.col("p")).cast("int")

    def _dp(reg_col: str) -> Column:
        term = F.call_function(
            "shiftleft", F.lit(1).cast("long"), (w1 - F.col(reg_col)).cast("int")
        )
        return F.sum(F.when(F.col(reg_col).isNotNull(), term).otherwise(F.lit(0)))

    agg = j.groupBy("source", "p").agg(
        F.count("rf").alias("present_f"),
        _dp("rf").alias("dp_f"),
        F.count("rd").alias("present_d"),
        _dp("rd").alias("dp_d"),
        F.sum(F.when(~F.col("rf").eqNullSafe(F.col("rd")), 1).otherwise(0))
        .cast("long")
        .alias("reg_mismatch"),
    )
    num_dec = None
    for q in _FOLD_GRID:
        m = 1 << q
        numq = hll_alpha_e7(m) * m * m * (1 << (_HASH_BITS - q + 1))
        lit = F.lit(str(numq)).cast("decimal(38,0)")
        num_dec = lit if num_dec is None else F.when(F.col("p") == q, lit).otherwise(num_dec)
    m_col = F.call_function("shiftleft", F.lit(1).cast("long"), F.col("p").cast("int"))
    top = F.call_function("shiftleft", F.lit(1).cast("long"), w1)

    def _e2(dp: str, present: str) -> Column:
        d_col = F.col(dp) + (m_col - F.col(present)) * top
        return int_div_trunc(num_dec, dec(d_col) * 100_000)

    return agg.select(
        "source",
        F.col("p").cast("long").alias("p"),
        _e2("dp_f", "present_f").alias("hll_e2_fold"),
        _e2("dp_d", "present_d").alias("hll_e2_direct"),
        "reg_mismatch",
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss projection distortion audit
# ---------------------------------------------------------------------------

#: JL target-dim grid — NESTED prefixes of one projection at the grid
#: maximum (operators/linalg.rp_signs rows are seed-deterministic, so
#: the t=8 matrix is the first 8 rows of the t=32 one): ONE corpus
#: pass serves the whole grid via array slices.
_RP_GRID = (32, 16, 8)
_RP_IN_DIM = 64
_RP_SEED = 6


def _rp_cos_sql(a: str, b: str) -> str:
    """Guarded cosine over projected (DOUBLE) slices — same fold
    order as the Spark side's cosine_similarity, NULL on zero norm
    (DuckDB would otherwise emit IEEE inf where Spark guards)."""
    na = f"sqrt(list_sum(list_transform({a}, x -> x * x)))"
    nb = f"sqrt(list_sum(list_transform({b}, x -> x * x)))"
    d = (
        f"list_sum(list_transform(range(1, len({a}) + 1),"
        f" i -> {a}[i] * {b}[i]))"
    )
    return f"CASE WHEN {na} * {nb} > 0 THEN {d} / ({na} * {nb}) END"


def _rp_block_sql(t: int) -> str:
    ratio = (
        f"CAST(floor((list_sum(list_transform(y[1:{t}], v -> v * v))"
        f" / (CAST({t} AS DOUBLE) * nx2)) * 1000000 + 0.5) AS BIGINT)"
    )
    return f"""err_{t} AS (
        SELECT abs(CAST(floor(({_rp_cos_sql('sa', 'sb')}) * 1000000 + 0.5) AS BIGINT)
                   - cosine_e6) AS aerr
        FROM (SELECT ya[1:{t}] AS sa, yb[1:{t}] AS sb, cosine_e6 FROM pj)
    ),
    perr_{t} AS (
        SELECT CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(COALESCE(CAST(sum(aerr) AS HUGEINT), 0)
                    // greatest(count(*), 1) AS BIGINT) AS mean_abs_err_e6,
               CAST(COALESCE(max(aerr), 0) AS BIGINT) AS max_abs_err_e6
        FROM err_{t}
    ),
    nr_{t} AS (
        SELECT CAST(count(*) AS BIGINT) AS n_vecs,
               CAST(CAST(sum(ratio_e6) AS HUGEINT) // count(*) AS BIGINT)
                   AS mean_norm_ratio_e6,
               CAST(min(ratio_e6) AS BIGINT) AS min_norm_ratio_e6,
               CAST(max(ratio_e6) AS BIGINT) AS max_norm_ratio_e6
        FROM (SELECT {ratio} AS ratio_e6 FROM proj WHERE nx2 > 0)
    ),
    block_{t} AS (
        SELECT CAST({t} AS BIGINT) AS t, p.n_pairs, p.mean_abs_err_e6,
               p.max_abs_err_e6, n.n_vecs, n.mean_norm_ratio_e6,
               n.min_norm_ratio_e6, n.max_norm_ratio_e6
        FROM perr_{t} p, nr_{t} n
    )"""


def _rp_oracle_sql() -> str:
    from week4_musemotion_spark.operators.linalg import rp_signs, rp_signs_sql

    signs = rp_signs(_RP_IN_DIM, max(_RP_GRID), _RP_SEED)
    blocks = ",\n    ".join(_rp_block_sql(t) for t in _RP_GRID)
    union = "\n    UNION ALL ".join(f"SELECT * FROM block_{t}" for t in _RP_GRID)
    return f"""
    WITH proj AS (
        SELECT vec_id,
               list_transform({rp_signs_sql(signs)},
                   row -> list_sum(list_transform(range(1, {_RP_IN_DIM + 1}),
                          i -> CAST(embedding[i] AS DOUBLE) * row[i]))) AS y,
               list_sum(list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nx2
        FROM embeddings
    ),
    cosraw AS (
        SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
               {_COSINE_SQL_FRAG.format(a="a.embedding", b="b.embedding")} AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    ),
    pe AS (
        SELECT vec_id_a, vec_id_b,
               CAST(floor(cos * 1000000 + 0.5) AS BIGINT) AS cosine_e6
        FROM cosraw WHERE cos >= {EMBED_DUP_THRESHOLD}
    ),
    pj AS (
        SELECT pe.cosine_e6, pa.y AS ya, pb.y AS yb
        FROM pe JOIN proj pa ON pa.vec_id = pe.vec_id_a
                JOIN proj pb ON pb.vec_id = pe.vec_id_b
    ),
    {blocks}
    {union}
    """


@query("q_rp_distortion", covers=("X-RP-DISTORTION",), oracle=_rp_oracle_sql())
def q_rp_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss projection distortion audit: ONE ±1
    sign projection (``operators/linalg.rp_project``, Achlioptas
    2003 / JL lemma) at the grid-max target dim, prefix-sliced to
    each candidate dim, scored two ways — (a) projected-vs-full
    cosine error over the exact near-dup pair set (the pairs a
    semantic dedup actually decides on) and (b) the per-vector norm
    preservation ratio |y_t|²/(t·|x|²), whose expectation is exactly
    1 under Rademacher signs.

    Answers, with data: "how far can I shrink the embedding dim
    before my dedup threshold starts misfiring?"  At 100 TB the
    projection is a pure codegen map (no shuffle, no Python) and
    every downstream cost — ANN scoring, LSH sketching, pair
    verification — scales by t/d; the grid costs one projection pass
    because the sign rows are nested (the fold-family one-pass
    contract, for dimensionality).  The oracle replays the sign
    matrix literal, every fold (left-to-right, bit-identical), the
    pair set, and the fixed-point encoding.
    """
    from week4_musemotion_spark.functions.vector import cosine_similarity
    from week4_musemotion_spark.operators.linalg import rp_project, rp_signs
    from week4_musemotion_spark.operators.similarity import cosine_e6, cosine_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    signs = rp_signs(_RP_IN_DIM, max(_RP_GRID), _RP_SEED)
    nx2 = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    # one projection pass serves the pair sides AND every grid dim —
    # pin it (lazy: each consumer is itself one narrow pass)
    proj = emb.select(
        "vec_id", rp_project("embedding", signs).alias("y"), nx2.alias("nx2")
    ).localCheckpoint(eager=False)
    # the near-dup pair set is tiny relative to the corpus — eager
    # pin, then hash-join the projected sides in
    # lazy: single consumer (pj) — materialized by the final job
    pairs = cosine_pairs(emb, EMBED_DUP_THRESHOLD).localCheckpoint(eager=False)
    pj = (
        pairs.join(
            proj.select(F.col("vec_id").alias("vec_id_a"), F.col("y").alias("ya")),
            "vec_id_a",
        )
        .join(
            proj.select(F.col("vec_id").alias("vec_id_b"), F.col("y").alias("yb")),
            "vec_id_b",
        )
        .select("cosine_e6", "ya", "yb")
        .localCheckpoint(eager=False)
    )
    # FUSED grid (optimization r12): the per-t formulation ran one
    # aggregation job over pj AND one over proj per grid dim — at 100
    # TB that is |grid| extra scans of the corpus-sized projection
    # checkpoint (and 2·|grid| AQE stages locally).  Every per-t
    # statistic is computed in ONE pass over each frame instead (same
    # expressions per t, byte-identical arithmetic), then the single
    # (1 x 8·|grid|)-column row is unpivoted driver-free via a
    # struct explode.  Oracle unchanged.
    perr_aggs, nr_aggs = [], []
    for t in _RP_GRID:
        aerr = F.abs(
            cosine_e6(cosine_similarity(F.slice("ya", 1, t), F.slice("yb", 1, t)))
            - F.col("cosine_e6")
        )
        perr_aggs += [
            int_div_trunc(
                F.coalesce(F.sum(aerr), F.lit(0)),
                F.greatest(F.count(F.lit(1)), F.lit(1)),
            ).alias(f"mean_abs_err_e6_{t}"),
            F.coalesce(F.max(aerr), F.lit(0)).cast("long").alias(f"max_abs_err_e6_{t}"),
        ]
        nyt = F.aggregate(
            F.transform(F.slice("y", 1, t), lambda v: v * v),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        ratio_e6 = cosine_e6(nyt / (F.lit(float(t)) * F.col("nx2")))
        nr_aggs += [
            int_div_trunc(F.sum(ratio_e6), F.count(F.lit(1))).alias(
                f"mean_norm_ratio_e6_{t}"
            ),
            F.min(ratio_e6).cast("long").alias(f"min_norm_ratio_e6_{t}"),
            F.max(ratio_e6).cast("long").alias(f"max_norm_ratio_e6_{t}"),
        ]
    perr = pj.agg(F.count(F.lit(1)).cast("long").alias("n_pairs"), *perr_aggs)
    nr = proj.filter(F.col("nx2") > 0).agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"), *nr_aggs
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(t).cast("long").alias("t"),
                F.col("n_pairs"),
                F.col(f"mean_abs_err_e6_{t}").alias("mean_abs_err_e6"),
                F.col(f"max_abs_err_e6_{t}").alias("max_abs_err_e6"),
                F.col("n_vecs"),
                F.col(f"mean_norm_ratio_e6_{t}").alias("mean_norm_ratio_e6"),
                F.col(f"min_norm_ratio_e6_{t}").alias("min_norm_ratio_e6"),
                F.col(f"max_norm_ratio_e6_{t}").alias("max_norm_ratio_e6"),
            )
            for t in _RP_GRID
        ]
    )
    return (
        perr.crossJoin(nr)
        .select(F.explode(rows).alias("_r"))
        .select("_r.*")
    )
