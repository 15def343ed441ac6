"""Sketch-quality, dedup-threshold, PCA, ANN-recall and split-hygiene queries.

- q_minhash_fidelity — per verified near-dup pair, exact Jaccard vs
  the 16-seed portable-MinHash agreement count: the audit that
  answers "is my MinHash config good enough on MY corpus" with data,
  not formulas.
- q_dedup_threshold_sweep — near-dup pair/doc counts across a
  threshold grid: the curve a curation team reads before committing
  to a dedup threshold.
- q_stopword_density_by_source — per-source density of the corpus'
  heavy-hitter tokens (boilerplate/stopword saturation signal),
  reusing operators/sketches.heavy_hitters.
- q_embedding_whiten — rows-only: PCA-whitened projection
  (eigensolve is not SQL-expressible; semantics pinned by
  tests/test_linalg.py numpy recompute).
- q_dup_inflation — per-source character inflation a near-dedup pass
  would reclaim (pairs → CC clusters → keep verdicts → one corpus
  aggregate, exact integer ppm).
- q_ann_recall_report — rows-only: recall@3 of the LSH and IVF ANNs
  against the exact brute-force baseline, per query vector.

Sketch-prunes-but-never-decides + split hygiene:

- q_distinct_sketch — per-source exact shingle cardinality vs the
  portable-HLL estimate (operators/sketches.hll_registers) with
  observed err_ppm; the estimate replays bit-for-bit in the oracle.
- q_bloom_pruned_join — selective fact⋈dim rollup with the fact side
  pre-pruned by a dim-key bloom (operators/sketches.bloom_prune);
  results exact, oracle is the plain join.
- q_leakage_split — near-dup-cluster-aware 80/10/10 split with a
  zero-by-construction straddle-pair certificate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from week4_musemotion_spark.functions.exact import dec, int_div_trunc, ratio_e4
from week4_musemotion_spark.functions.hashing import stable_hash64, stable_hash64_sql
from week4_musemotion_spark.queries.extensions import _closure_ctes, _jaccard_ctes
from week4_musemotion_spark.queries.registry import query
from week4_musemotion_spark.sources.tables import load_table

#: Portable-MinHash family size for the fidelity audit (md5-derived
#: seeds — engine-replayable, unlike the production xxhash64 family).
_FIDELITY_HASHES = 16

#: Pair domain for the sketch-quality audits: exact Jaccard >= 0.5
#: (this corpus: planted pairs >= 0.9, noise <= 0.07 — huge margin).
_FIDELITY_MIN_JACCARD = 0.5

#: Dedup-threshold grid (e4 fixed-point).
_SWEEP_THRESHOLDS = (5000, 6000, 7000, 8000, 9000)


def _pair_signature_ctes() -> str:
    """Oracle twin of :func:`_pair_signatures`: the ``pairs`` CTE chain
    plus ``mh(doc_id, k, mv)``, one MinHash value per document and seed."""
    return f"""{_jaccard_ctes(_FIDELITY_MIN_JACCARD)},
    mh AS (
        -- the shared helper's ROW-VALUED seed form: same 'k:' prefix,
        -- same md5-prefix width, so Spark's stable_hash64(s, seed=k)
        -- replays bit-for-bit
        SELECT sh.doc_id, s.k,
               min({stable_hash64_sql("sh.shingle", seed_expr="s.k")}) AS mv
        FROM sh CROSS JOIN (SELECT unnest(range(0, {_FIDELITY_HASHES})) AS k) s
        GROUP BY sh.doc_id, s.k
    )"""


def _pair_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every near-dup pair (exact 3-gram Jaccard >= ``_FIDELITY_MIN_JACCARD``)
    as ``(doc_b, doc_a, jaccard_e4)`` plus both members' portable-MinHash
    signatures in columns ``a_<k>`` and ``b_<k>`` (``stable_hash64``
    seeded ``k`` for ``k < _FIDELITY_HASHES``, so the oracle replays
    every value).  The pair domain comes from the shingle equi-join
    (never all-pairs); signatures are one grouped aggregate over the
    shingles of pair members only."""
    from week4_musemotion_spark.operators.dedup import _intersections, shingle_strings

    d = load_table(spark, sf_dir, "documents")
    shs = shingle_strings(d).distinct().localCheckpoint(eager=False)
    sh = shs.select("_id", F.col("s").alias("shingle"))
    pairs = (
        _intersections(None, sh)
        .filter(F.col("jac") >= _FIDELITY_MIN_JACCARD)
        .select("doc_a", "doc_b", "jaccard_e4")
        .localCheckpoint(eager=False)  # feeds the member prune AND the final join
    )
    # signatures only for documents that appear in a near-dup pair —
    # the pair set is tiny next to the corpus, so this broadcast
    # semi-join prunes ~all of the 16-seed hashing and its shuffle
    members = (
        pairs.select(F.col("doc_a").alias("_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("_id")))
        .distinct()
    )
    sig = (
        shs.join(F.broadcast(members), "_id", "semi")
        .groupBy("_id")
        .agg(
            *[
                F.min(stable_hash64(F.col("s"), seed=k)).alias(f"mh_{k}")
                for k in range(_FIDELITY_HASHES)
            ]
        )
    )
    a = sig.select(F.col("_id").alias("doc_a"), *[F.col(f"mh_{k}").alias(f"a_{k}") for k in range(_FIDELITY_HASHES)])
    b = sig.select(F.col("_id").alias("doc_b"), *[F.col(f"mh_{k}").alias(f"b_{k}") for k in range(_FIDELITY_HASHES)])
    return pairs.join(a, "doc_a").join(b, "doc_b")


@query(
    "q_minhash_fidelity",
    covers=("X-MINHASH-FIDELITY",),
    oracle=f"""
    WITH {_pair_signature_ctes()}
    SELECT p.doc_a, p.doc_b,
           CAST((2 * p.i * 10000 + (p.na + p.nb - p.i)) // (2 * (p.na + p.nb - p.i)) AS BIGINT) AS jaccard_e4,
           CAST(count(*) FILTER (WHERE a.mv = b.mv) AS BIGINT) AS sig_agree,
           CAST((2 * count(*) FILTER (WHERE a.mv = b.mv) * 10000 + {_FIDELITY_HASHES})
                // (2 * {_FIDELITY_HASHES}) AS BIGINT) AS est_e4
    FROM pairs p
    JOIN mh a ON a.doc_id = p.doc_a
    JOIN mh b ON b.doc_id = p.doc_b AND b.k = a.k
    GROUP BY p.doc_a, p.doc_b, p.i, p.na, p.nb
    """,
)
def q_minhash_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash sketch-quality audit: for every verified near-dup pair
    (exact 3-gram Jaccard >= 0.5), the exact Jaccard next to the
    16-seed MinHash signature agreement — measured on THIS corpus, so
    a config change (bands, rows, hash count) is judged by data
    rather than by the 1-(1-s^r)^b formula alone.  The hash family
    here is the md5-portable ``stable_hash64`` (seeded), which is
    what lets the oracle replay every signature bit-for-bit; the
    production family swaps in xxhash64 behind the same shape.

    Scale: pair domain comes from the shingle equi-join (never
    all-pairs); signatures are one grouped aggregate over the
    exploded shingle table (16 mins in a single shuffle)."""
    agree = sum(
        F.when(F.col(f"a_{k}") == F.col(f"b_{k}"), 1).otherwise(0)
        for k in range(_FIDELITY_HASHES)
    ).cast("long")
    return (
        _pair_signatures(spark, sf_dir)
        .select(
            "doc_a",
            "doc_b",
            "jaccard_e4",
            agree.alias("sig_agree"),
            ratio_e4(agree, F.lit(_FIDELITY_HASHES)).alias("est_e4"),
        )
    )


@query(
    "q_dedup_threshold_sweep",
    covers=("X-DEDUP-THRESHOLD-SWEEP",),
    oracle=f"""
    WITH {_jaccard_ctes(_FIDELITY_MIN_JACCARD)},
    jac AS (
        SELECT doc_a, doc_b,
               CAST((2 * i * 10000 + (na + nb - i)) // (2 * (na + nb - i)) AS BIGINT) AS jaccard_e4
        FROM pairs
    ),
    grid AS (SELECT CAST(unnest([{", ".join(map(str, _SWEEP_THRESHOLDS))}]) AS BIGINT) AS thr_e4),
    q AS (
        SELECT g.thr_e4, j.doc_a, j.doc_b
        FROM grid g LEFT JOIN jac j ON j.jaccard_e4 >= g.thr_e4
    ),
    dc AS (
        SELECT thr_e4, CAST(count(DISTINCT d) AS BIGINT) AS n_dup_docs
        FROM (SELECT thr_e4, unnest([doc_a, doc_b]) AS d FROM q WHERE doc_a IS NOT NULL)
        GROUP BY thr_e4
    )
    SELECT p.thr_e4, p.n_pairs, COALESCE(dc.n_dup_docs, 0) AS n_dup_docs
    FROM (SELECT thr_e4, CAST(count(doc_a) AS BIGINT) AS n_pairs FROM q GROUP BY thr_e4) p
    LEFT JOIN dc ON dc.thr_e4 = p.thr_e4
    """,
)
def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup threshold selection curve: for each candidate Jaccard
    threshold, how many pairs would be flagged and how many documents
    they touch — the table a curation team reads before fixing the
    dedup threshold (too low: real content removed; too high: planted
    near-dups survive).  Thresholds compare against the rounded-e4
    integer Jaccard, so the grid comparison is exact on both engines.

    Scale: the pair table is computed ONCE from the shingle equi-join
    (near-dup pairs — tiny relative to the corpus), checkpointed, and
    the grid fan-out runs over that tiny frame only."""
    from week4_musemotion_spark.operators.dedup import jaccard_pairs

    d = load_table(spark, sf_dir, "documents")
    # EAGER checkpoint: the pair table feeds two aggregation branches;
    # materializing the few-hundred-row table up front makes the
    # fan-out free
    pairs = (
        jaccard_pairs(d, _FIDELITY_MIN_JACCARD)
        .select("doc_a", "doc_b", "jaccard_e4")
        .localCheckpoint(eager=False)  # lazy: the grid fan-out's
        # final job materializes it once; both aggregate branches
        # share the same checkpointed RDD (one job saved per run)
    )
    grid = spark.createDataFrame(
        [(t,) for t in _SWEEP_THRESHOLDS], "thr_e4 long"
    )
    # crossJoin with the BROADCAST grid, never a grid⋈pairs theta
    # join: Catalyst plans that as a CartesianProduct whose task
    # count is left-partitions × right-partitions (measured ~10 s of
    # empty-task launches on 1.3k rows) — and at 100 TB the pair side
    # must stay distributed with the 5-row grid replicated anyway.
    # Empty thresholds are recovered by left-joining the grid back
    # onto the aggregates.
    hits = pairs.crossJoin(F.broadcast(grid)).filter(
        F.col("jaccard_e4") >= F.col("thr_e4")
    )
    n_pairs = hits.groupBy("thr_e4").agg(F.count(F.lit(1)).cast("long").alias("np"))
    docs = (
        hits.select("thr_e4", F.explode(F.array("doc_a", "doc_b")).alias("d"))
        .groupBy("thr_e4")
        .agg(F.countDistinct("d").cast("long").alias("nd"))
    )
    return (
        grid.join(n_pairs, "thr_e4", "left")
        .join(docs, "thr_e4", "left")
        .select(
            "thr_e4",
            F.coalesce(F.col("np"), F.lit(0).cast("long")).alias("n_pairs"),
            F.coalesce(F.col("nd"), F.lit(0).cast("long")).alias("n_dup_docs"),
        )
    )


@query(
    "q_stopword_density_by_source",
    covers=("X-STOPWORD-DENSITY",),
    oracle="""
    WITH tok AS (
        SELECT source,
               unnest(list_filter(string_split_regex(text, '\\s+'), w -> w != '')) AS term
        FROM documents
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM tok),
    c AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY term),
    hh AS (
        SELECT term FROM c CROSS JOIN tot
        WHERE cnt >= (CAST(total AS HUGEINT) + 511) // 512
    )
    SELECT t.source,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(h.term) AS BIGINT) AS n_hh,
           CAST((CAST(count(h.term) AS HUGEINT) * 1000000) // count(*) AS BIGINT) AS hh_ppm
    FROM tok t LEFT JOIN hh h ON t.term = h.term
    GROUP BY t.source
    """,
)
def q_stopword_density_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate/stopword saturation per source: the share of each
    source's token stream made of CORPUS-level heavy-hitter tokens
    (>= 1/512 of all occurrences — q_heavy_hitters' set).  A source
    whose hh_ppm sits far above the corpus norm is template/boiler-
    plate-heavy and a candidate for stronger paragraph dedup; far
    below suggests tokenizer-hostile text (code, tables).

    Scale: the heavy-hitter set comes from the two-pass MG sketch
    (broadcast-sized by construction — at most 512 values), so the
    density pass is ONE scan with a broadcast left join and a
    |sources|-group aggregate."""
    from week4_musemotion_spark.functions.text import tokens
    from week4_musemotion_spark.operators.sketches import heavy_hitters

    d = load_table(spark, sf_dir, "documents")
    # not spread: token explode + counting is light per input row —
    # the doc redistribution exchange costs more than it saves here
    # (round-7 A/B, see SCALING.md)
    tok = d.select("source", F.explode(tokens(F.col("text"))).alias("term"))
    hh = heavy_hitters(tok.select("term"), "term", den=512).select("term").withColumn(
        "is_hh", F.lit(1)
    )
    n_hh = F.sum(F.coalesce(F.col("is_hh"), F.lit(0))).cast("long")
    return (
        tok.join(F.broadcast(hh), "term", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            n_hh.alias("n_hh"),
            int_div_trunc(dec(n_hh) * 1_000_000, F.count(F.lit(1))).alias("hh_ppm"),
        )
    )


@query("q_embedding_whiten", covers=("X-EMBED-WHITEN",), oracle=None)
def q_embedding_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA-whitened 8-component projection of the embedding corpus
    (``operators/linalg.pca_fit`` + ``pca_project(whiten=True)``) —
    the standard pre-conditioning step before SemDeDup / clustering /
    ANN when raw dimensions are correlated.  Rows-only like the ANNs:
    the d x d eigensolve is not SQL-expressible; the moment
    accumulation feeding it IS oracle-checked (q_embedding_gram) and
    the projection semantics are pinned against a full numpy
    recompute in tests/test_linalg.py.

    Output contract: the projection is emitted exploded to scalar
    columns ``(vec_id, comp_idx, proj_e6)`` — driver-facing results
    must be scalar-typed even under the rows-only check (the driver's
    canonicalizer pandas-sorts every column and cannot hash Python
    lists; this query's array<double> output was round 7's one red
    driver row)."""
    from week4_musemotion_spark.operators.linalg import pca_fit, pca_project

    emb = load_table(spark, sf_dir, "embeddings")
    model = pca_fit(emb, "embedding", k=8)
    proj = pca_project(emb, model, "embedding", out_col="proj", whiten=True)
    return proj.select(
        "vec_id",
        F.posexplode("proj").alias("comp_idx", "p"),
    ).select(
        "vec_id",
        F.col("comp_idx").cast("int").alias("comp_idx"),
        F.round(F.col("p") * F.lit(1000000.0)).cast("long").alias("proj_e6"),
    )


@query(
    "q_dup_inflation",
    covers=("X-DUP-INFLATION",),
    oracle=f"""
    WITH RECURSIVE {_closure_ctes(0.8)},
    drop_ids AS (SELECT doc_id FROM cl WHERE keep_id != doc_id)
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(x.doc_id) AS BIGINT) AS n_dropped,
           CAST(sum(d.n_chars) AS BIGINT) AS chars_total,
           CAST(coalesce(sum(CASE WHEN x.doc_id IS NOT NULL THEN d.n_chars END), 0) AS BIGINT) AS chars_dropped,
           CAST((CAST(coalesce(sum(CASE WHEN x.doc_id IS NOT NULL THEN d.n_chars END), 0) AS HUGEINT) * 1000000)
                // sum(d.n_chars) AS BIGINT) AS drop_ppm
    FROM documents d LEFT JOIN drop_ids x ON d.doc_id = x.doc_id
    GROUP BY d.source
    """,
)
def q_dup_inflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication inflation per source: how many documents — and how
    many CHARACTERS, the cost that actually bills at training time —
    a near-dedup pass (Jaccard >= 0.8 clusters, keep lowest id) would
    remove.  The number a curation team reads to decide which sources
    pay for aggressive dedup: drop_ppm ~ 0 means dedup there is
    wasted compute; a hot source with 20% char inflation is the one
    inflating epoch cost.  Composes the pair->cluster->verdict chain
    (shingle equi-join + pointer-jumping CC) with one corpus
    aggregate; exact integer ppm, oracle re-derives the closure with
    a recursive CTE."""
    from week4_musemotion_spark.operators.dedup import jaccard_pairs
    from week4_musemotion_spark.operators.graph import dedup_clusters

    d = load_table(spark, sf_dir, "documents")
    drop = (
        dedup_clusters(jaccard_pairs(d, 0.8))
        .filter(F.col("keep_id") != F.col("doc_id"))
        .select("doc_id", F.lit(1).alias("is_drop"))
    )
    chars_dropped = F.coalesce(
        F.sum(F.when(F.col("is_drop") == 1, F.col("n_chars"))), F.lit(0)
    ).cast("long")
    return (
        d.join(F.broadcast(drop), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count("is_drop").cast("long").alias("n_dropped"),
            F.sum("n_chars").cast("long").alias("chars_total"),
            chars_dropped.alias("chars_dropped"),
            int_div_trunc(dec(chars_dropped) * 1_000_000, F.sum("n_chars")).alias(
                "drop_ppm"
            ),
        )
    )


@query("q_ann_recall_report", covers=("X-ANN-RECALL",), oracle=None)
def q_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality report: per query vector and method (hyperplane-
    LSH, one-shot IVF), the hit count against the EXACT brute-force
    top-3 and the recall in e4 fixed-point — the acceptance gate an
    ANN config must pass before it replaces exact search in a
    pipeline.  Rows-only like the ANNs themselves (bucket recall is
    not SQL-expressible), but run-to-run deterministic: hyperplanes
    derive from md5, IVF seeds by lowest ids, and the exact baseline
    breaks ties by neighbor id.

    Scale: the exact baseline and the IVF rerank run the same
    collected-queries/Arrow-corpus kernel, LSH an equi-join on
    (table, bucket); the report joins three tiny (n_queries x k)
    frames."""
    from week4_musemotion_spark.operators.similarity import (
        knn_brute_force,
        knn_ivf,
        knn_lsh,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    k = 3
    # pin: the exact baseline feeds FOUR branches (a semi join and a
    # spine per method) — unpinned, the brute-force scan re-executes
    # per branch (the q_winnow_recall lesson; see the verify skill)
    exact = (
        knn_brute_force(emb, queries, k=k)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=False)
    )
    reports = []
    for method, res in (
        ("lsh", knn_lsh(emb, queries, k=k)),
        ("ivf", knn_ivf(emb, queries, k=k)),
    ):
        hits = (
            res.select("query_id", "neighbor_id")
            .join(exact, ["query_id", "neighbor_id"], "semi")
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
        )
        reports.append(
            exact.select("query_id")
            .distinct()
            .join(hits, "query_id", "left")
            .select(
                F.lit(method).alias("method"),
                "query_id",
                F.coalesce(F.col("n_hits"), F.lit(0).cast("long")).alias("n_hits"),
                ratio_e4(
                    F.coalesce(F.col("n_hits"), F.lit(0)).cast("long"), F.lit(k)
                ).alias("recall_e4"),
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


# ---------------------------------------------------------------------------
# Portable-HLL distinct sketch audit
# ---------------------------------------------------------------------------

#: HLL precision for the distinct-sketch audit: m = 2^8 = 256
#: registers (~6.5 % standard error).  The corpus' per-source 3-gram
#: cardinality (>= ~1.1k at sf0.001, growing with sf) sits safely in
#: the raw-estimate regime (> 2.5 m = 640) at every test SF.
_HLL_P = 8
_HLL_M = 1 << _HLL_P


def _hll_w1() -> int:
    """Empty-register exponent W+1, derived from the operator's own
    hash-width constant so oracle and plan cannot drift."""
    from week4_musemotion_spark.operators.sketches import _HASH_BITS

    return _HASH_BITS - _HLL_P + 1


_HLL_W1 = _hll_w1()


def _hll_num() -> int:
    """α_e7 · m² · 2^(W+1) — the pinned integer numerator shared by
    the Spark plan and the oracle."""
    from week4_musemotion_spark.operators.sketches import hll_alpha_e7

    return hll_alpha_e7(_HLL_M) * _HLL_M * _HLL_M * (1 << _HLL_W1)


def _hll_shingle_sql(n: int = 3) -> str:
    """documents → per-source raw n-gram shingle stream ``sh(source, s)``."""
    from week4_musemotion_spark.queries.extensions import _shingle_expr

    return f"""tok AS (SELECT source, list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS ts FROM documents),
    sh AS (SELECT source, unnest({_shingle_expr(n)}) AS s FROM tok WHERE len(ts) >= {n})"""


def _hll_rho_sql(h: str = "h") -> str:
    """Register rank of a hash expression — the oracle twin of the
    rho computation in operators/sketches.hll_registers."""
    return (
        f"CASE WHEN ({h} >> {_HLL_P}) = 0 THEN {_HLL_W1} "
        f"ELSE {_HLL_W1} - length(bin({h} >> {_HLL_P})) END"
    )


def _hll_e2_sql(dp: str = "dp", present: str = "present") -> str:
    """The exact-integer raw-estimate expression from a group's
    harmonic partial sum and present-register count — shared by every
    HLL oracle so the formula exists once."""
    return (
        f"CAST(CAST('{_hll_num()}' AS HUGEINT)"
        f" // (CAST({dp} + ({_HLL_M} - {present}) * (CAST(1 AS BIGINT) << {_HLL_W1}) AS HUGEINT) * 100000)"
        f" AS BIGINT)"
    )


@query(
    "q_distinct_sketch",
    covers=("X-HLL-DISTINCT",),
    oracle=f"""
    WITH {_hll_shingle_sql(3)},
    hx AS (SELECT source, s, {stable_hash64_sql('s')} AS h FROM sh),
    reg AS (
        SELECT source, h & {_HLL_M - 1} AS bucket,
               max({_hll_rho_sql()}) AS reg
        FROM hx GROUP BY 1, 2
    ),
    agg AS (
        SELECT source, count(*) AS present,
               sum(CAST(1 AS BIGINT) << CAST({_HLL_W1} - reg AS INT)) AS dp
        FROM reg GROUP BY 1
    ),
    est AS (
        SELECT source,
               {_hll_e2_sql()} AS hll_e2,
               CAST({_HLL_M} - present AS BIGINT) AS zero_regs
        FROM agg
    ),
    ex AS (SELECT source, count(DISTINCT s) AS exact_distinct FROM sh GROUP BY 1)
    SELECT e.source,
           CAST(ex.exact_distinct AS BIGINT) AS exact_distinct,
           e.hll_e2,
           e.zero_regs,
           CAST(abs(CAST(e.hll_e2 AS HUGEINT) - 100 * ex.exact_distinct) * 1000000
                // (CAST(100 AS HUGEINT) * ex.exact_distinct) AS BIGINT) AS err_ppm
    FROM est e JOIN ex ON e.source = ex.source
    """,
)
def q_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-cardinality sketch audit: per source, the corpus'
    3-gram shingle cardinality counted EXACTLY next to the portable-
    HLL estimate (``operators/sketches.hll_registers``), with the
    observed error in ppm — "is 6.5 % error acceptable for my mixing
    weights" answered with this corpus' own numbers.

    The sketch is built from engine-portable primitives (md5-derived
    hash, bin()-ranked leading zeros, power-of-two harmonic terms as
    exact longs, one pinned-integer division), so the DuckDB oracle
    replays the estimate to the exact integer — the same
    sketch-is-still-oracle-checkable property q_heavy_hitters
    established for frequency.  At 100 TB the exact branch (a full
    distinct shuffle of every unique shingle) is dropped and only the
    register table survives: m = 256 rows per source, mergeable
    across shards by per-bucket max, duplicates free.  Raw-regime
    only by design here (n > 2.5 m holds at every SF — min ~1.1k vs
    640); the operator exposes ``zero_regs`` for callers that need
    the linear-counting branch."""
    from week4_musemotion_spark.functions.text import shingles, tokens
    from week4_musemotion_spark.operators.sketches import hll_estimate, hll_registers

    from week4_musemotion_spark.sources.tables import spread

    # spread: parallelize the explode+hash above a single-row-group
    # scan (sources.tables.spread).  The sketch and the exact twin
    # each re-explode from the spread frame: NOT branch-reuse-pinned,
    # deliberately — checkpointing here would materialize the full
    # exploded shingle STREAM (strings, ≫ corpus size)
    d = spread(load_table(spark, sf_dir, "documents").select("source", "text"))
    s = d.select("source", F.explode(shingles(tokens("text"), 3)).alias("s"))
    est = hll_estimate(hll_registers(s, ["source"], "s", p=_HLL_P), ["source"], p=_HLL_P)
    ex = s.groupBy("source").agg(F.countDistinct("s").cast("long").alias("exact_distinct"))
    return (
        ex.join(est, "source")
        .select(
            "source",
            "exact_distinct",
            "hll_e2",
            "zero_regs",
            int_div_trunc(
                F.abs(dec(F.col("hll_e2")) - dec(F.col("exact_distinct")) * 100)
                * 1_000_000,
                dec(F.col("exact_distinct")) * 100,
            ).alias("err_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-pruned join
# ---------------------------------------------------------------------------

def _bloom_part_pred():
    """Dim-side predicate for the bloom-pruned join AND sketch_audits'
    fp audit (which provisions THIS join's filter — the two must size
    the same key population): PROMO parts of size <= 10 (~6 % of
    parts), selective enough that the runtime filter visibly shrinks
    the fact side.  (A function — building a Column at import time
    requires an active session.)"""
    return (F.col("p_type") == "PROMO") & (F.col("p_size") <= 10)


#: Unqualified (alias-free) SQL rendering of :func:`_bloom_part_pred`
#: — valid wherever ``part`` is in scope, qualified or not.
_BLOOM_PART_PRED_SQL = "p_type = 'PROMO' AND p_size <= 10"


@query(
    "q_bloom_pruned_join",
    covers=("X-BLOOM-JOIN-PRUNE",),
    oracle=f"""
    SELECT p.p_brand,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS BIGINT)
               AS revenue_e4,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE {_BLOOM_PART_PRED_SQL}
    GROUP BY p.p_brand
    """,
)
def q_bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective fact⋈dim revenue rollup where the fact side is
    pre-pruned by a bloom filter built from the dim's surviving join
    keys (``operators/sketches.bloom_prune``) — the explicit runtime
    semi-join filter for the 100 TB join shape where the dim is too
    big to broadcast raw (its bloom is still KBs) and shuffling the
    whole fact table for a 6 % -selective join wastes 94 % of the
    exchange.  The bitmap is advisory: false positives are removed by
    the equi-join itself, so the result is EXACT and the oracle is
    the plain join — the same sketch-prunes-but-never-decides
    contract as q_heavy_hitters and q_distinct_sketch.  (At this
    test scale Catalyst would broadcast the dim anyway; the plan
    still shows the membership predicate on the scan side of the
    exchange, which is the 1000-executor story.)"""
    from week4_musemotion_spark.functions.exact import cents
    from week4_musemotion_spark.operators.sketches import bloom_prune
    from week4_musemotion_spark.queries.tpch import _disc_pct

    part = load_table(spark, sf_dir, "part").filter(_bloom_part_pred())
    li = load_table(spark, sf_dir, "lineitem")
    pruned = bloom_prune(li, part.select("p_partkey"), "l_partkey", "p_partkey")
    return (
        pruned.join(part, pruned.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(cents("l_extendedprice") * (100 - _disc_pct()))
            .cast("long")
            .alias("revenue_e4"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Leakage-safe train/val/test split
# ---------------------------------------------------------------------------

#: Percent buckets for the split: [0,80) train, [80,90) val, rest test.
_SPLIT_TRAIN, _SPLIT_VAL = 80, 90


@query(
    "q_leakage_split",
    covers=("X-LEAKAGE-SPLIT",),
    oracle=f"""
    WITH RECURSIVE {{ctes}},
    e2 AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION
        SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    reach(u, v) AS (
        SELECT u, v FROM e2
        UNION
        SELECT r.u, e.v FROM reach r JOIN e2 e ON r.v = e.u
    ),
    lab AS (SELECT u AS doc_id, least(u, min(v)) AS keep_id FROM reach GROUP BY u),
    assign AS (
        SELECT d.doc_id, d.n_chars, COALESCE(l.keep_id, d.doc_id) AS rep
        FROM documents d LEFT JOIN lab l ON d.doc_id = l.doc_id
    ),
    sp AS (
        SELECT doc_id, n_chars, rep,
               CASE WHEN b < {_SPLIT_TRAIN} THEN 'train'
                    WHEN b < {_SPLIT_VAL} THEN 'val'
                    ELSE 'test' END AS split
        FROM (SELECT *, {{bucket}} % 100 AS b FROM assign)
    ),
    st AS (
        SELECT count(*) AS straddle_pairs
        FROM pairs p
        JOIN sp a ON p.doc_a = a.doc_id
        JOIN sp b ON p.doc_b = b.doc_id
        WHERE a.split != b.split
    )
    SELECT sp.split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT rep) AS BIGINT) AS n_clusters,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(st.straddle_pairs AS BIGINT) AS straddle_pairs
    FROM sp CROSS JOIN st
    GROUP BY sp.split, st.straddle_pairs
    """.format(
        ctes=_jaccard_ctes(0.8),
        bucket=stable_hash64_sql("CAST(rep AS VARCHAR)"),
    ),
)
def q_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/val/test split: hash-bucket WHOLE near-dup
    clusters (Jaccard >= 0.8 connected components; singletons are
    their own cluster) into 80/10/10 splits, so two near-duplicate
    documents can never land in different splits — the eval-set
    contamination that naive per-doc hashing bakes in (a train doc's
    near-copy in the test set is leakage that survives ordinary
    dedup-after-split).  ``straddle_pairs`` re-counts near-dup pairs
    crossing split boundaries: zero BY CONSTRUCTION, emitted as the
    split's self-certificate.

    Deterministic end to end: the bucket is the portable hash of the
    cluster representative, so the split is stable across runs,
    engines, and appends — new documents get their own buckets and
    existing docs keep theirs, EXCEPT docs whose cluster a new
    arrival merges with another (the representative re-keys; the
    stability boundary is pinned in
    ``test_leakage_split_stable_under_append_unless_clusters_merge``).
    Scale: pair generation is the shingle
    equi-join (LSH at 100 TB), components are pointer-jumping CC,
    and the split itself is one hash + one keyed aggregate — no new
    shuffle beyond what dedup already paid."""
    from week4_musemotion_spark.operators.dedup import jaccard_pairs
    from week4_musemotion_spark.operators.graph import dedup_clusters
    from week4_musemotion_spark.queries.extensions import JACCARD_THRESHOLD

    d = load_table(spark, sf_dir, "documents")
    # pairs feed clusters AND the straddle certificate; clusters feed
    # the assignment — pin both (branch-reuse)
    pairs = jaccard_pairs(d, JACCARD_THRESHOLD).localCheckpoint(eager=False)
    clusters = dedup_clusters(pairs)
    b = F.pmod(stable_hash64(F.col("rep").cast("string")), 100)
    assign = (
        d.select("doc_id", "n_chars")
        .join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce("keep_id", "doc_id").alias("rep"),
        )
        .withColumn(
            "split",
            F.when(b < _SPLIT_TRAIN, "train")
            .when(b < _SPLIT_VAL, "val")
            .otherwise("test"),
        )
        .localCheckpoint(eager=False)
    )
    agg = assign.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("rep").cast("long").alias("n_clusters"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )
    sa = assign.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a"))
    sb = assign.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b"))
    straddle = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("straddle_pairs"))
    )
    return agg.crossJoin(F.broadcast(straddle))
