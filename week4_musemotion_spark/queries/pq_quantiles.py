"""Streaming/exact quantiles, PQ audits and the functional-dependency profiler.

- q_stream_len_quantiles — per-source document-length quantiles read
  from the STREAMING log-bucket sketch store
  (``streaming/counts.py``): the corpus is replayed as micro-
  batches through the txn-marker ``foreachBatch`` sink (one batch
  deliberately REPLAYED to pin exactly-once, the log compacted
  mid-stream to pin the manifest flip), then the readout folds the
  committed partials.  Because the sketch's merge IS addition, the
  streamed result equals the batch q_len_quantiles to the digit —
  one DuckDB oracle pins both the sketch math AND the store's
  exactly-once protocol end to end.

- q_len_quantiles_exact — exact quantiles by VALUE-HISTOGRAM
  selection, completing the engine's quantile-strategy triple:
  q_group_quantiles ranks every row (right for small groups),
  THIS path compresses to |distinct values| counts first (right for
  bounded domains like byte lengths — state is the histogram, not
  the rows), and q_len_quantiles sketches to ~260 log buckets
  (right for unbounded domains).  The sketch's lower-bound contract
  (exact >= sketch lb, within a quarter-octave) is pinned in pytest.
- q_price_quantiles_nation — the sketch on the BUSINESS side: order
  value quantiles (exact cents) per customer nation, composing a
  broadcast dim join under the sketch build — shows the operator is
  not text-only and that the join happens BELOW the collapse to
  bucket rows.
- q_pq_code_hist / q_pq_adc_knn — product quantization (Jégou et
  al., TPAMI 2011): the code-usage histogram under deterministic
  SEED codebooks is fully value-oracled (sequential-fold distances,
  rank-1 argmin — both engines replay it bit-exactly), while the
  Lloyd-FITTED encode + asymmetric-distance top-k is the rows-only
  production path, pinned by pytest against the expression twin and
  the exact KNN (recall + distortion-beats-seed contracts).
- q_fd_violations — approximate functional-dependency audit
  (profiling, Metanome-style): for candidate FDs over the documents
  table, the violation rate against each determinant value's
  MAJORITY image — the schema-inference signal that says "lang
  almost determines script bucket" vs "these columns are
  independent".

Differential evidence: the ``*_matches_oracle`` tests (conftest.oracle_diff
at sf0.001; sf0.01/sf0.1 via ``tools/check_correctness.py``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from week4_musemotion_spark.operators.qsketch import quantiles_sql
from week4_musemotion_spark.queries.registry import query
from week4_musemotion_spark.sources.sinks import cached_fixture
from week4_musemotion_spark.sources.tables import load_table

#: Micro-batch count for the replayed corpus stream.
_QS_BATCHES = 6


def _build_qsketch_store(spark: SparkSession, sf_dir: str, tmp: str) -> None:
    """Drive the sink exactly as a foreachBatch stream would, plus the
    two fault-injection moves a test must pin: one batch REPLAYED
    (marker short-circuit) and one mid-stream compaction (manifest
    flip) — if either broke exactly-once, the oracle diff would
    catch it as a wrong bucket count."""
    from week4_musemotion_spark.operators.qsketch import bucket_counts
    from week4_musemotion_spark.streaming.counts import compact_counts, make_count_sink

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.length("text").alias("doc_len")
    )
    store = os.path.join(tmp, "store")
    sink = make_count_sink(
        store, lambda b: bucket_counts(b.select("source", "doc_len"), ["source"], "doc_len")
    )
    for b in range(_QS_BATCHES):
        batch = d.filter(F.col("doc_id") % _QS_BATCHES == b)
        sink(batch, b)
        if b == 1:
            sink(batch, b)  # replay: the commit marker must no-op it
        if b == 3:
            compact_counts(spark, store)  # fold the first four batches


def _qsketch_store_fixture(spark: SparkSession, sf_dir: str) -> str:
    return cached_fixture(
        "musemotion_qsketch_store",
        sf_dir,
        f"qsketch_store:{_QS_BATCHES}".encode(),
        lambda tmp: _build_qsketch_store(spark, sf_dir, tmp),
        table="documents",  # fingerprint the table the store is BUILT from
    )


@query(
    "q_stream_len_quantiles",
    covers=("X-STREAM-QSKETCH",),
    oracle="WITH src AS (SELECT source, length(text) AS v FROM documents)"
    + quantiles_sql("src", ["source"], "v"),
)
def q_stream_len_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source length quantiles from the STREAMING sketch store —
    the unbounded-corpus form of q_len_quantiles.  The fixture
    replays the corpus as micro-batches through the txn-marker sink
    (one batch duplicated, the log compacted mid-stream), and the
    readout folds only committed, not-yet-folded partials; the
    oracle is the BATCH quantile SQL over the whole table, which the
    streamed result must match to the digit because bucket-count
    merge is exact addition.  One oracle therefore pins the sketch
    arithmetic, the marker protocol, and the compaction manifest
    flip in a single hash.

    Scale shape: each micro-batch writes O(|batch| → buckets) rows;
    read-side state is O(sources × ~260) regardless of stream
    length; compaction keeps the log's file count bounded."""
    from week4_musemotion_spark.operators.qsketch import quantiles_from_counts
    from week4_musemotion_spark.streaming.counts import read_daily_counts

    tmp = _qsketch_store_fixture(spark, sf_dir)
    counts = read_daily_counts(
        spark, os.path.join(tmp, "store"), "source string, bucket int, cnt long"
    )
    return quantiles_from_counts(counts, ["source"])


# ---------------------------------------------------------------------------
# Exact-selection quantiles (the sketch's exact twin)
# ---------------------------------------------------------------------------

_EXACT_PS = (("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100))


@query(
    "q_len_quantiles_exact",
    covers=("X-QUANTILE-EXACT",),
    oracle="""
    WITH c AS (
        SELECT source, length(text) AS v, count(*) AS cnt
        FROM documents GROUP BY 1, 2
    ),
    w AS (
        SELECT source, v, cnt,
               sum(cnt) OVER (PARTITION BY source ORDER BY v
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               sum(cnt) OVER (PARTITION BY source) AS n
        FROM c
    )
    SELECT source, CAST(max(n) AS BIGINT) AS n,
           CAST(min(CASE WHEN cum >= (n * 1 + 1) // 2 THEN v END) AS BIGINT) AS p50,
           CAST(min(CASE WHEN cum >= (n * 9 + 9) // 10 THEN v END) AS BIGINT) AS p90,
           CAST(min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN v END) AS BIGINT) AS p99
    FROM w GROUP BY source
    """,
)
def q_len_quantiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-source length quantiles by distributed selection:
    group by (source, value), cumulative-count window ordered by
    value, take the smallest value whose cumulative count reaches
    ceil(p·n) — the same readout arithmetic as the log-bucket sketch
    but over exact values, so the answer is the true order statistic.

    Strategy triple (each a different state/exactness trade on the
    same semantics): q_group_quantiles ranks EVERY ROW in its group
    (fine when groups are small); this path first compresses to a
    (value -> count) histogram, so state is |distinct values| —
    lengths, ratings, ages; the q_len_quantiles sketch caps state at
    ~260 log buckets for unbounded domains at the price of a < 25 %
    under-read.  The sketch's lower-bound contract (sketch_p <=
    exact_p, within a quarter octave) is pinned against this query
    in pytest."""
    from pyspark.sql import Window
    from week4_musemotion_spark.functions.exact import int_div_trunc

    d = load_table(spark, sf_dir, "documents")
    c = d.groupBy("source", F.length("text").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wc = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = Window.partitionBy("source")
    w = c.withColumn("cum", F.sum("cnt").over(wc)).withColumn(
        "n", F.sum("cnt").over(wn)
    )
    aggs = [F.max("n").cast("long").alias("n")]
    for name, pn, pd_ in _EXACT_PS:
        k = int_div_trunc(F.col("n") * pn + (pd_ - 1), F.lit(pd_))
        aggs.append(
            F.min(F.when(F.col("cum") >= k, F.col("v"))).cast("long").alias(name)
        )
    return w.groupBy("source").agg(*aggs)


# ---------------------------------------------------------------------------
# Money quantiles per nation (sketch x dimension join)
# ---------------------------------------------------------------------------


@query(
    "q_price_quantiles_nation",
    covers=("X-QSKETCH-MONEY",),
    oracle="""WITH src AS (
        SELECT n.n_name AS nation, CAST(round(o.o_totalprice * 100) AS BIGINT) AS v
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
    )"""
    + quantiles_sql("src", ["nation"], "v"),
)
def q_price_quantiles_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-value quantiles (p50/p90/p99 of exact integer cents) per
    customer nation off the log-bucket sketch — the business-side
    exercise of ``operators/qsketch``: what a revenue dashboard's
    "typical vs whale order by market" tile reads, at O(nations ×
    ~260) state instead of a per-nation sort.

    Scale shape: the nation attribution joins BELOW the sketch build
    — orders ⋈ customer shuffles on the customer key once (or rides
    bucketed layouts at scale), nation broadcasts, and only then
    does the grouped bucket count collapse everything; the quantile
    readout never sees a row of fact data.  Money enters as exact
    cents (``functions/exact.cents``) so the bucket boundaries are
    engine-identical."""
    from week4_musemotion_spark.functions.exact import cents
    from week4_musemotion_spark.operators.qsketch import (
        bucket_counts,
        quantiles_from_counts,
    )

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    src = (
        o.select("o_custkey", cents(F.col("o_totalprice")).alias("v"))
        .join(c.select("c_custkey", "c_nationkey"), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(n.select("n_nationkey", F.col("n_name").alias("nation"))),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("nation", "v")
    )
    return quantiles_from_counts(bucket_counts(src, ["nation"], "v"), ["nation"])


# ---------------------------------------------------------------------------
# Approximate functional-dependency audit
# ---------------------------------------------------------------------------

#: Candidate FDs audited over the documents table: two column pairs
#: plus one derived determinant (the length log-bucket), so the audit
#: exercises both raw and computed attributes.
_FD_CANDIDATES = (("lang", "source"), ("source", "lang"), ("source", "len_bucket"))


def _fd_sql(det: str, dep: str) -> str:
    """Violation accounting for one candidate FD det -> dep over the
    ``fdsrc`` CTE: per determinant value, everything outside the
    MAJORITY image value is a violation.  ``tot - max(cnt)`` is
    well-defined even under majority ties — the max COUNT is unique
    as a number whichever image value holds it."""
    return f"""
        SELECT '{det}->{dep}' AS fd,
               CAST(sum(tot) AS BIGINT) AS n_rows,
               CAST(count(*) AS BIGINT) AS n_det_values,
               CAST(sum(tot - mx) AS BIGINT) AS n_violations,
               CAST(CAST(sum(tot - mx) AS HUGEINT) * 1000000 // sum(tot) AS BIGINT)
                   AS violation_ppm
        FROM (
            SELECT {det} AS d, sum(cnt) AS tot, max(cnt) AS mx
            FROM (SELECT {det}, {dep}, count(*) AS cnt FROM fdsrc GROUP BY 1, 2)
            GROUP BY 1
        )"""


from week4_musemotion_spark.operators.qsketch import log_bucket, log_bucket_sql  # noqa: E402


@query(
    "q_fd_violations",
    covers=("X-FD-AUDIT",),
    oracle="WITH fdsrc AS (SELECT lang, source, "
    + log_bucket_sql("length(text)")
    + " AS len_bucket FROM documents)"
    + " UNION ALL ".join(_fd_sql(det, dep) for det, dep in _FD_CANDIDATES),
)
def q_fd_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate functional-dependency audit (the profiling op
    behind schema inference, Metanome/TANE-style but set up as a
    VIOLATION RATE, not a boolean): for each candidate FD X -> Y,
    the share of rows whose Y is not their X-value's majority image.
    violation_ppm = 0 means the FD holds exactly (Y is derivable
    from X — a normalization/compression opportunity and a
    data-contract candidate); small means "almost holds" (the
    violations are the anomaly worklist); ~uniform-random means the
    columns are independent.  One candidate uses a DERIVED
    determinant (the length log-bucket) to show the audit composes
    with computed attributes.

    Scale shape: per FD one (X, Y) grouped count (map-side
    combined), one |X|-row re-aggregate — never wider than the
    distinct-pair count; the three audits share one scan via the
    common projected frame."""
    d = load_table(spark, sf_dir, "documents").select(
        "lang", "source", log_bucket(F.length("text")).alias("len_bucket")
    )
    d = d.localCheckpoint(eager=False)  # three audits share the scan
    out = None
    for det, dep in _FD_CANDIDATES:
        c = d.groupBy(det, dep).agg(F.count(F.lit(1)).alias("cnt"))
        per_det = c.groupBy(det).agg(
            F.sum("cnt").alias("tot"), F.max("cnt").alias("mx")
        )
        from week4_musemotion_spark.functions.exact import dec, int_div_trunc

        fd = per_det.agg(
            F.lit(f"{det}->{dep}").alias("fd"),
            F.sum("tot").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_det_values"),
            F.sum(F.col("tot") - F.col("mx")).cast("long").alias("n_violations"),
            int_div_trunc(
                dec(F.sum(F.col("tot") - F.col("mx"))) * 1_000_000, F.sum("tot")
            ).alias("violation_ppm"),
        )
        out = fd if out is None else out.unionByName(fd)
    return out


# ---------------------------------------------------------------------------
# Product quantization
# ---------------------------------------------------------------------------

#: PQ geometry for the 64-dim test embeddings: 4 subspaces x 16 dims,
#: 8 centroids each (32-bit codes).
_PQ_M, _PQ_K, _PQ_DSUB = 4, 8, 16


def _pq_seed_hist_sql() -> str:
    """DuckDB replay of the seed-codebook encode histogram: the
    centroid table is the k lowest-id vectors, distances are the
    sequential-fold float sums (list_sum over an ordered range — the
    same IEEE op sequence as the Spark expression's aggregate fold),
    and the argmin is the (dist, c) rank-1 row."""
    sq = (
        f"(CAST(e.embedding[g.j * {_PQ_DSUB} + i] AS DOUBLE)"
        f" - CAST(cent.embedding[g.j * {_PQ_DSUB} + i] AS DOUBLE))"
    )
    return f"""
    WITH cent AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, embedding
        FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {_PQ_K})
    ),
    g AS (SELECT unnest(range(0, {_PQ_M})) AS j),
    d AS (
        SELECT e.vec_id, g.j, cent.c,
               list_sum(list_transform(range(1, {_PQ_DSUB + 1}), i -> {sq} * {sq})) AS dist
        FROM embeddings e CROSS JOIN g CROSS JOIN cent
    ),
    a AS (
        SELECT vec_id, j, c,
               row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, c) AS rn
        FROM d
    )
    SELECT CAST(j AS INT) AS j, CAST(c AS INT) AS code,
           CAST(count(*) AS BIGINT) AS n_vecs
    FROM a WHERE rn = 1 GROUP BY 1, 2
    """


@query("q_pq_code_hist", covers=("X-PQ-CODES",), oracle=_pq_seed_hist_sql())
def q_pq_code_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization code-usage histogram under deterministic
    SEED codebooks (the k lowest-id vectors' subvectors): per
    (subspace, centroid), how many corpus vectors encode to it — the
    codebook-health table (a centroid with ~zero usage is wasted
    bits; one holding half the corpus means the subspace needs more
    centroids), here for the zero-training baseline every FITTED
    codebook must beat.  Fully value-oracled: the encode is lowered
    to Catalyst expressions with sequential-fold distances
    (``operators/pq.pq_encode_expr``), so the doubles — and therefore
    the argmin — replay bit-exactly in the DuckDB twin.

    Scale shape: one corpus scan, m×k distance expressions per row
    inside codegen, a (m × k)-row aggregate; the Lloyd-fitted
    production encode (numpy kernel, same argmin law) is
    q_pq_adc_knn's path and is pinned equal to this expression form
    on real data in tests/test_pq.py."""
    from week4_musemotion_spark.operators.pq import pq_encode_expr, seed_codebooks

    emb = load_table(spark, sf_dir, "embeddings")
    model = seed_codebooks(emb, m=_PQ_M, k=_PQ_K)
    return (
        pq_encode_expr(emb, model)
        .groupBy("j", "code")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))
    )


@query("q_pq_adc_knn", covers=("X-PQ-ADC",), oracle=None)
def q_pq_adc_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-3 neighbors for the standard query
    set (vec_id < 5) under Lloyd-FITTED codebooks — the production
    memory-compressed ANN: 32-bit codes instead of 64 doubles per
    vector, distances by m table lookups.  Rows-only (k-means is not
    SQL-expressible); quality contracts live in tests/test_pq.py:
    fitted distortion must beat the seed baseline, and ADC recall@3
    against exact brute force is pinned.

    Scale shape: fit is one linear Arrow pass per Lloyd iteration
    for all m subspaces; encode one Arrow pass; search carries the
    (n_q × m × k) float tables in its kernel and scans codes once —
    at 100 TB the codes table is ~250× smaller than the vectors it
    stands for."""
    from week4_musemotion_spark.operators.pq import adc_topk, pq_encode, pq_fit

    emb = load_table(spark, sf_dir, "embeddings")
    model = pq_fit(emb, m=_PQ_M, k=_PQ_K, iters=2)
    codes = pq_encode(emb, model)
    queries = emb.filter(F.col("vec_id") < 5)
    return adc_topk(codes, model, queries, k=3)


def _pq_seed_distortion_sql() -> str:
    """Per-subspace distortion totals under the seed codebooks: the
    min distance per (vector, subspace) is quantized to e6 PER ROW,
    so the per-subspace sum is an order-independent BIGINT."""
    sq = (
        f"(CAST(e.embedding[g.j * {_PQ_DSUB} + i] AS DOUBLE)"
        f" - CAST(cent.embedding[g.j * {_PQ_DSUB} + i] AS DOUBLE))"
    )
    return f"""
    WITH cent AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, embedding
        FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {_PQ_K})
    ),
    g AS (SELECT unnest(range(0, {_PQ_M})) AS j),
    d AS (
        SELECT e.vec_id, g.j,
               min(list_sum(list_transform(range(1, {_PQ_DSUB + 1}), i -> {sq} * {sq}))) AS best
        FROM embeddings e CROSS JOIN g CROSS JOIN cent
        GROUP BY 1, 2
    )
    SELECT CAST(j AS INT) AS j,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(CAST(floor(best * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS err_e6_total
    FROM d GROUP BY 1
    """


@query("q_pq_distortion", covers=("X-PQ-DISTORTION",), oracle=_pq_seed_distortion_sql())
def q_pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-subspace PQ reconstruction-error totals under the seed
    codebooks — the codebook-quality table (a subspace with an
    outsized error total needs more centroids or a rotation), here
    for the zero-training baseline so the number is value-oracled:
    each vector's min squared distance is quantized to an e6 integer
    PER ROW before summation, making the aggregate partition-order-
    independent on both engines.  The Lloyd-fitted model's distortion
    must land BELOW these totals (tests/test_pq.py pins it).

    Scale shape: identical to q_pq_code_hist — one scan, m×k fold
    expressions in codegen, an m-row aggregate."""
    from week4_musemotion_spark.operators.pq import pq_distortion_expr, seed_codebooks

    emb = load_table(spark, sf_dir, "embeddings")
    model = seed_codebooks(emb, m=_PQ_M, k=_PQ_K)
    return (
        pq_distortion_expr(emb, model)
        .groupBy("j")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum("err_e6").cast("long").alias("err_e6_total"),
        )
    )


@query(
    "q_pq_collisions",
    covers=("X-PQ-BLOCKING",),
    oracle=f"""
    WITH cent AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, embedding
        FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {_PQ_K})
    ),
    g AS (SELECT unnest(range(0, {_PQ_M})) AS j),
    d AS (
        SELECT e.vec_id, g.j, cent.c,
               list_sum(list_transform(range(1, {_PQ_DSUB + 1}),
                   i -> (CAST(e.embedding[g.j * {_PQ_DSUB} + i] AS DOUBLE)
                         - CAST(cent.embedding[g.j * {_PQ_DSUB} + i] AS DOUBLE))
                      * (CAST(e.embedding[g.j * {_PQ_DSUB} + i] AS DOUBLE)
                         - CAST(cent.embedding[g.j * {_PQ_DSUB} + i] AS DOUBLE)))) AS dist
        FROM embeddings e CROSS JOIN g CROSS JOIN cent
    ),
    a AS (
        SELECT vec_id, j, c,
               row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, c) AS rn
        FROM d
    ),
    sig AS (
        SELECT vec_id, string_agg(CAST(c AS VARCHAR), ':' ORDER BY j) AS code_key
        FROM a WHERE rn = 1 GROUP BY vec_id
    ),
    grp AS (SELECT code_key, count(*) AS gsize FROM sig GROUP BY 1)
    SELECT CAST(gsize AS BIGINT) AS group_size,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(gsize) AS BIGINT) AS n_vecs,
           CAST(sum(CAST(gsize AS HUGEINT) * (gsize - 1) / 2) AS BIGINT) AS n_pairs
    FROM grp GROUP BY gsize
    """,
)
def q_pq_collisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-code collision blocking — the coarse semantic-dedup /
    candidate-generation move: vectors sharing ALL m codes land in
    one block, and only within-block pairs ever reach exact
    verification (the same blocking role MinHash bands play for
    text).  This table is the BLOCK SIZE distribution: n_pairs per
    size is the exact verification bill, and a giant block says the
    codebook is too coarse for blocking (add centroids or
    subspaces).  Fully value-oracled under the seed codebooks — the
    code key replays bit-exactly via the expression encode.

    Scale shape: encode (one scan, codegen) → hash aggregate on the
    m-code key → a |distinct sizes|-row distribution; never a pair
    materialization."""
    from week4_musemotion_spark.operators.pq import pq_encode_expr, seed_codebooks

    emb = load_table(spark, sf_dir, "embeddings")
    model = seed_codebooks(emb, m=_PQ_M, k=_PQ_K)
    sig = (
        pq_encode_expr(emb, model)
        .groupBy("vec_id")
        .agg(
            F.concat_ws(
                ":", F.transform(F.array_sort(F.collect_list(F.struct("j", "code"))), lambda s: s["code"].cast("string"))
            ).alias("code_key")
        )
    )
    grp = sig.groupBy("code_key").agg(F.count(F.lit(1)).alias("gsize"))
    from week4_musemotion_spark.functions.exact import dec

    return grp.groupBy(F.col("gsize").cast("long").alias("group_size")).agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("gsize").cast("long").alias("n_vecs"),
        F.sum(dec(F.col("gsize")) * (F.col("gsize") - 1) / 2).cast("long").alias("n_pairs"),
    )
