"""Similarity search over embedding columns (``array<float>``).

- :func:`knn_brute_force` — exact top-k cosine neighbors
  (:func:`_exact_topk`): the query matrix rides in the kernel's
  closure, the corpus streams through ``mapInPandas`` (Arrow batches →
  numpy block math), each batch pre-prunes to its local top-k, and a
  final window takes the global top-k.  Shuffle volume is
  O(batches × queries × k), never O(corpus).
- :func:`cosine_pairs` — exact all-pairs near-duplicate detection
  above a cosine threshold as a distributed block-nested-loop: the
  corpus is hashed into B blocks, every block *pair* becomes one
  shuffle group, and each group does block×block numpy math.  Nothing
  is ever collected to the driver; executor memory per task is
  bounded by ``rows_per_block``.  Compute stays inherently quadratic
  (that is the exact semantics) — at real scale run
  :func:`cosine_pairs_lsh` first and keep this as the oracle.
- :func:`cosine_pairs_lsh` — the near-dup scale path for the real
  dedup regime (threshold ≳ 0.8): hyperplane-LSH bucket collisions
  propose candidates, exact JVM-side rerank keeps true pairs only.
- :func:`knn_lsh` — the scale path: random-hyperplane LSH buckets
  (sign-bit sketch), candidates from bucket collisions, exact rerank
  of candidates only.  Approximate by nature (bucket recall < 1), so
  it carries a rows-only check rather than a SQL oracle.

Numeric contract: vector math accumulates in float64 **sequentially
over the dimension axis** (``_seq_matmul``), which is bit-identical
to a left-to-right fold — the same result as Spark's ``aggregate``
higher-order function and DuckDB's ``list_sum``, so differential
oracles hold exactly.  (BLAS ``A @ B.T`` uses pairwise/SIMD summation
and drifts in the last ulp; an earlier pure-expression version was
bit-exact but ~100× slower — interpreted lambda folds per pair.)
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from week4_musemotion_spark.functions.vector import cosine_similarity

#: Below this many input rows a vectorized numpy kernel (O(k*dim) or
#: O(planes*dim) flops/row) computes in single-digit ms on one core,
#: so the spread() repartition exchange costs more than it buys — on
#: any deployment.  Footer-derived row bounds gate it (see
#: sources.tables.spread); production corpora blow past the floor
#: and spread behaves exactly as before.
_NUMPY_SPREAD_MIN_ROWS = 65536
from week4_musemotion_spark.sources.tables import spread

_PAIR_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType()),
        T.StructField("neighbor_id", T.LongType()),
        T.StructField("cos", T.DoubleType()),
    ]
)

_DUP_SCHEMA = T.StructType(
    [
        T.StructField("vec_id_a", T.LongType()),
        T.StructField("vec_id_b", T.LongType()),
        T.StructField("cos", T.DoubleType()),
    ]
)


def cosine_e6(c):
    """Cosine encoded as millionths (BIGINT) with half-up rounding via
    ``floor(x*1e6 + 0.5)`` — floor is a pure binary operation, so
    identical doubles encode identically in every engine; ``round(x,
    6)`` does NOT (Spark rounds the shortest decimal string, DuckDB
    the binary value).  SQL twin: ``CAST(floor(cos * 1000000 + 0.5)
    AS BIGINT)``."""
    return F.floor(c * 1_000_000 + F.lit(0.5)).cast("long")


def _empty_result(spark, schema_src: str):
    from pyspark.sql import types as T

    if schema_src == "knn":
        schema = T.StructType(
            [
                T.StructField("query_id", T.LongType()),
                T.StructField("neighbor_id", T.LongType()),
                T.StructField("rank", T.LongType()),
                T.StructField("cosine_e6", T.LongType()),
            ]
        )
    else:
        schema = T.StructType(
            [
                T.StructField("vec_id_a", T.LongType()),
                T.StructField("vec_id_b", T.LongType()),
                T.StructField("cosine_e6", T.LongType()),
            ]
        )
    return spark.createDataFrame([], schema)


def _seq_matmul(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """``a @ b.T`` with sequential float64 accumulation over the
    dimension axis (vectorized over pairs) — bit-identical to a
    per-pair left-to-right fold."""
    out = np.zeros((a.shape[0], b.shape[0]))
    for k in range(a.shape[1]):
        out += a[:, k, None] * b[None, :, k]
    return out


def _seq_norm(a: np.ndarray) -> np.ndarray:
    out = np.zeros(a.shape[0])
    for k in range(a.shape[1]):
        out += a[:, k] * a[:, k]
    return np.sqrt(out)


def _to_matrix(col: pd.Series) -> np.ndarray:
    """Stack a column of fixed-length vectors into a float64 matrix;
    raise a curated error on null rows or ragged input (run
    q_embedding_hygiene first) instead of an obscure numpy error."""
    if len(col) == 0:
        return np.zeros((0, 1))
    if col.isna().any():
        raise ValueError("null embedding row — filter nulls (see q_embedding_hygiene) first")
    try:
        return np.array(col.tolist(), dtype=np.float64)
    except ValueError:
        raise ValueError(
            f"ragged embedding column: dims seen {sorted(set(col.map(len)))}"
        ) from None


def _centroid_dist(mat: np.ndarray, cent: np.ndarray) -> np.ndarray:
    """Squared L2 distance from every row of ``mat`` to every centroid,
    up to the per-row constant |x|² (the expand identity
    ``|x|² − 2x·c + |c|²``): its argmin along axis 1 is the nearest
    centroid, numpy's first minimum on ties (the lowest centroid id)."""
    return (cent * cent).sum(axis=1)[None, :] - 2.0 * (mat @ cent.T)


def _collect_matrix(df: DataFrame, id_col: str, vec_col: str) -> tuple[np.ndarray, np.ndarray]:
    pdf = df.select(id_col, vec_col).toPandas()
    return pdf[id_col].to_numpy(dtype=np.int64), _to_matrix(pdf[vec_col])


def knn_brute_force(
    emb: DataFrame, queries: DataFrame, k: int = 3, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Exact top-k cosine neighbors of each query (the query set is
    small by contract: it is collected to the driver)."""
    q_ids, q_mat = _collect_matrix(queries, id_col, vec_col)
    return _exact_topk(emb.select(id_col, vec_col), q_ids, q_mat, k, id_col, vec_col)


def hard_negatives(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for every query
    vector, the top-k most-similar corpus vectors with a DIFFERENT
    label — the negatives nearest the decision boundary, where the
    gradient signal lives (random negatives are trivially separable).
    The :func:`knn_brute_force` kernel (:func:`_exact_topk`) with a
    label-mismatch mask; shuffle volume is O(batches × queries × k),
    never O(corpus).

    Contract: ``label_col`` must be non-null integers on BOTH sides
    (labels are compared as int64 inside the Arrow kernel); null
    labels are rejected with a clear error (the query side up front)
    rather than failing mid-kernel on the NaN→int cast."""
    pdfq = queries.select(id_col, vec_col, label_col).toPandas()
    if pdfq[label_col].isna().any():
        raise ValueError(
            f"hard_negatives requires non-null integer labels; query side has null {label_col!r}"
        )
    q_lab = pdfq[label_col].to_numpy(dtype=np.int64)

    def _other_label(pdf: pd.DataFrame) -> np.ndarray:
        if pdf[label_col].isna().any():
            raise ValueError(
                f"hard_negatives requires non-null integer labels; corpus has null {label_col!r}"
            )
        return pdf[label_col].to_numpy(dtype=np.int64)[:, None] != q_lab[None, :]

    return _exact_topk(
        emb.select(id_col, vec_col, label_col),
        pdfq[id_col].to_numpy(dtype=np.int64),
        _to_matrix(pdfq[vec_col]),
        k,
        id_col,
        vec_col,
        allow=_other_label,
    )


def _exact_topk(
    scan: DataFrame,
    q_ids: np.ndarray,
    q_mat: np.ndarray,
    k: int,
    id_col: str,
    vec_col: str,
    allow=None,
) -> DataFrame:
    """The one exact cosine top-k: ``(query_id, neighbor_id, rank,
    cosine_e6)`` for every query row of ``q_mat`` against the rows of
    ``scan``.  The query matrix rides in the kernel's closure; the
    corpus streams through Arrow batches with sequential-fold float64
    math.  A candidate needs a defined cosine (both norms > 0), an id
    other than the query's, and — when given — ``allow(pdf)``, an
    (n_rows × n_queries) boolean mask over the batch.  Each batch
    pre-prunes to its local top-k under the global total order (cos
    desc, id asc), or tied-cosine neighbors get wrongly dropped, and
    :func:`_rank_topk` takes the global top-k."""
    if q_ids.size == 0:
        return _empty_result(scan.sparkSession, "knn")
    q_norm = _seq_norm(q_mat)

    def _score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            c_ids = pdf[id_col].to_numpy(dtype=np.int64)
            c_mat = _to_matrix(pdf[vec_col])
            denom = _seq_norm(c_mat)[:, None] * q_norm[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = _seq_matmul(c_mat, q_mat) / denom
            # zero-norm vectors have no defined cosine: exclude (the
            # HOF path returns NULL; NaN would sort ABOVE every real
            # score under Spark's desc ordering)
            ok = (denom > 0) & (c_ids[:, None] != q_ids[None, :])
            if allow is not None:
                ok &= allow(pdf)
            out = []
            for j, qid in enumerate(q_ids):
                col = cos[:, j]
                cand = np.nonzero(ok[:, j])[0]
                if len(cand) > k:
                    order = np.lexsort((c_ids[cand], -col[cand]))
                    cand = cand[order[:k]]
                out.append(
                    pd.DataFrame({"query_id": qid, "neighbor_id": c_ids[cand], "cos": col[cand]})
                )
            yield pd.concat(out, ignore_index=True)

    scored = spread(scan, min_rows=_NUMPY_SPREAD_MIN_ROWS).mapInPandas(
        _score, schema=_PAIR_SCHEMA
    )
    return _rank_topk(scored, k)


def hard_negatives_lsh(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 3,
    oversample: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    **lsh_kwargs,
) -> DataFrame:
    """Scale path for :func:`hard_negatives`: LSH-bucketed candidates
    instead of a full corpus sweep.  :func:`knn_lsh` retrieves
    ``k·oversample`` approximate nearest neighbors per query (bucket
    collisions + exact rerank — work scales with bucket occupancy,
    never corpus²), the label join discards same-label hits, and the
    survivors re-rank to the top-k different-label negatives.
    ``oversample`` absorbs same-label crowd-out: if a query's own
    class dominates its neighborhood, the k·oversample pool must
    reach past it — raise it for strongly clustered label spaces.
    Approximate by construction (bucket recall < 1 on top of the
    crowd-out bound), so rows-only territory like the ANNs; the exact
    twin :func:`hard_negatives` is the oracle shape.

    Same non-null integer label contract as :func:`hard_negatives`,
    enforced the same way — without the check, a NULL label would
    make ``_nlab != _qlab`` evaluate to NULL and SILENTLY drop the
    row, the exact-vs-scale-path inconsistency a pipeline escalating
    to LSH at scale must not hit.  Both sides' checks are
    column-pruned count aggregates (count(*) − count(label) — a
    single columnar scan each, no filter job) unioned into ONE
    blocking job — negligible next to the LSH join, which re-scans
    the same inputs with the full vector column."""
    nulls = {
        r["side"]: r["n"]
        for r in (
            queries.agg((F.count(F.lit(1)) - F.count(label_col)).alias("n"))
            .select(F.lit("query side").alias("side"), "n")
            .unionByName(
                emb.agg((F.count(F.lit(1)) - F.count(label_col)).alias("n")).select(
                    F.lit("corpus").alias("side"), "n"
                )
            )
            .collect()
        )
    }
    for side in ("query side", "corpus"):
        if nulls[side]:
            raise ValueError(
                f"hard_negatives_lsh requires non-null integer labels; {side} has null {label_col!r}"
            )
    cand = knn_lsh(
        emb, queries, k=k * oversample, id_col=id_col, vec_col=vec_col, **lsh_kwargs
    )
    nlab = emb.select(F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("_nlab"))
    # query labels come from the QUERY frame (small by contract — the
    # corpus-wide label table would not be broadcastable)
    qlab = queries.select(F.col(id_col).alias("query_id"), F.col(label_col).alias("_qlab"))
    filtered = (
        cand.join(F.broadcast(qlab), "query_id")
        .join(nlab, "neighbor_id")
        .filter(F.col("_nlab") != F.col("_qlab"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_e6").desc(), F.col("neighbor_id").asc()
    )
    return (
        filtered.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long"), "cosine_e6")
    )


def cosine_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rows_per_block: int = 4096,
    n_rows: int | None = None,
) -> DataFrame:
    """All pairs with cosine ≥ threshold (embedding near-dup), exact.

    Distributed block-nested-loop: vectors are hashed into ``B =
    ceil(n / rows_per_block)`` blocks; each of the B(B+1)/2 block
    pairs is one shuffle group whose task holds ~``2 × rows_per_block``
    vectors **in expectation** (blocks are ``xxhash64(id) % B``, so a
    pathological/adversarial id set can exceed that; real corpora
    concentrate tightly around the mean) — executor memory is bounded
    in practice and the driver never sees vector data (the earlier
    formulation collected the whole corpus to the driver and broadcast
    it — a driver OOM at scale).  Shuffle volume is O(n·B) = O(n²/
    rows_per_block) rows: quadratic, like the compute — this is the
    exact-verification baseline; the scale path for the real dedup
    regime is :func:`cosine_pairs_lsh`.

    ``n_rows``: pass a known (or estimated) row count to skip the
    sizing ``count()`` job — only B = ceil(n_rows/rows_per_block)
    depends on it, and an estimate merely shifts the block-size/
    task-count trade-off, never correctness.

    A pair is scored in exactly one group: cross-block pairs in their
    (min_blk, max_blk) group, same-block pairs in the diagonal group
    only.
    """
    if n_rows is None:
        from week4_musemotion_spark.sources.tables import exact_scan_rows

        # pure-scan frames size from cached parquet footers (~ms,
        # driver-side) instead of a sizing count() job; B only shifts
        # the block-size/task-count trade-off, but the footer count is
        # exact anyway (no-Filter rule inside exact_scan_rows)
        n_rows = exact_scan_rows(emb)
    n = emb.count() if n_rows is None else int(n_rows)
    if n == 0:
        return _empty_result(emb.sparkSession, "pairs")
    n_blocks = max(1, -(-n // rows_per_block))

    from week4_musemotion_spark.sources.tables import spread

    # spread: the B-way replication explode below multiplies the
    # shuffle-write volume; above a single-task scan that entire
    # write runs single-threaded (no-op on wide scans; floor skips
    # provably tiny corpora where B is 1 anyway)
    blocked = spread(emb, min_rows=_NUMPY_SPREAD_MIN_ROWS).select(
        F.col(id_col).cast("long").alias("_id"),
        F.col(vec_col).alias("_vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("_blk"),
    )
    # replicate each vector to every block pair it participates in
    tasks = blocked.withColumn(
        "_p", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1)))
    ).select(
        F.least("_blk", "_p").alias("_ti"),
        F.greatest("_blk", "_p").alias("_tj"),
        "_blk",
        "_id",
        "_vec",
    )

    def _block_pairs(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ti, tj = int(key[0]), int(key[1])
        ids = pdf["_id"].to_numpy(dtype=np.int64)
        mat = _to_matrix(pdf["_vec"])
        norm = _seq_norm(mat)
        if ti == tj:
            a_idx = b_idx = np.arange(len(ids))
        else:
            blk = pdf["_blk"].to_numpy()
            a_idx, b_idx = np.nonzero(blk == ti)[0], np.nonzero(blk == tj)[0]
        denom = norm[a_idx][:, None] * norm[b_idx][None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = _seq_matmul(mat[a_idx], mat[b_idx]) / denom
        # NaN (zero-norm) fails the >= threshold comparison — excluded
        keep = (denom > 0) & (cos >= threshold)
        if ti == tj:
            # the full matrix holds every pair twice (+ the diagonal):
            # id_a < id_b keeps one orientation
            keep &= ids[a_idx][:, None] < ids[b_idx][None, :]
        ii, jj = np.nonzero(keep)
        ida, idb = ids[a_idx][ii], ids[b_idx][jj]
        # id order is independent of block order — orient by min/max
        # (each cross-block pair appears exactly once in the a×b grid)
        return pd.DataFrame(
            {
                "vec_id_a": np.minimum(ida, idb),
                "vec_id_b": np.maximum(ida, idb),
                "cos": cos[ii, jj],
            }
        )

    pairs = tasks.groupBy("_ti", "_tj").applyInPandas(_block_pairs, schema=_DUP_SCHEMA)
    return pairs.select("vec_id_a", "vec_id_b", cosine_e6(F.col("cos")).alias("cosine_e6"))


def cosine_pairs_lsh(
    emb: DataFrame,
    threshold: float,
    n_tables: int = 12,
    n_planes: int | None = None,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-dup pairs with cosine ≥ threshold via hyperplane LSH —
    the linear-ish scale path for the real dedup regime (t ≳ 0.8).

    Candidates are bucket collisions in any of ``n_tables`` sign-bit
    tables (``n_planes`` bits each); only candidates are exactly
    reranked with the JVM-side fold (:func:`cosine_similarity`), so
    false positives never survive.  Recall: a pair at angle θ is
    missed with probability ``(1 − p^P)^L`` where ``p = 1 − θ/π`` —
    at t=0.9 (p≈0.86, P=8, L=12) that is ~0.002 per pair and falls
    geometrically with L; scaled/identical duplicates (θ=0) collide
    in every table, deterministically.  Below t≈0.6, p approaches the
    random-pair 0.5 and bucketing degenerates toward all-pairs — use
    :func:`cosine_pairs` there (it is also the oracle for this one).

    Shuffle shape: the sketch pass emits L×(id, table, bucket) rows
    (no vectors); the bucket self-join carries ids only; vectors are
    joined back for candidate pairs alone.

    ``n_planes`` sizes the bucket space and is the scaling knob: the
    bucket self-join does O(occupancy²) work per bucket, so occupancy
    must stay bounded as n grows — default is ``max(8, log2(n/8))``
    (⇒ ~8 rows/bucket/table).  Measured on rotated-copy amplification
    at sf0.1: 16× rows → ~1.5× wall under this sizing, vs ~6× at 8×
    rows for the exact blocked baseline (SCALING.md).
    """
    if n_planes is None or dim is None:
        # one tiny agg job covers both: corpus size (bucket sizing)
        # and dimensionality (plane generation)
        row = emb.agg(
            F.count("*").alias("n"), F.max(F.size(F.col(vec_col))).alias("d")
        ).first()
        if not row.n:
            return _empty_result(emb.sparkSession, "pairs")
        if n_planes is None:
            n_planes = max(8, math.ceil(math.log2(max(2, row.n / 8))))
        if dim is None:
            dim = row.d
    planes = _hyperplanes(n_tables * n_planes, dim)
    # the sketch (an Arrow pass over the whole corpus) feeds BOTH
    # sides of the bucket self-join — pin the tiny (id, table, bucket)
    # table so the kernel runs once
    sk = (
        _with_sketch(emb, planes, id_col, vec_col, ("_id", "_vec"), n_tables)
        .drop("_vec")
        .localCheckpoint(eager=False)
    )
    a = sk.select("table", "bucket", F.col("_id").alias("vec_id_a"))
    b = sk.select("table", "bucket", F.col("_id").alias("vec_id_b"))
    cands = (
        a.join(b, ["table", "bucket"])
        .filter(F.col("vec_id_a") < F.col("vec_id_b"))
        .select("vec_id_a", "vec_id_b")
        .dropDuplicates(["vec_id_a", "vec_id_b"])
    )
    va = emb.select(F.col(id_col).alias("vec_id_a"), F.col(vec_col).alias("_va"))
    vb = emb.select(F.col(id_col).alias("vec_id_b"), F.col(vec_col).alias("_vb"))
    return (
        cands.join(va, "vec_id_a")
        .join(vb, "vec_id_b")
        .withColumn("cos", cosine_similarity("_va", "_vb"))
        .filter(F.col("cos") >= threshold)
        .select("vec_id_a", "vec_id_b", cosine_e6(F.col("cos")).alias("cosine_e6"))
    )


def _hyperplanes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1] from md5 —
    reproducible across runs/hosts with no RNG state."""
    planes = []
    for p in range(n_planes):
        row = []
        for i in range(dim):
            h = int(hashlib.md5(f"plane:{p}:{i}".encode()).hexdigest()[:15], 16)
            row.append(((h % 2001) - 1000) / 1000.0)
        planes.append(row)
    return planes


def _with_sketch(
    df: DataFrame,
    planes: list[list[float]],
    id_col: str,
    vec_col: str,
    out_ids: tuple[str, str],
    n_tables: int = 1,
) -> DataFrame:
    """(id, vec, table, bucket) rows — the multi-table sign-bit
    sketch in one Arrow-batched numpy pass: table t's bucket packs
    bits ``(v · plane_p) > 0`` for its own slice of the plane family;
    each vector emits ``n_tables`` rows.  (A per-plane higher-order-
    function formulation re-folds the vector once per plane,
    interpreted — ~10× slower.)"""
    id_out, vec_out = out_ids
    pm = np.array(planes, dtype=np.float64)  # (L*P, dim)
    per_table = pm.shape[0] // n_tables
    schema = T.StructType(
        [
            T.StructField(id_out, T.LongType()),
            T.StructField(vec_out, T.ArrayType(T.FloatType())),
            T.StructField("table", T.IntegerType()),
            T.StructField("bucket", T.LongType()),
        ]
    )

    def _sketch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        weights = 1 << np.arange(per_table, dtype=np.int64)
        for pdf in batches:
            mat = _to_matrix(pdf[vec_col])
            bits = (mat @ pm.T) > 0  # (n, L*P)
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            out = []
            for t in range(n_tables):
                out.append(
                    pd.DataFrame(
                        {
                            id_out: ids,
                            vec_out: pdf[vec_col],
                            "table": t,
                            "bucket": bits[:, t * per_table : (t + 1) * per_table] @ weights,
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    return spread(
        df.select(id_col, vec_col), min_rows=_NUMPY_SPREAD_MIN_ROWS
    ).mapInPandas(_sketch, schema=schema)


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Common tail: (query_id, neighbor_id, cos) → deterministic
    top-k with rank + cosine_e6 encoding."""
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            cosine_e6(F.col("cos")).alias("cosine_e6"),
        )
    )


def knn_lsh(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_tables: int = 16,
    n_planes: int = 6,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: int = 1,
) -> DataFrame:
    """Approximate top-k: multi-table hyperplane-LSH + exact rerank.

    ``n_tables`` independent hash tables of ``n_planes`` sign bits
    each; a corpus vector is a candidate if it shares a bucket with
    the query in ANY table (the standard recall amplification:
    single-table sign-LSH recall collapses on high-entropy
    embeddings).  Both sides sketch per-row (no shuffle); candidates
    come from an equi-join on (table, bucket) + distinct — work
    scales with L × bucket occupancy, not corpus².  Recall/cost is
    tuned by (n_tables, n_planes): more planes → smaller buckets,
    more tables → higher recall.

    ``multiprobe`` ≥ 1 additionally probes every bucket within that
    Hamming distance of the query's bucket — on the QUERY side only,
    so the corpus index is untouched and the extra cost is
    |queries| × L × n_planes broadcast rows, not corpus work (the
    classic multi-probe LSH trade: one table's worth of memory buys
    several tables' worth of recall; measured 0.59 → 0.99 top-3
    recall on the high-entropy test corpus at multiprobe=1).
    """
    if dim is None:
        # infer from the data (one tiny job) — a wrong hardcoded dim
        # would only fail deep inside executors as a shape mismatch
        first = emb.select(vec_col).first()
        if first is None:
            raise ValueError("empty embedding corpus")
        dim = len(first[0])
    planes = _hyperplanes(n_tables * n_planes, dim)
    q = _with_sketch(queries, planes, id_col, vec_col, ("query_id", "qv"), n_tables)
    c = _with_sketch(emb, planes, id_col, vec_col, ("neighbor_id", "cv"), n_tables)
    probes = q.drop(vec_col, "qv")
    if multiprobe >= 1:
        # probe EVERY bucket within Hamming distance `multiprobe` of
        # the query bucket: enumerate the C(n_planes, ≤r) flip masks
        # driver-side (tiny for the sane n_planes range) and explode —
        # radius-2 probes sum(C(n,1)+C(n,2)) buckets, not just r=1
        from itertools import combinations

        masks = [0] + [
            sum(1 << j for j in pos)
            for r in range(1, min(multiprobe, n_planes) + 1)
            for pos in combinations(range(n_planes), r)
        ]
        flips = F.array(*[F.lit(m) for m in masks])
        probes = probes.withColumn("_flip", F.explode(flips)).select(
            "query_id",
            "table",
            F.col("bucket").bitwiseXOR(F.col("_flip")).alias("bucket"),
        )
    cands = (
        c.join(F.broadcast(probes), ["table", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "cv")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    q_vecs = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    scored = (
        cands.join(F.broadcast(q_vecs), "query_id")
        .withColumn("cos", cosine_similarity("qv", "cv"))
        .select("query_id", "neighbor_id", "cos")
    )
    return _rank_topk(scored, k)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: k-means coarse quantizer + cluster probing
# ---------------------------------------------------------------------------


def _assign_clusters(
    df: DataFrame,
    centroids: np.ndarray,
    id_col: str,
    vec_col: str,
    out_id: str,
    nearest=None,
) -> DataFrame:
    """(id, vec, cluster) rows in one Arrow-batched numpy pass.
    ``nearest(mat)`` maps a batch matrix to centroid indices; the
    default is the exact argmin of :func:`_centroid_dist` over the
    centroid matrix, which rides in the kernel's closure."""
    if nearest is None:

        def nearest(mat: np.ndarray) -> np.ndarray:
            return np.argmin(_centroid_dist(mat, centroids), axis=1)

    schema = T.StructType(
        [
            T.StructField(out_id, T.LongType()),
            T.StructField(vec_col, T.ArrayType(T.FloatType())),
            T.StructField("cluster", T.IntegerType()),
        ]
    )

    def _assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    out_id: pdf[id_col].to_numpy(dtype=np.int64),
                    vec_col: pdf[vec_col],
                    "cluster": nearest(_to_matrix(pdf[vec_col])).astype(np.int32),
                }
            )

    return spread(
        df.select(id_col, vec_col), min_rows=_NUMPY_SPREAD_MIN_ROWS
    ).mapInPandas(_assign, schema=schema)


def _lloyd(scan: DataFrame, books: np.ndarray, iters: int, vec_col: str) -> np.ndarray:
    """The one Lloyd loop: ``books`` (m, k, d/m) seeds ``m`` independent
    k-means problems over the m contiguous slices of ``vec_col`` (m=1
    is plain k-means).  Each iteration is ONE Arrow-batched pass that
    assigns every slice with the :func:`_centroid_dist` argmin (first
    minimum on ties) and emits one (slice, cluster, n, sum vector) row
    per hit cluster and batch — a vectorised bincount + ``add.at``
    reduction — so at most batches × m × k small rows reach the
    driver, which finishes the means: one job per iteration, no
    shuffle.  The current codebooks ride in the kernel's closure.
    Means differ from an avg() only by float-sum reassociation; empty
    clusters keep their centroid."""
    books = books.copy()
    m, k, dsub = books.shape
    scan = spread(scan.select(vec_col), min_rows=_NUMPY_SPREAD_MIN_ROWS)
    for _ in range(iters):

        def _partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                xs = _to_matrix(pdf[vec_col]).reshape(len(pdf), m, dsub)
                for j in range(m):
                    a = np.argmin(_centroid_dist(xs[:, j, :], books[j]), axis=1)
                    n = np.bincount(a, minlength=k)
                    s = np.zeros((k, dsub))
                    np.add.at(s, a, xs[:, j, :])
                    hit = np.flatnonzero(n)
                    yield pd.DataFrame(
                        {
                            "j": np.full(len(hit), j, dtype=np.int32),
                            "cluster": hit.astype(np.int32),
                            "n": n[hit],
                            "s": list(s[hit]),
                        }
                    )

        parts = scan.mapInPandas(
            _partials, "j int, cluster int, n long, s array<double>"
        ).collect()
        sums = np.zeros_like(books)
        counts = np.zeros((m, k), dtype=np.int64)
        for row in parts:
            sums[row["j"], row["cluster"]] += row["s"]
            counts[row["j"], row["cluster"]] += row["n"]
        hit = counts > 0  # empty clusters keep their centroid
        books[hit] = sums[hit] / counts[hit][:, None]
    return books


def kmeans_fit(
    emb: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit_fraction: float | None = None,
    seed: int = 42,
) -> np.ndarray:
    """Lloyd's k-means with deterministic seeding (the ``k`` smallest
    ids), expressed Spark-first through :func:`_lloyd`: one linear
    Arrow-batched scan and one job per iteration, no all-pairs; only
    per-batch (k × dim) partial sums ever reach the driver.

    ``fit_fraction`` fits the quantizer on a seeded Bernoulli sample
    of the corpus: each Lloyd iteration's assignment pass costs
    O(n·fit_fraction·k·dim) instead of O(n·k·dim) — the standard
    IVF-training move (FAISS trains coarse quantizers on samples for
    the same reason).  Centroid QUALITY degrades only with sample
    representativeness, not corpus size, so at extreme n a small
    fraction loses almost nothing while cutting the dominant fit
    cost.  Falls back to the full corpus when the sample is too small
    to seed ``k`` clusters."""
    if fit_fraction is not None and not 0.0 < fit_fraction <= 1.0:
        raise ValueError(f"fit_fraction must be in (0, 1], got {fit_fraction!r}")
    if fit_fraction is not None and fit_fraction < 1.0:
        fit_df = emb.select(id_col, vec_col).sample(fraction=fit_fraction, seed=seed)
    else:
        fit_df = emb
    seeds = fit_df.select(id_col, vec_col).orderBy(id_col).limit(k)
    _, cent = _collect_matrix(seeds, id_col, vec_col)
    if fit_df is not emb and cent.shape[0] < k:
        # sample too thin to seed k clusters — fall back to the full
        # corpus (the seeds collect already told us, no extra job)
        fit_df = emb
        seeds = fit_df.select(id_col, vec_col).orderBy(id_col).limit(k)
        _, cent = _collect_matrix(seeds, id_col, vec_col)
    if cent.shape[0] == 0:
        raise ValueError("empty embedding corpus")
    return _lloyd(fit_df, cent[None], iters, vec_col)[0]


def _assign_clusters_ivf(
    df: DataFrame,
    centroids: np.ndarray,
    id_col: str,
    vec_col: str,
    out_id: str,
    probes: int = 3,
) -> DataFrame:
    """:func:`_assign_clusters` with a two-level (IVF-style) ``nearest``:
    the k centroids are themselves quantized into ~√k coarse cells
    (driver-side numpy k-means over k rows — centroids only, never
    corpus vectors); each corpus vector first scores the √k coarse
    cells, then scans only the centroids of its ``probes`` nearest
    cells.  Per-row cost drops from O(k·dim) to O((√k + probes·√k)·
    dim) — the assignment-side escalation the k ∝ n SemDeDup regime
    needs at extreme n (see :func:`semantic_dedup`'s cost model).
    Approximate near cell boundaries; measured agreement with the
    exact argmin on the HIGH-ENTROPY test embeddings (a worst case —
    real corpora cluster, separating the cells): 0.71 / 0.94 / 0.99
    at probes 1 / 2 / 3, hence the probes=3 default (pinned by
    test)."""
    k = centroids.shape[0]
    n_coarse = max(1, int(math.isqrt(k)))
    # tiny driver-side Lloyd over the k centroids (deterministic:
    # first-n_coarse seeds, fixed 4 iterations)
    coarse = centroids[:n_coarse].copy()
    for _ in range(4):
        cell = np.argmin(_centroid_dist(centroids, coarse), axis=1)
        for c in range(n_coarse):
            members = centroids[cell == c]
            if len(members):
                coarse[c] = members.mean(axis=0)
    cell = np.argmin(_centroid_dist(centroids, coarse), axis=1)
    members: list[np.ndarray] = [
        np.nonzero(cell == c)[0].astype(np.int64) for c in range(n_coarse)
    ]

    def _nearest(mat: np.ndarray) -> np.ndarray:
        top_cells = np.argsort(_centroid_dist(mat, coarse), axis=1, kind="stable")[:, :probes]
        # vectorized per COARSE CELL (≤ p·√k small matmuls per batch),
        # never per row — a row-wise Python loop here would put O(n)
        # interpreter iterations on the hot path.  Ties across cells
        # resolve to the first-processed cell (floats tie with measure
        # zero; iteration order is fixed, so the result is
        # deterministic either way).
        best_score = np.full(len(mat), np.inf)
        best_idx = np.zeros(len(mat), dtype=np.int64)
        for c, cand in enumerate(members):
            if len(cand) == 0:
                continue
            rows = np.nonzero((top_cells == c).any(axis=1))[0]
            if len(rows) == 0:
                continue
            sc = _centroid_dist(mat[rows], centroids[cand])
            loc = np.argmin(sc, axis=1)
            val = sc[np.arange(len(rows)), loc]
            upd = val < best_score[rows]
            best_score[rows[upd]] = val[upd]
            best_idx[rows[upd]] = cand[loc[upd]]
        # empty probe unions (all probed cells empty) fall back to the
        # full exact argmin for those rows
        miss = np.nonzero(~np.isfinite(best_score))[0]
        if len(miss):
            best_idx[miss] = np.argmin(_centroid_dist(mat[miss], centroids), axis=1)
        return best_idx

    return _assign_clusters(df, centroids, id_col, vec_col, out_id, nearest=_nearest)


def semantic_dedup(
    emb: DataFrame,
    k: int | str | None = None,
    threshold: float = 0.45,
    target_cluster_size: int = 64,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign: str = "exact",
    fit_fraction: float | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) with the scale
    contract wired in: ``k`` defaults to ``ceil(n / target_cluster_size)``
    — k ∝ n keeps the EXPECTED CLUSTER SIZE constant as the corpus
    grows, so the within-cluster pair stage is linear in n.  (The
    fixed-k form ``queries/semantic.q_semantic_dedup`` is this
    operator's deterministic oracle shape; at 100× data its clusters
    grow 100× and its pair join ~quadratically — exactly the gap this
    default closes.)

    Honest two-term cost model: assignment is O(n·k·dim) (every vector
    scores every centroid) and the pair stage is O(n·(n/k)·dim), so
    k ∝ n makes PAIRS linear while pushing ASSIGNMENT toward n²/target
    — fine through millions of vectors (the vectorized matmul constant
    dominates; the 1–16× probe in SCALING.md is flat for exactly that
    reason), but past that the balanced choice is ``k ≈ √n``, which
    equalizes both terms at O(n^1.5·dim): pass ``k="balanced"`` for
    that, or an explicit int.  (The driver/closure footprint is the
    k×dim centroid matrix, so k ∝ n also grows that linearly — another
    reason the extreme-n regime wants √n or a hierarchical quantizer.)
    ``assign="ivf"`` is that hierarchical quantizer for the assignment
    stage: :func:`_assign_clusters_ivf` scores √k coarse cells first
    and scans only the probed cells' centroids — O(n·√k·dim) instead
    of O(n·k·dim), approximate only at cell boundaries (agreement with
    the exact argmin pinned by test).  At that scale, also fit the
    quantizer on a sample via ``fit_fraction`` — Lloyd's own
    assignment steps pay the exact per-iteration cost otherwise;
    sampling cuts it to O(n·fit_fraction·k·dim) with centroid quality
    bounded by sample representativeness, not corpus size (agreement
    pinned in ``tests/test_similarity_quality.py``).

    Plan shape: ``kmeans_fit`` collects only the k×dim centroid
    matrix (never corpus vectors); assignment is one Arrow-batched
    scan; the dedup itself is ``applyInPandas`` per cluster — a single
    shuffle on the cluster id, then an O(c²) numpy cosine block per
    cluster with c bounded around the target size, instead of
    interpreted per-pair expression folds.  A pathologically popular
    centroid bounds nothing — if the corpus collapses onto one
    cluster, raise ``iters``/``k`` or pre-split on metadata.

    Returns ``(id_col, cluster, keep)``: ``keep = 0`` iff a LOWER-id
    vector in the same cluster has cosine ≥ ``threshold`` (earliest
    representative survives; zero-norm vectors never match anything).
    """
    if isinstance(k, str) and k != "balanced":
        raise ValueError(f'k must be an int, None, or "balanced"; got {k!r}')
    if assign not in ("exact", "ivf"):
        raise ValueError(f'assign must be "exact" or "ivf"; got {assign!r}')
    if k is None or k == "balanced":
        from week4_musemotion_spark.sources.tables import exact_scan_rows

        # k derives from n, so the count must be EXACT: footer counts
        # qualify only for pure scan+project frames (no Filter), else
        # fall back to the distributed count
        n_emb = exact_scan_rows(emb)
        if n_emb is None:
            n_emb = emb.count()
    if k is None:
        k = max(1, math.ceil(n_emb / target_cluster_size))
    elif k == "balanced":
        k = max(1, math.ceil(math.sqrt(n_emb)))
    cent = kmeans_fit(
        emb, k=k, iters=iters, id_col=id_col, vec_col=vec_col, fit_fraction=fit_fraction
    )
    if assign == "ivf":
        assigned = _assign_clusters_ivf(emb, cent, id_col, vec_col, id_col)
    else:
        assigned = _assign_clusters(emb, cent, id_col, vec_col, id_col)
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("cluster", T.LongType()),
            T.StructField("keep", T.IntegerType()),
        ]
    )

    def _dedup(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        mat = _to_matrix(pdf[vec_col])
        nrm = _seq_norm(mat)
        valid = nrm > 0
        keep = np.ones(len(ids), dtype=bool)
        if len(ids) > 1:
            unit = np.where(valid[:, None], mat / np.where(nrm == 0, 1.0, nrm)[:, None], 0.0)
            cos = _seq_matmul(unit, unit)
            # dup[i, j]: row i (lower id after the sort) kills row j
            dup = np.triu(cos >= threshold, k=1) & valid[:, None] & valid[None, :]
            keep = ~dup.any(axis=0)
        return pd.DataFrame(
            {
                id_col: ids,
                "cluster": pdf["cluster"].to_numpy(dtype=np.int64),
                "keep": keep.astype(np.int32),
            }
        )

    return assigned.groupBy("cluster").applyInPandas(_dedup, schema=schema)


def _ivf_probe_assigned(
    assigned: DataFrame,
    cent: np.ndarray,
    queries: DataFrame,
    k: int,
    n_probe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared probe tail: route each query to its ``n_probe`` nearest
    centroids, scan only those clusters of the assignment table
    (`isin` on the cluster column → directory-level partition pruning
    when the assignment is a cluster-partitioned parquet index), and
    exactly rerank the survivors with :func:`_exact_topk`, whose mask
    keeps each query to its own probed clusters — one Arrow-batched
    pass over the pruned partitions + one global top-k window, the
    same numpy fold as :func:`knn_brute_force`."""
    q_ids, q_mat = _collect_matrix(queries, id_col, vec_col)
    if q_ids.size == 0:
        return _empty_result(assigned.sparkSession, "knn")
    probe = np.argsort(_centroid_dist(q_mat, cent), axis=1, kind="stable")[:, :n_probe]
    allowed = np.zeros((len(q_ids), cent.shape[0]), dtype=bool)
    for qi, row in enumerate(probe):
        allowed[qi, row] = True
    probed = sorted({int(c) for row in probe for c in row})

    def _probed(pdf: pd.DataFrame) -> np.ndarray:
        return allowed[:, pdf["cluster"].to_numpy(dtype=np.int64)].T

    return _exact_topk(
        assigned.filter(F.col("cluster").isin(probed)).select(
            "neighbor_id", F.col("cluster").cast("long").alias("cluster"), vec_col
        ),
        q_ids,
        q_mat,
        k,
        "neighbor_id",
        vec_col,
        allow=_probed,
    )


#: per-process memo of the (k × dim) centroid matrix by index dir.
#: NOT immutable-forever: :func:`ivf_build` overwrites in place, so it
#: invalidates this entry after every (re)build — a probe in the same
#: process must never rerank a new assignment table against stale
#: centroids.
_CENTROID_CACHE: dict[str, np.ndarray] = {}


def ivf_build(
    emb: DataFrame,
    index_dir: str,
    n_clusters: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Fit and persist an IVF index — the production lifecycle where
    the corpus is scanned at *build* time only and query batches touch
    ``n_probe/n_clusters`` of the data via partition pruning.

    Layout: ``{index_dir}/centroids`` — the (cluster, pos, val) long
    form of the k×dim centroid matrix (tiny); ``{index_dir}/
    assignment`` — (id, vector) parquet **partitioned by cluster**, so
    a probe reads only the probed clusters' directories.
    """
    cent = kmeans_fit(emb, n_clusters, iters, id_col, vec_col)
    spark = emb.sparkSession
    rows = [(int(c), int(p), float(v)) for c, row in enumerate(cent) for p, v in enumerate(row)]
    (
        spark.createDataFrame(rows, "cluster int, pos int, val double")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{index_dir}/centroids")
    )
    (
        _assign_clusters(emb, cent, id_col, vec_col, "neighbor_id")
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(f"{index_dir}/assignment")
    )
    # a rebuild at the same dir replaces the on-disk index: drop any
    # memoized centroids so the next probe reloads the fresh matrix
    _CENTROID_CACHE.pop(index_dir, None)


def ivf_probe(
    spark,
    index_dir: str,
    queries: DataFrame,
    k: int = 3,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a prebuilt :func:`ivf_build` index — no k-means, no
    corpus scan: only the probed clusters' partitions are read.  The
    tiny centroid matrix is memoized per process (the index on disk
    is immutable once built)."""
    cent = _CENTROID_CACHE.get(index_dir)
    if cent is None:
        crows = spark.read.parquet(f"{index_dir}/centroids").collect()
        cent = np.zeros((max(r["cluster"] for r in crows) + 1, max(r["pos"] for r in crows) + 1))
        for r in crows:
            cent[r["cluster"], r["pos"]] = r["val"]
        _CENTROID_CACHE[index_dir] = cent
    assigned = spark.read.parquet(f"{index_dir}/assignment")
    return _ivf_probe_assigned(assigned, cent, queries, k, n_probe, id_col, vec_col)


def knn_ivf(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_clusters: int = 8,
    n_probe: int = 2,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via a one-shot IVF pass: k-means coarse
    quantizer, then each query probes its ``n_probe`` nearest
    clusters and exactly reranks only those clusters' vectors.

    This convenience form re-fits the quantizer per call; the
    production lifecycle is :func:`ivf_build` once + :func:`ivf_probe`
    per query batch.  Candidate routing is a per-query probed-cluster
    mask in the rerank kernel.  Approximate by construction (a
    true neighbor may live in an unprobed cluster) → rows-only check,
    like the LSH variant; run-to-run deterministic because seeding is
    by id and assignment ties are resolved by lowest cluster index.
    """
    cent = kmeans_fit(emb, n_clusters, iters, id_col, vec_col)
    assigned = _assign_clusters(emb, cent, id_col, vec_col, "neighbor_id")
    return _ivf_probe_assigned(assigned, cent, queries, k, n_probe, id_col, vec_col)


# ---------------------------------------------------------------------------
# Embedding quantization (int8 symmetric)
# ---------------------------------------------------------------------------


def quantize_stats(
    emb: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Symmetric int8 quantization audit: per-vector scale, quantized
    checksum moments, and total reconstruction error — the
    storage-compression step of an embedding pipeline (4× smaller
    vectors, with this operator quantifying the fidelity loss).

    One Arrow-batched numpy pass, no shuffle.  Cross-engine
    exactness: scale = 127/maxabs is a single IEEE division;
    quantized values round via ``floor(x·scale + 0.5)`` (pure binary
    elementwise ops); q_sum/q_sqsum are sums of exact small integers
    (order-free); the error sum accumulates **sequentially over the
    dimension axis**, bit-identical to a left-to-right fold and hence
    to DuckDB's ``list_sum`` (BLAS-style pairwise summation drifts in
    the last ulp — see the module docstring).  Emitted as exact
    integer encodings.  Zero vectors are excluded (no defined scale).
    """
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("dim", T.LongType()),
            T.StructField("scale_e9", T.LongType()),
            T.StructField("q_sum", T.LongType()),
            T.StructField("q_sqsum", T.LongType()),
            T.StructField("err_e6", T.LongType()),
        ]
    )

    def _quant(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mat = _to_matrix(pdf[vec_col])  # float64, exact from float32
            n, d = mat.shape
            maxabs = np.abs(mat).max(axis=1) if d else np.zeros(n)
            keep = maxabs > 0
            mat, maxabs = mat[keep], maxabs[keep]
            scale = 127.0 / maxabs
            q = np.floor(mat * scale[:, None] + 0.5)
            err = np.zeros(len(mat))
            for k in range(d):  # sequential fold over dims: bit-exact
                err += np.abs(mat[:, k] - q[:, k] / scale)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(dtype=np.int64)[keep],
                    "dim": np.full(len(mat), d, dtype=np.int64),
                    "scale_e9": np.floor(scale * 1e9 + 0.5).astype(np.int64),
                    "q_sum": q.sum(axis=1).astype(np.int64),
                    "q_sqsum": (q * q).sum(axis=1).astype(np.int64),
                    "err_e6": np.floor(err * 1e6 + 0.5).astype(np.int64),
                }
            )

    return spread(
        emb.select(id_col, vec_col), min_rows=_NUMPY_SPREAD_MIN_ROWS
    ).mapInPandas(_quant, schema=schema)
