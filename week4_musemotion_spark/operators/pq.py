"""Product quantization (PQ) — the standard memory-compression layer
of scale ANN (Jégou, Douze & Schmid, "Product Quantization for
Nearest Neighbor Search", TPAMI 2011; FAISS's ``IndexPQ``/``IVFPQ``).

Split each d-dim vector into ``m`` contiguous subvectors, learn a
``k``-centroid codebook per subspace, store each vector as ``m``
small codes (m·log2(k) bits — 32 bits per vector at m=4, k=8 instead
of 64 float64s), and answer queries by ASYMMETRIC distance
computation (ADC): per query, an (m × k) table of exact
query-subvector-to-centroid distances, then each database vector's
distance is ``m`` table lookups summed — no decompression.

Spark shapes (nothing quadratic, nothing driver-bound):

- :func:`pq_fit` — :func:`seed_codebooks` refined by
  :func:`~.similarity._lloyd`, the Lloyd loop ``kmeans_fit`` runs:
  one linear Arrow pass per iteration for all ``m`` subspaces (only
  per-batch partial sums and the (m × k × d/m) codebook tensor reach
  the driver).
- :func:`pq_encode` — one Arrow-batched ``mapInPandas`` pass, the
  codebooks in the kernel's closure; argmin ties break to the LOWEST
  centroid id (numpy argmin's first-occurrence rule — the same rule
  the expression/SQL twin uses, so the two paths are comparable).
- :func:`adc_topk` — queries collected to the driver (the query set
  is small by contract, same as ``knn_brute_force``), their distance
  tables in the kernel's closure, corpus codes scanned once,
  per-partition top-k then global top-k.

Evidence split (the repo's exact-twin pattern): the Lloyd-fitted
path is rows-only (k-means is not SQL-expressible); its
oracle-checked twin is the SEED-codebook encode
(:func:`seed_codebooks` — the k lowest-id vectors' subvectors, no
iteration), which both engines can replay exactly: distances are
sequential-fold float sums (the ``_dot`` discipline) and the argmin
is an ORDER BY (dist, centroid) rank, so ``q_pq_code_hist`` value-
hashes cross-engine.  pytest pins the numpy path AGAINST that
expression path on the same codebooks, closing the loop.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from week4_musemotion_spark.functions.vector import double_array_lit


@dataclass(frozen=True)
class PQModel:
    """``codebooks``: (m, k, d/m) float64 — subspace j's centroid c is
    ``codebooks[j, c]``."""

    codebooks: np.ndarray

    @property
    def m(self) -> int:
        return self.codebooks.shape[0]

    @property
    def k(self) -> int:
        return self.codebooks.shape[1]

    @property
    def dsub(self) -> int:
        return self.codebooks.shape[2]


def _check_dims(dim: int, m: int) -> int:
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    return dim // m


def seed_codebooks(
    emb: DataFrame, m: int, k: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> PQModel:
    """Deterministic NON-iterative codebooks: subspace j's codebook is
    the k lowest-``id_col`` vectors' j-th subvectors.  Zero training
    cost, fully SQL-replayable — the oracle-able baseline the fitted
    model is measured against (a fitted codebook must beat this or
    the training is broken; tests/test_pq.py pins that)."""
    from week4_musemotion_spark.operators.similarity import _collect_matrix

    _, X = _collect_matrix(emb.select(id_col, vec_col).orderBy(id_col).limit(k), id_col, vec_col)
    if X.shape[0] == 0:
        raise ValueError("no non-null vector found to seed the codebooks from")
    if X.shape[0] < k:
        raise ValueError(f"corpus has {X.shape[0]} rows < k={k} codebook seeds")
    dsub = _check_dims(X.shape[1], m)
    return PQModel(X.reshape(k, m, dsub).transpose(1, 0, 2).copy())


def pq_fit(
    emb: DataFrame,
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> PQModel:
    """Lloyd-fitted codebooks: ``m`` independent k-means problems, one
    per subspace, seeded by :func:`seed_codebooks` and refined by
    :func:`~.similarity._lloyd`, the loop ``kmeans_fit`` runs — so
    each subspace gets kmeans_fit's semantics (lowest-k-id seeding,
    first-min argmin, empty clusters keep their centroid) at iters+1
    corpus jobs regardless of m."""
    from week4_musemotion_spark.operators.similarity import _lloyd

    # NULL vectors carry no information for codebook fitting and would
    # crash the matrix build — exclude them from the whole fit.
    emb = emb.filter(F.col(vec_col).isNotNull())
    seeds = seed_codebooks(emb, m, k, id_col, vec_col)
    return PQModel(_lloyd(emb, seeds.codebooks, iters, vec_col))


def pq_encode(
    emb: DataFrame,
    model: PQModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``(id, code)`` rows, ``code`` an m-array of centroid ids —
    one Arrow-batched pass, the codebooks in the kernel's closure.
    Ties in the per-subspace argmin break to the lowest centroid id."""
    import pandas as pd

    from week4_musemotion_spark.operators.similarity import _centroid_dist, _to_matrix
    from week4_musemotion_spark.sources.tables import spread

    books = model.codebooks
    m, dsub = model.m, model.dsub

    def _enc(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Xs = _to_matrix(pdf[vec_col]).reshape(len(pdf), m, dsub)
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for j in range(m):
                codes[:, j] = np.argmin(_centroid_dist(Xs[:, j, :], books[j]), axis=1)
            yield pd.DataFrame({id_col: pdf[id_col], "code": list(codes)})

    return spread(emb.select(id_col, vec_col)).mapInPandas(
        _enc, f"{id_col} long, code array<int>"
    )


def adc_topk(
    codes: DataFrame,
    model: PQModel,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance top-k: exact query-subvector-to-centroid
    tables (m × k_codebook per query, float64), database distances by
    table lookup over the tables in the kernel's closure,
    per-partition then global top-k.  Returns ``(query_id,
    neighbor_id, rank)`` with rank 1 the nearest; ties break to the
    lowest neighbor id.  ``queries`` is collected to the driver —
    small by contract, exactly like ``knn_brute_force``."""
    import pandas as pd

    from week4_musemotion_spark.operators.similarity import _collect_matrix

    qids, Q = _collect_matrix(queries.select(id_col, vec_col), id_col, vec_col)
    m, dsub = model.m, model.dsub
    if Q.shape[1] != m * dsub:
        raise ValueError(f"query dim {Q.shape[1]} != model dim {m * dsub}")
    Qs = Q.reshape(len(qids), m, dsub)
    # (n_q, m, k): exact distance from each query subvector to every centroid
    tables = np.stack(
        [
            ((model.codebooks[j][None, :, :] - Qs[:, j, :][:, None, :]) ** 2).sum(axis=2)
            for j in range(m)
        ],
        axis=1,
    )
    def _score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = np.stack(pdf["code"].to_numpy())  # (n, m)
            n = len(pdf)
            # dist[q, i] = sum_j tables[q, j, C[i, j]]
            dist = np.zeros((len(qids), n))
            for j in range(tables.shape[1]):
                dist += tables[:, j, :][:, C[:, j]]
            nb = pdf[id_col].to_numpy()
            # per-partition prune to k per query (global top-k downstream).
            # PQ guarantees exact distance ties (vectors sharing all m codes
            # have identical ADC distance), so the prune must respect the
            # global (dist, neighbor_id) tie law: keep everything strictly
            # under the kk-th distance, then fill from the LOWEST-id members
            # of the cutoff tie group.  O(n) per query row (np.partition +
            # flatnonzero; only the tie group itself is sorted) — a full
            # argsort of the batch, or an id-reorder copy of the whole
            # (n_q x n) matrix, would turn the scan superlinear for no
            # additional correctness.
            kk = min(k, n)
            part = np.empty((len(qids), kk), dtype=np.int64)
            if kk == n:
                part[:] = np.arange(n)
            else:
                for qi in range(len(qids)):
                    row = dist[qi]
                    v = np.partition(row, kk - 1)[kk - 1]
                    if np.isnan(v):
                        # Fewer than kk finite distances in this batch
                        # (NaN query vector, or a NaN codebook centroid
                        # poisoning some neighbors): NaN compares false
                        # to everything, so the lt/eq selection below
                        # would go empty and drop the real candidates.
                        # Keep EVERY finite candidate (there are < kk),
                        # then fill with the lowest-id NaN rows —
                        # deterministic, and the global window orders
                        # NaN distances last, so finite neighbors win.
                        fin = np.flatnonzero(~np.isnan(row))
                        nanidx = np.flatnonzero(np.isnan(row))
                        nanidx = nanidx[np.argsort(nb[nanidx], kind="stable")]
                        part[qi, : len(fin)] = fin
                        part[qi, len(fin) :] = nanidx[: kk - len(fin)]
                        continue
                    # v finite => at least kk non-NaN distances <= v,
                    # so lt/eq always fill kk here
                    lt = np.flatnonzero(row < v)
                    eq = np.flatnonzero(row == v)
                    eq = eq[np.argsort(nb[eq], kind="stable")]
                    part[qi, : len(lt)] = lt
                    part[qi, len(lt) :] = eq[: kk - len(lt)]
            rows = {
                "query_id": np.repeat(qids, kk),
                "neighbor_id": nb[part].ravel(),
                "dist": np.take_along_axis(dist, part, axis=1).ravel(),
            }
            yield pd.DataFrame(rows)

    scored = codes.mapInPandas(_score, "query_id long, neighbor_id long, dist double")
    from pyspark.sql.window import Window

    # asc_nulls_last: NaN distances cross the Arrow boundary as NULLs,
    # and Spark's default NULLS FIRST would rank NaN-poisoned rows
    # ABOVE every finite neighbor
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc_nulls_last(), "neighbor_id"
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def _subspace_dist(vec_col: str, model: PQModel, j: int, c: int):
    """Squared distance from subspace ``j`` of ``vec_col`` to centroid
    ``c`` of codebook ``j``, as a Catalyst expression: a SEQUENTIAL
    left-to-right fold from 0.0, bit-identical to a SQL oracle's
    ``list_sum`` replay."""
    cent = double_array_lit(model.codebooks[j, c])
    sub = F.slice(F.col(vec_col), j * model.dsub + 1, model.dsub)
    return F.aggregate(
        F.zip_with(sub, cent, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_encode_expr(
    emb: DataFrame,
    model: PQModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Expression-only encode: ``(id, j, code)`` long-format rows,
    the per-subspace distances lowered entirely to Catalyst
    expressions — a SEQUENTIAL left-to-right fold per distance (the
    ``_dot`` discipline), so the doubles are bit-identical to a SQL
    oracle's ``list_sum`` replay and the argmin is engine-stable
    (ties to the lowest centroid id via first-match
    ``array_position``).  Use for oracle-checked audits; the numpy
    path (:func:`pq_encode`) is the production kernel, and
    tests/test_pq.py pins the two equal on real data."""
    m, k = model.m, model.k

    rows = []
    for j in range(m):
        dl = F.array(*[_subspace_dist(vec_col, model, j, c) for c in range(k)])
        rows.append(
            F.struct(
                F.lit(j).alias("j"),
                (F.array_position(dl, F.array_min(dl)) - 1).cast("int").alias("code"),
            )
        )
    from week4_musemotion_spark.sources.tables import spread

    # spread: m*k interpreted fold distances per row is expensive
    # per-row work — parallelize above a single-task scan (no-op on
    # wide scans / shuffled frames)
    return spread(emb.select(id_col, vec_col)).select(
        id_col, F.explode(F.array(*rows)).alias("jc")
    ).select(id_col, F.col("jc.j").alias("j"), F.col("jc.code").alias("code"))


def pq_distortion_expr(
    emb: DataFrame,
    model: PQModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``(id, j, err_e6)`` — each vector's per-subspace squared
    reconstruction error under its argmin centroid, QUANTIZED to e6
    integers per row (floor(err·1e6 + 0.5)) so any downstream sum is
    partition-order-independent and value-oracle-able.  Same
    sequential-fold/argmin laws as :func:`pq_encode_expr`."""
    m, k = model.m, model.k

    rows = []
    for j in range(m):
        best = F.array_min(F.array(*[_subspace_dist(vec_col, model, j, c) for c in range(k)]))
        rows.append(
            F.struct(
                F.lit(j).alias("j"),
                F.floor(best * 1_000_000 + F.lit(0.5)).cast("long").alias("err_e6"),
            )
        )
    from week4_musemotion_spark.sources.tables import spread

    # spread: same heavy-expression rationale as pq_encode_expr
    return spread(emb.select(id_col, vec_col)).select(
        id_col, F.explode(F.array(*rows)).alias("je")
    ).select(id_col, F.col("je.j").alias("j"), F.col("je.err_e6").alias("err_e6"))
