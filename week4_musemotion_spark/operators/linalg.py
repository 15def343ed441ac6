"""Distributed dense linear algebra over an embedding column — the
d x d-sufficient-statistics pattern.

Covariance/PCA over n vectors of dimension d needs only the gram
matrix X'X (d^2 numbers), the column sums (d), and the row count —
all mergeable partials.  So the scale shape is: one Arrow-batched
``mapInPandas`` pass emitting O(d^2) numbers PER PARTITION, one tiny
keyed (or driver-side) combine, and for PCA a d x d eigensolve on the
driver (d^2 ~ 4096 doubles — microscopic next to the corpus).  The
corpus itself is scanned exactly once and nothing per-row ever
reaches the driver; this is the same partial-aggregation contract as
MLlib's ``RowMatrix.computeGramianMatrix`` (public Spark), expressed
over the DataFrame/Arrow path.

Two variants:

- :func:`gram_exact` — e6-quantized EXACT integer moments
  (decimal(38,0) — a long wraps at 100 TB row counts), so the
  centered covariance numerator is engine-portable and
  oracle-checkable (q_embedding_gram).
- :func:`pca_fit` / :func:`pca_project` — float64 production path:
  partial gram per partition, driver ``eigh``, deterministic sign
  convention, optional whitening.  Not SQL-expressible (eigensolve),
  so its semantics are pinned by numpy-recompute pytest instead
  (tests/test_linalg.py).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from week4_musemotion_spark.functions.exact import dec
from week4_musemotion_spark.operators.similarity import _to_matrix

#: Fixed-point scale shared with the cosine family (floor(x*1e6+0.5)).
_Q = 1_000_000


def _quantize(X):
    """floor(x * 1e6 + 0.5) in float64 — identical IEEE ops to the
    DuckDB oracle's CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS
    BIGINT), so the integers agree bit-for-bit."""
    import numpy as np

    return np.floor(X.astype(np.float64) * _Q + 0.5).astype(np.int64)


def gram_exact(df: DataFrame, vec_col: str) -> DataFrame:
    """Exact integer second-moment audit of an embedding column.

    Returns one row per unordered dim pair (i <= j, 1-based):
    ``(i, j, n, cov_num)`` where ``cov_num = n * sum(q_i * q_j) -
    sum(q_i) * sum(q_j)`` over the e6-quantized values — i.e. n^2
    times the covariance, kept as an exact decimal(38,0) integer so
    partition order cannot perturb it and the DuckDB oracle matches
    hash-exactly.  (At 100 TB: |q| <= ~1e6, n ~ 1e12 ->
    n*sxy <= ~1e36 — inside decimal(38,0), far outside long.)

    Plan: one corpus scan; the per-partition kernel emits
    d*(d+1)/2 + d + 1 rows (pairs, linear sums, a count row tagged
    with the partition's dim), the combine is a groupBy over that
    O(partitions * d^2) frame, and the count row's dim tag doubles as
    a cross-partition ragged-input guard (raise_error, never a wrong
    number)."""
    import decimal

    import pandas as pd

    def _partials(batches):
        import numpy as np

        acc = None  # object ndarray of python ints: exact at any n_p
        lin = None
        n = 0
        d = None
        for pdf in batches:
            s = pdf[vec_col]
            if len(s) == 0:
                continue
            X = _to_matrix(s)
            if d is None:
                d = X.shape[1]
                acc = np.zeros((d, d), dtype=object)
                lin = np.zeros(d, dtype=object)
            elif X.shape[1] != d:
                raise ValueError(
                    f"ragged embedding column: dims seen {sorted({d, X.shape[1]})}"
                )
            if not np.isfinite(X).all():
                raise ValueError(
                    "non-finite embedding value — gram/covariance is undefined; "
                    "filter NaN/inf rows first"
                )
            q = _quantize(X)
            # chunk the int64 matmul so a batch cannot overflow:
            # per-element product <= m^2, a chunk of r rows sums to
            # <= r * m^2 — keep that under 2^62.  If even ONE product
            # exceeds the bound (|q| >= 2^31: components >= ~2147 —
            # pathological for an embedding, but 'exact' must mean
            # exact), do the whole batch in object dtype: slow, never
            # silently wrapped.
            m = int(np.abs(q).max()) or 1
            if m * m >= (1 << 62):
                qo = q.astype(object)
                acc += qo.T @ qo
                lin += qo.sum(axis=0)
            else:
                step = max(1, (1 << 62) // (m * m))
                for lo in range(0, q.shape[0], step):
                    c = q[lo : lo + step]
                    acc += (c.T @ c).astype(object)
                    lin += c.sum(axis=0, dtype=np.int64).astype(object)
            n += q.shape[0]
        if d is None:
            return
        ii, jj, vv = [], [], []
        for i in range(d):
            for j in range(i, d):
                ii.append(i + 1)
                jj.append(j + 1)
                vv.append(decimal.Decimal(int(acc[i, j])))
        for i in range(d):
            ii.append(i + 1)
            jj.append(0)
            vv.append(decimal.Decimal(int(lin[i])))
        # count row: j carries the partition's dim — a cross-partition
        # ragged corpus surfaces as countDistinct(j) > 1 downstream
        ii.append(0)
        jj.append(d)
        vv.append(decimal.Decimal(n))
        yield pd.DataFrame({"i": ii, "j": jj, "val": vv})

    from week4_musemotion_spark.sources.tables import spread

    # spread: a single-row-group scan would run the whole moment
    # kernel in one task (partials are per-partition — more
    # partitions = more parallel matmuls, same O(d²) combine)
    part = spread(df.select(vec_col)).mapInPandas(
        _partials, "i long, j long, val decimal(38,0)"
    )
    # checkpoint AFTER the combine: the three consumers below (pairs /
    # linear / count) then branch off ~d^2 cached rows instead of each
    # re-shuffling the kernel output (and re-scanning the corpus)
    agg = (
        part.groupBy("i", "j")
        .agg(F.sum("val").alias("s"))
        .localCheckpoint(eager=False)
    )
    pairs = agg.filter((F.col("i") >= 1) & (F.col("j") >= 1))
    lin = agg.filter((F.col("i") >= 1) & (F.col("j") == 0)).select(
        F.col("i").alias("li"), F.col("s").alias("sx")
    )
    cnt = agg.filter(F.col("i") == 0).groupBy().agg(
        F.sum("s").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_dims_seen"),
    )
    n_guarded = F.when(F.col("n_dims_seen") == 1, F.col("n_rows")).otherwise(
        F.raise_error(F.lit("gram_exact: partitions disagree on embedding dim"))
    )
    return (
        pairs.join(
            F.broadcast(lin.select(F.col("li").alias("i"), F.col("sx").alias("sx_i"))),
            "i",
        )
        .join(
            F.broadcast(lin.select(F.col("li").alias("j"), F.col("sx").alias("sx_j"))),
            "j",
        )
        .crossJoin(F.broadcast(cnt))
        .select(
            "i",
            "j",
            n_guarded.alias("n"),
            # STRING output, not decimal: decimal(38,0) is driver-hash
            # hostile (DuckDB's client renders DECIMAL(38,0) as float64,
            # Spark as decimal.Decimal — equal values, unequal hashes).
            # The exact integer's decimal-digit string is render-stable
            # on every engine; arithmetic stays decimal internally.
            (dec(n_guarded) * F.col("s") - F.col("sx_i") * F.col("sx_j"))
            .cast("decimal(38,0)")
            .cast("string")
            .alias("cov_num"),
        )
    )


@dataclass(frozen=True)
class PCAModel:
    """Fitted PCA basis: ``mean`` (d,), ``components`` (k, d) rows =
    principal axes (deterministic sign: largest-|loading| entry
    positive), ``eigvals`` (k,) sample variances along each axis,
    ``explained`` (k,) fraction of total variance."""

    mean: "object"
    components: "object"
    eigvals: "object"
    explained: "object"


def pca_fit(df: DataFrame, vec_col: str, k: int) -> PCAModel:
    """Fit a k-component PCA with one corpus scan.

    Per partition the kernel emits (n, column-sums, flattened gram) —
    d^2 + d + 1 float64s; the driver combines the <= num_partitions
    partials (the only collect — bounded by cluster size, never by
    corpus size), forms the covariance, and runs ``numpy.linalg.eigh``
    on the d x d matrix.  Sample covariance (n-1 denominator); ties in
    eigenvalues are broken by eigh's deterministic ordering."""
    import numpy as np
    import pandas as pd

    # the k <= d half needs the data's dim; this half must fail BEFORE
    # the corpus scan, not after it
    if k < 1:
        raise ValueError(f"k must be in [1, dim], got {k}")

    def _partials(batches):
        n = 0
        s = None
        g = None
        d = None
        for pdf in batches:
            col = pdf[vec_col]
            if len(col) == 0:
                continue
            X = _to_matrix(col)
            if d is None:
                d = X.shape[1]
                s = np.zeros(d)
                g = np.zeros((d, d))
            elif X.shape[1] != d:
                raise ValueError(
                    f"ragged embedding column: dims seen {sorted({d, X.shape[1]})}"
                )
            n += X.shape[0]
            s += X.sum(axis=0)
            g += X.T @ X
        if d is None:
            return
        yield pd.DataFrame(
            {"n": [n], "s": [s.tolist()], "g": [g.reshape(-1).tolist()]}
        )

    from week4_musemotion_spark.sources.tables import spread

    rows = (
        spread(df.select(vec_col))
        .mapInPandas(_partials, "n long, s array<double>, g array<double>")
        .collect()
    )
    if not rows:
        raise ValueError("pca_fit: empty input")
    dims = {len(r.s) for r in rows}
    if len(dims) > 1:
        raise ValueError(f"ragged embedding column: dims seen {sorted(dims)}")
    d = dims.pop()
    if not 1 <= k <= d:
        raise ValueError(f"k must be in [1, {d}], got {k}")
    n = sum(r.n for r in rows)
    if n < 2:
        raise ValueError(f"pca_fit: need >= 2 rows, got {n}")
    s = np.sum([np.asarray(r.s) for r in rows], axis=0)
    g = np.sum([np.asarray(r.g).reshape(d, d) for r in rows], axis=0)
    mean = s / n
    cov = (g - np.outer(s, s) / n) / (n - 1)
    eigvals, eigvecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(eigvals)[::-1][:k]
    vals = np.maximum(eigvals[order], 0.0)
    comps = eigvecs[:, order].T  # (k, d)
    # deterministic sign: the largest-|loading| coordinate is positive
    for r in range(k):
        j = int(np.argmax(np.abs(comps[r])))
        if comps[r, j] < 0:
            comps[r] = -comps[r]
    total_var = max(float(np.trace(cov)), 1e-300)
    return PCAModel(
        mean=mean,
        components=comps,
        eigvals=vals,
        explained=vals / total_var,
    )


def pca_project(
    df: DataFrame,
    model: PCAModel,
    vec_col: str,
    out_col: str = "proj",
    whiten: bool = False,
    eps: float = 1e-12,
) -> DataFrame:
    """Project every vector onto the fitted basis (optionally
    whitened: each coordinate scaled by 1/sqrt(eigval), making the
    projected covariance the identity).  The k x d model rides to
    executors inside the Arrow-batched kernel's closure (k*d doubles
    — broadcast-sized); all passthrough columns are preserved, the
    vector column is replaced by ``out_col`` (array<double>, k)."""
    import numpy as np

    if out_col in df.columns and out_col != vec_col:
        raise ValueError(f"output column {out_col!r} already exists")
    comps = np.asarray(model.components, dtype=np.float64)
    mean = np.asarray(model.mean, dtype=np.float64)
    scale = (
        1.0 / np.sqrt(np.maximum(np.asarray(model.eigvals, dtype=np.float64), eps))
        if whiten
        else None
    )
    d = mean.shape[0]
    keep = [c for c in df.columns if c != vec_col]

    def _proj(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = _to_matrix(pdf[vec_col])
            if X.shape[1] != d:
                raise ValueError(
                    f"embedding dim {X.shape[1]} != fitted dim {d}"
                )
            Y = (X - mean) @ comps.T
            if scale is not None:
                Y = Y * scale
            out = pdf[keep].copy()
            out[out_col] = list(Y)
            yield out

    fields = [f"`{c}` {df.schema[c].dataType.simpleString()}" for c in keep]
    schema = ", ".join(fields + [f"`{out_col}` array<double>"])
    return df.mapInPandas(_proj, schema)


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection (portable ±1 signs)
# ---------------------------------------------------------------------------


def rp_signs(in_dim: int, out_dim: int, seed: int = 0) -> list[list[int]]:
    """Deterministic ±1 sign matrix (``out_dim`` rows × ``in_dim``
    cols) from md5 parity of ``rp:{seed}:{j}:{i}`` — the Achlioptas
    (2003) database-friendly JL variant with the Rademacher entries
    derived from a hash instead of an RNG, so BOTH engines of a
    differential pair can carry the identical matrix as a literal
    (no cross-engine random state to synchronize; same move as
    ``functions/hashing.stable_hash64``).

    Rows are NESTED by construction: the matrix for a smaller
    ``out_dim`` is a prefix of the larger one's rows, so one
    projection at the grid maximum serves every smaller target dim
    via ``slice`` — the one-pass grid contract of
    ``q_hll_fold_grid`` / ``q_cms_point_error``, for
    dimensionality."""
    import hashlib

    return [
        [
            1 if hashlib.md5(f"rp:{seed}:{j}:{i}".encode()).digest()[0] & 1 else -1
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def rp_project(vec, signs: list[list[int]]):
    """JVM-side JL projection ``y_j = Σ_i x_i · s_ji`` as ONE
    higher-order expression: the sign matrix is a literal
    ``array<array<double>>`` and the fold runs left-to-right over the
    dimension index — bit-identical to DuckDB's ``list_sum`` over
    ``list_transform`` (see the similarity module's numeric
    contract), so projected cosines replay exactly in the oracle.

    Per row this is ``out_dim × in_dim`` fused multiply-adds inside
    whole-stage codegen — a pure map, no shuffle, no Python: the
    cheapest possible shape for the 100 TB "project then dedup/ANN in
    t ≪ d dims" pipeline stage.

    The matrix literal is rendered as ONE SQL string and parsed
    JVM-side (``functions/vector.double_array_lit``): the
    element-wise ``F.array(*[F.lit(...)])`` build costs a py4j
    round-trip per entry — measured ~6 s of pure DRIVER time for a
    32×64 matrix (the dominant cost of q_rp_distortion's warm
    floor), vs ~6 ms for the parsed literal, with a bit-identical
    expression after analysis."""
    from week4_musemotion_spark.functions.vector import double_array_lit

    mat = double_array_lit(signs)
    vec = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(
        mat,
        lambda row: F.aggregate(
            F.zip_with(vec, row, lambda x, s: x.cast("double") * s),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )


def rp_signs_sql(signs: list[list[int]]) -> str:
    """The same matrix as a DuckDB list-of-lists literal (DOUBLE)."""
    return (
        "["
        + ", ".join(
            "[" + ", ".join(f"{float(s):.1f}" for s in row) + "]" for row in signs
        )
        + "]"
    )
