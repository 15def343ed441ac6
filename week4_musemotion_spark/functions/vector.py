"""Vector math over ``array<float/double>`` columns — builtin only.

Higher-order functions (``zip_with``, ``aggregate``, ``transform``)
evaluate JVM-side per row with no Python round-trip, so similarity
scans stay in whole-stage codegen.  All math is promoted to double
before accumulating (float accumulation loses ~3 decimal digits at
dim=4k and is not reproducible across engines).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two array columns (double accumulation, in array order)."""
    prods = F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column | str) -> Column:
    sq = F.transform(_c(a), lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, v: acc + v))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; NULL if either vector has zero norm."""
    d = dot(a, b)
    na, nb = l2_norm(a), l2_norm(b)
    denom = na * nb
    return F.when(denom > 0, d / denom)


def _array_lit(values, scalar) -> Column:
    """Shared renderer for the *_array_lit pair: ONE parsed SQL
    expression instead of a py4j round-trip per element."""

    def _render(v) -> str:
        if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
            return "array(" + ", ".join(_render(x) for x in v) + ")"
        return scalar(v)

    return F.expr(_render(list(values)))


def double_array_lit(values) -> Column:
    """``array<double>`` literal (nested sequences →
    ``array<array<double>>``) rendered as ONE parsed SQL expression.

    The element-wise ``F.array(*[F.lit(v) for v in ...])`` build
    costs a py4j round-trip PER ELEMENT — measured ~6 s of pure
    driver time for a 32×64 sign matrix (q_rp_distortion's warm
    floor) and the same pathology for PQ codebook tables.  The
    parsed literal is bit-identical after analysis (repr() is the
    shortest round-trip double rendering) and costs ~6 ms."""
    return _array_lit(values, lambda v: f"{float(v)!r}D")
