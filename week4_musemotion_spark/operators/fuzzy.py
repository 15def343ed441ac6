"""Blocked fuzzy string join (entity resolution) for edit distance ≤ k,
k ∈ {1, 2}, via the deletion-neighborhood technique — exact recall,
key selectivity that tracks FULL-string entropy.

For a string ``s`` let ``D(s) = {s} ∪ {s with one character deleted}``
(|s| + 1 variants).  Two strings ``u, v`` are within edit distance 1
iff ``D(u) ∩ D(v) ≠ ∅``:

- equal:        ``u ∈ D(u) ∩ D(v)``.
- deletion:     ``v = del_i(u)`` ⇒ ``v ∈ D(u)`` and ``v ∈ D(v)``.
- insertion:    symmetric to deletion.
- substitution: delete the substituted position from both ⇒ same string.

Conversely a shared variant implies edit distance ≤ 2, so a final
``levenshtein ≤ 1`` verify over candidates only removes the (rare)
false positives.  The depth-2 neighborhood ``D_2(s)`` (≤ 2 deletions)
gives the same guarantee at edit distance 2.  This is the classic
"fast similarity search with deletions" scheme (Mor–Fraenkel 1982;
popularized by FastSS, Bocek et al. 2007, and SymSpell) — public
knowledge.

Why not PassJoin segment blocking here: on templated key corpora
(e.g. TPC-H's ``Customer#000000042``) the first-half segment has ~1
distinct value, so segment blocking degenerates into a cross join
(measured: 1 distinct seg-1 key over 15k customers ⇒ 49% of the whole
bench in one query).  Deletion variants always contain the
high-entropy part of the string, so block sizes track true near-dup
group sizes, not shared-prefix mass.

Scale shape: each row emits ≤ C(len, ≤k) keys, each hashed to a fixed
64-bit ``xxhash64`` (short shuffle rows regardless of string length);
the join is a plain long-key equi-join — never a cross join — and the
candidate set is deduped on caller-supplied id columns BEFORE the
edit-distance verify so each pair pays ``levenshtein`` once.

The reference pipeline has no fuzzy join; this extends the
entity-resolution family the curation pipeline needs at scale.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _exploded_keys(df: DataFrame, col: str, k: int) -> DataFrame:
    """``df`` with one row per deletion-neighborhood variant hash
    (column ``_k``) of ``col``, depth ≤ ``k`` (1 or 2).

    Variants are produced by exploding plain integer index
    sequences and building each variant with SCALAR substring/concat
    expressions — these stay inside whole-stage codegen, where the
    equivalent higher-order-function (transform/flatten) form falls
    back to interpreted per-element eval (measured 10× slower on the
    15k×106-variant clean side).  The scalar path emits row-level
    duplicates (repeated-char deletions, the i=j pairs) — harmless,
    because candidates are deduped on pair ids before the levenshtein
    verify.

    The i=j≥1 sentinel is filtered BEFORE hashing: ``xxhash64(NULL)``
    is the seed constant, and a shared constant key on both join
    sides would be a disguised cross join.
    """
    s = df.withColumn("_i", F.explode(F.expr(f"sequence(0, length({col}))")))
    if k == 1:
        var = F.expr(
            f"CASE WHEN _i = 0 THEN {col} "
            f"ELSE concat(substring({col}, 1, _i - 1), "
            f"substring({col}, _i + 1, length({col}))) END"
        )
        return s.withColumn("_k", F.xxhash64(var)).drop("_i")
    # k == 2: ordered index pairs 0 <= i <= j <= len:
    #   (0,0) -> the string itself; (0,j) -> delete j only;
    #   (i,j) i<j -> delete both; (i,i) i>=1 -> skip (duplicate)
    s = s.withColumn("_j", F.explode(F.expr(f"sequence(_i, length({col}))")))
    var = F.expr(
        f"CASE WHEN _i = 0 AND _j = 0 THEN {col} "
        f"WHEN _i = 0 THEN concat(substring({col}, 1, _j - 1), "
        f"substring({col}, _j + 1, length({col}))) "
        f"WHEN _i = _j THEN NULL "
        f"ELSE concat(substring({col}, 1, _i - 1), "
        f"substring({col}, _i + 1, _j - _i - 1), "
        f"substring({col}, _j + 1, length({col}))) END"
    )
    return (
        s.withColumn("_v", var)
        .filter(F.col("_v").isNotNull())
        .withColumn("_k", F.xxhash64("_v"))
        .drop("_i", "_j", "_v")
    )


def fuzzy_join(
    clean: DataFrame,
    dirty: DataFrame,
    clean_col: str,
    dirty_col: str,
    k: int = 1,
    dedup_on: Optional[Sequence[str]] = None,
) -> DataFrame:
    """All (dirty, clean) pairs with edit distance ≤ ``k`` (1 or 2) via
    depth-``k`` deletion-neighborhood blocking + levenshtein verify.

    Output: every column of both inputs plus ``dist``.

    ``dedup_on``: columns (drawn from either input) that uniquely
    identify a candidate pair — typically the two primary keys.  When
    given, candidate dedup shuffles only those narrow columns instead
    of every column of both inputs.  Defaults to all columns.

    Scale shape: each row emits ≤ C(len, ≤k) fixed-width hashed keys
    (~len²/2 for k=2 on 18-char keys ≈ 150 — constant per row, so the
    blocking stage is linear); see :func:`_candidate_pairs` for the
    join.
    """
    if k not in (1, 2):
        raise ValueError(f"k must be 1 or 2, got {k}")
    from week4_musemotion_spark.sources.tables import spread

    # spread: the deletion-neighborhood explode (~1+L+L²/2 variants
    # per row at k=2) and the levenshtein verify otherwise run inside
    # the single scan task of a one-row-group file (no-op on wide
    # scans / already-shuffled frames)
    cands = _candidate_pairs(spread(clean), spread(dirty), clean_col, dirty_col, k, dedup_on)
    return cands.withColumn(
        "dist", F.levenshtein(F.col(dirty_col), F.col(clean_col))
    ).filter(F.col("dist") <= k)


def _candidate_pairs(
    clean: DataFrame,
    dirty: DataFrame,
    clean_col: str,
    dirty_col: str,
    k: int,
    dedup_on: Optional[Sequence[str]],
) -> DataFrame:
    """The blocked candidate set of :func:`fuzzy_join` BEFORE the
    levenshtein verify: every (dirty, clean) pair sharing a depth-``k``
    deletion-variant hash whose lengths differ by at most ``k``
    (implied by the distance bound — a cheap discard of cross-length
    bucket collisions), deduped on ``dedup_on``.  Its size is what
    degenerate blocking would blow up (templated keys with one shared
    prefix), so it is checked on its own to stay near-linear."""
    ck = _exploded_keys(clean.withColumn("_lc", F.length(clean_col)), clean_col, k)
    dk = _exploded_keys(dirty.withColumn("_ld", F.length(dirty_col)), dirty_col, k)
    keys = list(dedup_on) if dedup_on else list(dirty.columns) + list(clean.columns)
    # explode breaks size stats, so Spark can't see when the dirty
    # side fits in memory.  One cheap agg over the UN-exploded dirty
    # side decides: the variant explosion is ~1+L (k=1) or
    # ~1+L+L(L-1)/2 (k=2) rows per record, so estimated exploded rows
    # tell whether the broadcast table fits — the join is then
    # map-side and the clean side never shuffles at all.  Otherwise
    # pin a SORT-MERGE join: AQE's broadcast conversion estimates from
    # COMPRESSED shuffle bytes, and a deserialized multi-million-row
    # variant table blowing past that estimate OOMs the driver (seen
    # at 1.4M variant rows under a 1g driver); shuffle-hash fails the
    # same way executor-side because its build side cannot spill —
    # sort-merge is the one strategy that degrades to disk instead of
    # dying when the variant explosion outgrows memory
    nrow, avg_len = dirty.agg(F.count(F.lit(1)), F.avg(F.length(dirty_col))).first()
    length = float(avg_len or 0.0)
    per = 1 + length + (length * (length - 1) / 2 if k == 2 else 0)
    dside = F.broadcast(dk) if (nrow or 0) * per <= 2_000_000 else dk.hint("merge")
    return (
        dside.join(ck, (dk["_k"] == ck["_k"]) & (F.abs(dk["_ld"] - ck["_lc"]) <= k))
        .drop("_k", "_lc", "_ld")
        .dropDuplicates(keys)
    )
