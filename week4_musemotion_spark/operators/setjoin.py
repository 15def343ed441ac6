"""Set-similarity self-join (Jaccard ≥ τ) with prefix filtering —
the PPJoin family (Xiao et al., WWW 2008; public knowledge) expressed
as pure DataFrame ops.

All-pairs token-set similarity is the workhorse of near-duplicate
detection over bag-of-words signatures.  The naive plan is the n²
cross join; prefix filtering makes it an equi-join:

1. order every record's tokens by ascending global document
   frequency (rarest first, term as tie-break — any total order
   works, rare-first minimizes candidates);
2. a record with s tokens emits only its first
   ``p = s − ⌈τ·s⌉ + 1`` tokens (its *prefix*): two sets with
   Jaccard ≥ τ share ≥ ⌈τ·s⌉ tokens, so disjoint prefixes would
   leave fewer than that even if every suffix token matched —
   sharing a prefix token is NECESSARY (exact recall);
3. candidates = equi-join on prefix tokens (+ the length filter
   |y| ≥ τ·|x|, also implied by the threshold);
4. exact verify on the candidate pairs only:
   ``common·10⁴ ≥ τ_e4·(s₁+s₂−common)`` in pure integer
   arithmetic, so the decision is engine-reproducible.

Scale shape: the prefix stage is linear (≤ s−⌈τs⌉+1 rows per
record, ~20% of tokens at τ=0.8); the join is keyed on single
tokens whose expected bucket size the rare-first ordering keeps
small; the verify joins fixed-width sorted arrays back by id.  No
stage is quadratic in the corpus.

Reference parity: /root/reference has no similarity join; this
extends the dedup family (SURVEY.md §2 X-DEDUP-*) with the exact
threshold variant the curation pipeline needs.

Pins: both joins pin their sorted-array table (four plan branches
each) with a lazy ``localCheckpoint``: the first job that reaches it
materializes it once, and the pin is released with the DataFrame, so
no query leaves a cached table behind.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from week4_musemotion_spark.functions.exact import ratio_e4


def _rare_first(
    records: DataFrame, id_col: str, tokens_col: str, tau_e4: int, within: list[str]
) -> DataFrame:
    """``(_id, *within, _arr, _s, _p)``: each record's token array
    sorted rare-first (ascending global document frequency, term as
    tie-break), its size ``_s`` and its prefix length
    ``_p = s − ⌈τ·s⌉ + 1``, pinned with a lazy local checkpoint — the
    table feeds four plan branches in either join, and unpinned the
    explode + df-join + sort-aggregate lineage re-runs per branch."""
    from week4_musemotion_spark.sources.tables import spread

    # spread: the token build + explode + prefix emission otherwise
    # run inside the single scan task of a one-row-group file
    # (no-op on already-wide scans / shuffled frames)
    records = spread(records)
    toks = records.select(
        F.col(id_col).alias("_id"), *within, F.explode(tokens_col).alias("_t")
    )
    df_tab = toks.groupBy("_t").agg(F.count(F.lit(1)).alias("_df"))
    # per-record token array sorted rare-first: sort (df, term) structs
    # then project the term back out — one shuffle on _id
    return (
        toks.join(df_tab, "_t")
        .groupBy("_id", *within)
        .agg(
            F.expr("transform(array_sort(collect_list(struct(_df, _t))), x -> x._t)").alias(
                "_arr"
            )
        )
        .withColumn("_s", F.size("_arr"))
        # p = s - ceil(tau*s) + 1, with ceil in integer arithmetic
        .withColumn(
            "_p",
            F.col("_s")
            - F.floor((F.lit(tau_e4) * F.col("_s") + 9999) / 10000).cast("int")
            + 1,
        )
        .localCheckpoint(eager=False)
    )


def jaccard_self_join(
    records: DataFrame,
    id_col: str,
    tokens_col: str,
    tau_e4: int,
    within: "list[str] | None" = None,
) -> DataFrame:
    """All unordered pairs of ``records`` with Jaccard(tokens) ≥
    ``tau_e4``/10⁴, via df-ordered prefix filtering + exact integer
    verify.

    ``records[tokens_col]`` must be an array of DISTINCT tokens.
    Output: id_1, id_2 (id_1 < id_2), common, n_union, jacc_e4.

    ``within``: optional stratum columns that must match for a pair
    to qualify (e.g. the shard/source) — the production shape for
    corpora whose token distribution defeats prefix filtering: a
    near-flat tiny vocabulary has no rare tokens, so prefix buckets
    approach n and the candidate set approaches all-pairs no matter
    the threshold.  Stratifying bounds each bucket by stratum size;
    the *global* near-dup layer then belongs to MinHash-LSH
    (operators/dedup.py), which trades exactness for sub-quadratic
    candidates precisely where exact prefix joins degenerate.
    """
    within = list(within or [])
    ordered = _rare_first(records, id_col, tokens_col, tau_e4, within)
    # prefix rows stay NARROW (id, stratum, size, position, token):
    # shipping the full token array through the candidate explosion
    # would copy it once per prefix token and again through the pair
    # dedup shuffle — arrays are joined back per UNIQUE pair instead,
    # after dedup
    pre = ordered.select(
        "_id",
        *within,
        "_s",
        F.posexplode(F.slice("_arr", 1, F.col("_p"))).alias("_pos", "_t"),
    )
    a, b = pre.alias("a"), pre.alias("b")
    # POSITIONAL filter (the second "P" of PPJoin, Xiao et al. §3.2):
    # both arrays share one global token order, so every common token
    # of a qualifying pair lies at-or-after its FIRST common token,
    # whose (0-based) positions ix, iy bound the overlap by
    # 1 + min(sx − ix − 1, sy − iy − 1).  Jaccard ≥ τ needs overlap
    # ≥ α = ⌈τ·(sx+sy)/(1+τ)⌉; requiring the bound per matched row
    # (cross-multiplied, all-integer) prunes candidates whose match
    # sits too deep in the prefix — the first-common-token row of any
    # TRUE pair always passes (it is in both prefixes by the prefix
    # principle), so recall stays exact and the verify unchanged.
    ubound = F.lit(1) + F.least(
        F.col("a._s") - F.col("a._pos") - 1, F.col("b._s") - F.col("b._pos") - 1
    )
    cond = (
        (F.col("a._t") == F.col("b._t"))
        & (F.col("a._id") < F.col("b._id"))
        # length filter: Jaccard >= tau implies tau*|x| <= |y| both ways
        & (F.col("a._s") * tau_e4 <= F.col("b._s") * 10000)
        & (F.col("b._s") * tau_e4 <= F.col("a._s") * 10000)
        # positional filter: ubound*(1+tau) >= tau*(sx+sy), in e4
        & (
            ubound * (10000 + tau_e4)
            >= F.lit(tau_e4) * (F.col("a._s") + F.col("b._s"))
        )
    )
    for c in within:
        cond = cond & F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}"))
    pairs = (
        a.join(b, cond)
        .select(F.col("a._id").alias("id_1"), F.col("b._id").alias("id_2"))
        .dropDuplicates(["id_1", "id_2"])
    )
    arr = ordered.select("_id", "_arr", "_s")
    cands = (
        pairs.join(arr.alias("x"), F.col("id_1") == F.col("x._id"))
        .join(arr.alias("y"), F.col("id_2") == F.col("y._id"))
        .select(
            "id_1",
            "id_2",
            F.col("x._arr").alias("_a1"),
            F.col("y._arr").alias("_a2"),
            F.col("x._s").alias("_s1"),
            F.col("y._s").alias("_s2"),
        )
    )
    common = F.size(F.array_intersect("_a1", "_a2"))
    n_union = F.col("_s1") + F.col("_s2") - common
    return (
        cands.withColumn("common", common.cast("long"))
        .withColumn("n_union", n_union.cast("long"))
        .filter(F.col("common") * 10000 >= F.lit(tau_e4) * F.col("n_union"))
        .select(
            "id_1",
            "id_2",
            "common",
            "n_union",
            ratio_e4(F.col("common"), F.col("n_union")).alias("jacc_e4"),
        )
    )


def containment_join(
    records: DataFrame,
    id_col: str,
    tokens_col: str,
    tau_e4: int,
    within: "list[str] | None" = None,
) -> DataFrame:
    """Asymmetric set-containment self-join: pairs (a, b), a ≠ b,
    where ``|A∩B| ≥ τ·|A|`` — "most of A's tokens appear in B", the
    quotation / excerpt / subset-boilerplate detector that Jaccard
    misses (a short quote inside a long doc has low Jaccard but high
    containment).

    Prefix filtering adapts asymmetrically: only the CONTAINED side
    can skip tokens — A emits its first ``|A| − ⌈τ·|A|⌉ + 1``
    df-ordered tokens (missing all of them would leave the overlap
    below ⌈τ·|A|⌉ even if every other token matched), while the
    container side B must emit all tokens (nothing bounds which of
    B's tokens overlap).  The pair is ordered (a = contained,
    b = container), so both directions of a pair can appear.

    Output: id_a, id_b, common, size_a, cont_e4.
    """
    within = list(within or [])
    ordered = _rare_first(records, id_col, tokens_col, tau_e4, within)
    pre_a = ordered.select(
        "_id",
        *within,
        "_s",
        F.posexplode(F.slice("_arr", 1, F.col("_p"))).alias("_pos", "_t"),
    )
    full_b = ordered.select(
        "_id", *within, F.size("_arr").alias("_sb"),
        F.posexplode("_arr").alias("_pos", "_t"),
    )
    a, b = pre_a.alias("a"), full_b.alias("b")
    # positional filter, asymmetric form: containment needs overlap
    # ≥ ⌈τ·|A|⌉, and every common token lies at-or-after the first
    # one (shared global token order), so a matched row at 0-based
    # positions (ia, ib) bounds the overlap by 1 + min(sa−ia−1,
    # sb−ib−1); the first-common-token row of a true pair is inside
    # A's prefix by the prefix principle, so recall stays exact
    ubound = F.lit(1) + F.least(
        F.col("a._s") - F.col("a._pos") - 1, F.col("b._sb") - F.col("b._pos") - 1
    )
    cond = (
        (F.col("a._t") == F.col("b._t"))
        & (F.col("a._id") != F.col("b._id"))
        # ubound >= ceil(tau*sa): cross-multiplied, all-integer
        & (ubound * 10000 >= F.lit(tau_e4) * F.col("a._s"))
    )
    for c in within:
        cond = cond & F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}"))
    pairs = (
        a.join(b, cond)
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    arr = ordered.select("_id", "_arr", "_s")
    cands = (
        pairs.join(arr.alias("x"), F.col("id_a") == F.col("x._id"))
        .join(arr.alias("y"), F.col("id_b") == F.col("y._id"))
        .select(
            "id_a",
            "id_b",
            F.col("x._arr").alias("_aa"),
            F.col("y._arr").alias("_ab"),
            F.col("x._s").alias("_sa"),
        )
    )
    common = F.size(F.array_intersect("_aa", "_ab"))
    return (
        cands.withColumn("common", common.cast("long"))
        .filter(F.col("common") * 10000 >= F.lit(tau_e4) * F.col("_sa"))
        .select(
            "id_a",
            "id_b",
            "common",
            F.col("_sa").cast("long").alias("size_a"),
            ratio_e4(F.col("common"), F.col("_sa")).alias("cont_e4"),
        )
    )
