"""Connected components — turning near-dup PAIRS into dup CLUSTERS.

Pair output (doc_a ~ doc_b) undercounts duplication: if A~B and B~C,
all three are one duplicate cluster even when A~C itself fell below
threshold.  Canonical dedup keeps min-id per component, which needs
connected components over the similarity graph — the one genuinely
iterative algorithm in the dedup pipeline.

Implementation: min-label propagation with pointer jumping.  Each
node starts labeled with its own id; every round each node takes the
min label over itself and its neighbors, then SHORTCUTS through its
label's own label (comp ← comp(comp), path doubling).  Propagation
alone converges in O(component diameter) rounds — fine for compact
dup clusters, but a chain-shaped component of length L needs L
rounds.  The shortcut halves remaining path lengths each round, so
convergence is O(log L) for any shape — the property that matters
when a 100 TB near-dup graph contains adversarial chains.  Each
round is one join + union-aggregate + one self-join — fully
distributed, with the driver only checking the scalar convergence
sum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iterations: int = 20,
    stats: dict | None = None,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``;
    ``component`` is the minimum node id of its component.

    Raises if not converged within ``max_iterations`` (diameter
    bound exceeded).  ``stats``, when given, is filled with
    {"rounds": n}, the number of rounds run, for convergence
    instrumentation.
    """
    # undirected: symmetrize once.  Every round reads the edge list,
    # and several query stages of one round read it at the same time:
    # an EAGER checkpoint materializes it exactly once up front, where
    # a lazily cached frame is recomputed by each concurrent stage that
    # reaches it before the first one has stored it.
    fwd = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    sym = (
        fwd.unionByName(fwd.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = sym.select(F.col("u").alias("node")).distinct().withColumn("comp", F.col("node"))

    prev_sum = None
    for rounds in range(1, max_iterations + 1):
        if stats is not None:
            stats["rounds"] = rounds
        # propagate: each node takes the min over its own label and its
        # neighbors' labels — one union + one aggregate
        nbr = sym.join(labels, sym.v == labels.node).select(F.col("u").alias("node"), "comp")
        propagated = labels.unionByName(nbr).groupBy("node").agg(F.min("comp").alias("comp"))
        # pointer jumping: comp ← comp(comp).  Labels only ever
        # decrease toward the component min, so shortcutting is always
        # sound; it collapses long chains exponentially faster than
        # propagation alone (chain of length L: O(log L)-ish rounds
        # instead of O(L)).
        hop = propagated.select(F.col("node").alias("_hn"), F.col("comp").alias("_hc"))
        labels = propagated.join(hop, propagated.comp == hop._hn, "left").select(
            "node",
            F.least(F.col("comp"), F.coalesce(F.col("_hc"), F.col("comp"))).alias("comp"),
        )
        # truncate lineage each round: the round references its own
        # intermediate twice (the pointer-jump self-join), so carrying
        # logical plans across rounds would grow the tree 2^rounds.
        # The LAZY checkpoint is materialized by the convergence
        # aggregate below — one blocking job per round.  Superseded
        # rounds' checkpoint storage is released by the ContextCleaner
        # once the rebind drops the last reference.
        labels = labels.localCheckpoint(eager=False)
        # convergence via the monotone invariant: every comp only ever
        # decreases, so sum(comp) is unchanged exactly at the fixed
        # point.  decimal(38,0) so planet-scale id sums cannot
        # overflow long.
        cur_sum = labels.agg(F.sum(F.col("comp").cast("decimal(38,0)")).alias("s")).first().s
        if cur_sum == prev_sum:
            return labels
        prev_sum = cur_sum
    raise RuntimeError(f"connected_components did not converge in {max_iterations} iterations")


def dedup_clusters(pairs: DataFrame, src: str = "doc_a", dst: str = "doc_b") -> DataFrame:
    """Duplicate clusters from near-dup pairs: every clustered doc
    with its canonical keeper (the component's min id)."""
    comp = connected_components(pairs, src, dst)
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("keep_id"),
    )


def triangles(edges: DataFrame, src: str = "doc_a", dst: str = "doc_b") -> DataFrame:
    """Triangle enumeration over an oriented edge list (src < dst):
    (a,b)⋈(b,c)⋈(a,c) emits each triangle exactly once as a < b < c.

    The orientation is what makes the classic double-join linearish:
    each edge participates only from its lower endpoint, so no
    triangle is found three times and the join fan-out is bounded by
    per-node out-degree.  (At extreme skew the optimal variant orients
    by DEGREE order instead of id order, bounding out-degree by √m —
    same plan shape, different orientation key.)  Dup clusters that
    are true cliques show up here; chains (A~B~C without A~C) do not
    — the clique-ness signal of a near-dup cluster.
    """
    # the edge list is consumed THREE times (e, bc, ac) — pin it so an
    # expensive upstream pair-generation pipeline (e.g. jaccard_pairs'
    # shingle join + verify) executes once, not once per join branch
    # (plan audit showed 25 scans / 50 exchanges for the near-dup
    # triangle query without this)
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).localCheckpoint(
        eager=False
    )
    bc = e.select(F.col("a").alias("_b"), F.col("b").alias("c"))
    ac = e.select(F.col("a").alias("_a2"), F.col("b").alias("_c2"))
    return (
        e.join(bc, e.b == bc._b)
        .join(ac, (F.col("a") == F.col("_a2")) & (F.col("c") == F.col("_c2")))
        .select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"), F.col("c").alias("doc_c"))
    )
