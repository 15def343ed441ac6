"""Sketch operators: approximations must land within their error
contracts against exact computations."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_heavy_hitters_matches_exact_on_zipf(spark):
    """The MG candidate pass must have NO false negatives even when
    the vocabulary (2k values) vastly exceeds the counter budget
    (den=16): the verified output equals the exact groupBy answer,
    regardless of partitioning."""
    import math

    from week4_musemotion_spark.operators.sketches import heavy_hitters

    # deterministic Zipf-ish stream: value v_r appears ~N/r times
    rows = []
    for r in range(1, 2001):
        rows.extend([(f"v{r:04d}",)] * max(1, 4000 // r))
    df = spark.createDataFrame(rows, "term string")
    total = len(rows)
    thr = math.ceil(total / 16)
    exact = {
        (r.term, r.cnt)
        for r in df.groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .filter(F.col("cnt") >= thr)
        .collect()
    }
    assert exact, "fixture must produce at least one heavy hitter"
    for parts in (1, 13):
        got = heavy_hitters(df.repartition(parts), "term", den=16).collect()
        assert {(r.term, r.cnt) for r in got} == exact, parts
        for r in got:
            assert r.share_ppm == r.cnt * 1_000_000 // total


def test_heavy_hitters_null_and_empty(spark):
    from week4_musemotion_spark.operators.sketches import heavy_hitters

    df = spark.createDataFrame([("a",), ("a",), (None,), ("b",)], "term string")
    got = {(r.term, r.cnt) for r in heavy_hitters(df, "term", den=2).collect()}
    # 3 non-null rows, threshold ceil(3/2)=2: only 'a' qualifies;
    # nulls are excluded from both candidates and the denominator
    assert got == {("a", 2)}
    empty = heavy_hitters(
        spark.createDataFrame([], "term string"), "term", den=4
    ).collect()
    assert empty == []


def test_hll_merge_equals_whole(spark):
    """Mergeable-summaries property: sketch(A ∪ B) == merge(sketch(A),
    sketch(B)) — register tables AND estimates identical."""
    from week4_musemotion_spark.operators.sketches import (
        hll_estimate,
        hll_merge,
        hll_registers,
    )

    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").select(
        "o_orderpriority", F.col("o_custkey").alias("v")
    )
    a = o.filter(F.col("v") % 2 == 0)
    b = o.filter(F.col("v") % 2 == 1)
    whole = hll_registers(o, ["o_orderpriority"], "v")
    merged = hll_merge(
        hll_registers(a, ["o_orderpriority"], "v"),
        hll_registers(b, ["o_orderpriority"], "v"),
        ["o_orderpriority"],
    )
    key = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert key(whole) == key(merged)
    ew = {r[0]: r.hll_e2 for r in hll_estimate(whole, ["o_orderpriority"]).collect()}
    em = {r[0]: r.hll_e2 for r in hll_estimate(merged, ["o_orderpriority"]).collect()}
    assert ew == em


def test_hll_duplicates_free(spark):
    """Duplicate values cannot move a register: sketch(x3 copies) ==
    sketch(distinct)."""
    from week4_musemotion_spark.operators.sketches import hll_registers

    d = spark.range(500).select(F.concat(F.lit("v"), F.col("id")).alias("v"), F.lit("g").alias("g"))
    tripled = d.unionByName(d).unionByName(d)
    key = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert key(hll_registers(tripled, ["g"], "v")) == key(hll_registers(d, ["g"], "v"))


def test_hll_estimate_accuracy_and_branch(spark):
    """Raw estimate within ~3 standard errors at n >> 2.5m; the
    branched float estimate switches to linear counting at small n
    and is the tighter of the two there."""
    from week4_musemotion_spark.operators.sketches import hll_estimate, hll_registers

    big = spark.range(20_000).select(F.lit("big").alias("g"), F.concat(F.lit("x"), F.col("id")).alias("v"))
    small = spark.range(100).select(F.lit("small").alias("g"), F.concat(F.lit("x"), F.col("id")).alias("v"))
    est = {
        r.g: r
        for r in hll_estimate(
            hll_registers(big.unionByName(small), ["g"], "v"), ["g"]
        ).collect()
    }
    assert abs(est["big"].hll_e2 / 100 - 20_000) / 20_000 < 0.20  # 3σ at m=256
    # small-n: linear-counting branch engaged and closer than raw
    s = est["small"]
    assert s.zero_regs > 0 and s.hll_e2 / 100 <= 2.5 * 256
    assert abs(s.estimate - 100) < abs(s.hll_e2 / 100 - 100)
    assert abs(s.estimate - 100) / 100 < 0.15


def test_hll_rejects_bad_p(spark):
    import pytest as _pytest

    from week4_musemotion_spark.operators.sketches import hll_alpha_e7, hll_registers

    d = spark.range(5).select(F.lit("g").alias("g"), F.col("id").cast("string").alias("v"))
    with _pytest.raises(ValueError):
        hll_registers(d, ["g"], "v", p=6)
    with _pytest.raises(ValueError):
        hll_alpha_e7(64)


def test_bloom_prune_no_false_negatives_and_prunes(spark):
    """bloom_prune keeps EVERY true join key (⊇ semi-join) and, at
    16 bits/key, passes ~none of the non-matching rows."""
    from week4_musemotion_spark.operators.sketches import bloom_prune

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    part = spark.read.parquet(f"{SF_SMOKE}/part.parquet").filter(
        (F.col("p_type") == "PROMO") & (F.col("p_size") <= 10)
    )
    pruned = bloom_prune(li, part.select("p_partkey"), "l_partkey", "p_partkey")
    true_keys = {r.p_partkey for r in part.select("p_partkey").collect()}
    pruned_keys = {r.l_partkey for r in pruned.select("l_partkey").distinct().collect()}
    li_keys = {r.l_partkey for r in li.select("l_partkey").distinct().collect()}
    assert true_keys & li_keys <= pruned_keys, "bloom dropped a true key"
    n_full, n_pruned = li.count(), pruned.count()
    assert n_pruned < 0.15 * n_full, (n_pruned, n_full)


def test_bloom_prune_empty_keys_prunes_everything(spark):
    from week4_musemotion_spark.operators.sketches import bloom_prune

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    none = spark.createDataFrame([], "p_partkey long")
    assert bloom_prune(li, none, "l_partkey", "p_partkey").count() == 0


def test_bloom_prune_string_keys_prune(spark):
    """String keys hash as themselves: the filter keeps every true key
    and drops the rest (a long cast would null every string key and
    pass every row).  Mixed or unsupported key types raise."""
    import pytest

    from week4_musemotion_spark.operators.sketches import bloom_prune

    fact = spark.range(2000).select(F.format_string("k%d", "id").alias("k"))
    wanted = {f"k{i}" for i in range(0, 2000, 100)}
    keys = spark.createDataFrame([(k,) for k in sorted(wanted)], "key string")
    got = {r.k for r in bloom_prune(fact, keys, "k", "key").collect()}
    assert wanted <= got
    assert len(got) < 100, len(got)
    with pytest.raises(TypeError, match="cannot probe"):
        bloom_prune(spark.range(10), keys, "id", "key")
    with pytest.raises(TypeError, match="double"):
        bloom_prune(fact, spark.createDataFrame([(1.0,)], "key double"), "k", "key")


def test_bloom_membership_is_scan_side_predicate(spark):
    """The membership test must be a plain Filter on the fact scan —
    BELOW any exchange — or the 100 TB story (prune before shuffle)
    is not what the plan runs."""
    from week4_musemotion_spark.operators.sketches import bloom_prune
    from week4_musemotion_spark.plans.audit import plan_string

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    part = spark.read.parquet(f"{SF_SMOKE}/part.parquet").filter(F.col("p_size") <= 5)
    pruned = bloom_prune(li, part.select("p_partkey"), "l_partkey", "p_partkey")
    joined = pruned.join(
        part.hint("merge"), pruned.l_partkey == part.p_partkey
    ).groupBy("p_brand").count()
    plan = plan_string(joined, "simple")
    # with the broadcast path disabled via merge hint, the fact side
    # is Exchange(...Filter(...xxhash64...Scan)) — filter below
    # exchange (bloom_prune probes with the native xxhash64 family;
    # the md5 family stays on the oracle-replayed audit path)
    fact_side = plan[plan.index("Exchange") :]
    assert "xxhash64" in fact_side, plan
    filt = plan.index("xxhash64")
    assert "Exchange" in plan[:filt], "membership filter not below an exchange"
    scan = plan.index("Scan parquet", filt)
    assert "Exchange" not in plan[filt:scan], "exchange between filter and fact scan"


#: Both Bloom hash families; each build/fold test runs under each.
_BLOOM_FAMILIES = ("portable", "native")


def test_bloom_rejects_bad_bits(spark):
    import pytest as _pytest

    from week4_musemotion_spark.operators.sketches import bloom_positions

    d = spark.range(3).select(F.col("id").alias("k"))
    for family in _BLOOM_FAMILIES:
        with _pytest.raises(ValueError):
            bloom_positions(d, F.col("k"), 1000, 3, family)


def test_hll_ignores_null_values(spark):
    """NULLs add zero distinct — sketch(values + NULLs) == sketch(values)."""
    from week4_musemotion_spark.operators.sketches import hll_registers

    d = spark.range(300).select(F.lit("g").alias("g"), F.concat(F.lit("v"), F.col("id")).alias("v"))
    with_nulls = d.unionByName(
        spark.range(50).select(F.lit("g").alias("g"), F.lit(None).cast("string").alias("v"))
    )
    key = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert key(hll_registers(with_nulls, ["g"], "v")) == key(hll_registers(d, ["g"], "v"))


def test_hll_estimate_p_mismatch_fails_loudly(spark):
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError

    from week4_musemotion_spark.operators.sketches import hll_estimate, hll_registers

    d = spark.range(5000).select(F.lit("g").alias("g"), F.concat(F.lit("v"), F.col("id")).alias("v"))
    reg10 = hll_registers(d, ["g"], "v", p=10)
    with _pytest.raises((Py4JJavaError, Exception), match="not built with p=8"):
        hll_estimate(reg10, ["g"], p=8).collect()
    # a SMALLER-p build must fail too (phantom empty registers would
    # otherwise silently halve the estimate)
    reg7 = hll_registers(d, ["g"], "v", p=7)
    with _pytest.raises((Py4JJavaError, Exception), match="not built with p=8"):
        hll_estimate(reg7, ["g"], p=8).collect()
    with _pytest.raises(ValueError):
        hll_estimate(reg10, ["g"], p=3)


def test_bloom_build_ignores_null_keys(spark):
    from week4_musemotion_spark.operators.sketches import bloom_positions

    d = spark.createDataFrame([(1,), (2,), (None,)], "k long")
    clean = spark.createDataFrame([(1,), (2,)], "k long")
    for family in _BLOOM_FAMILIES:
        got = bloom_positions(d, F.col("k"), 256, 3, family)
        assert sorted(got) == sorted(bloom_positions(clean, F.col("k"), 256, 3, family))


def test_bloom_words_fold_from_larger_build(spark):
    """Positions built at the grid max mask down to the identical
    bitmap a direct smaller build produces."""
    from week4_musemotion_spark.operators.sketches import bloom_positions, bloom_words

    d = spark.range(100).select(F.col("id").alias("k"))
    for family in _BLOOM_FAMILIES:
        pos = bloom_positions(d, F.col("k"), 4096, 3, family)
        for bits in (64, 512, 4096):
            direct = bloom_positions(d, F.col("k"), bits, 3, family)
            assert bloom_words(pos, bits) == bloom_words(direct, bits)


def _fold(registers, q, group_cols):
    """Fold a register table to precision ``q`` the way
    ``q_hll_fold_grid`` does: map every register row with
    ``hll_fold_register``, then ``max`` per narrowed bucket."""
    from week4_musemotion_spark.operators.sketches import hll_fold_register

    return (
        registers.groupBy(
            *group_cols, F.col("bucket").bitwiseAND((1 << q) - 1).alias("bucket")
        )
        .agg(F.max(hll_fold_register(q)).cast("int").alias("reg"))
        .withColumn("p", F.lit(q).cast("int"))
    )


def test_hll_fold_equals_direct_build(spark):
    """fold(build(p_hi), q) == build(q) register-for-register (and
    therefore estimate-for-estimate) across a precision grid — the
    one-pass grid contract."""
    from week4_musemotion_spark.operators.sketches import hll_registers

    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").select(
        "o_orderpriority", F.col("o_custkey").alias("v")
    )
    hi = hll_registers(o, ["o_orderpriority"], "v", p=12)
    key = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    for q in (10, 8, 7):
        assert key(_fold(hi, q, ["o_orderpriority"])) == key(
            hll_registers(o, ["o_orderpriority"], "v", p=q)
        ), q
    # folding is composable: fold(fold(12→10), 8) == fold(12→8)
    assert key(_fold(_fold(hi, 10, ["o_orderpriority"]), 8, ["o_orderpriority"])) == key(
        _fold(hi, 8, ["o_orderpriority"])
    )


def test_hll_fold_sentinel_register(spark):
    """The w == 0 sentinel (reg == W_p + 1) folds via the dropped
    index bits d = bucket >> new_p: d != 0 → W_q + 1 - len(bin(d)),
    d == 0 → the new sentinel.  Synthetic register rows pin both
    branches (no md5 preimage with a 48-zero-bit suffix exists in any
    practical corpus)."""
    from week4_musemotion_spark.operators.sketches import _HASH_BITS

    p, q = 12, 8
    sent_p = _HASH_BITS - p + 1  # 49
    new_w1 = _HASH_BITS - q + 1  # 53
    rows = [
        # bucket 0b1011_00000101: d = 0b1011 (len 4) → 53 - 4 = 49
        (0b1011_00000101, sent_p),
        # bucket < 2^q: d == 0 → the new sentinel 53
        (0b0000_00000011, sent_p),
        # non-sentinel rho is invariant
        (0b0110_00000011, 17),
    ]
    regs = spark.createDataFrame(rows, "bucket long, reg int").withColumn(
        "p", F.lit(p).cast("int")
    )
    got = {r.bucket: r.reg for r in _fold(regs, q, []).collect()}
    assert got[0b00000101] == new_w1 - 4
    assert got[0b00000011] == new_w1  # max(53, 17) — sentinel dominates


def test_hll_registers_grid_equals_per_p_builds(spark):
    """hll_registers_grid(ps).filter(p == q) must be bit-identical to
    hll_registers(p=q) for every q — the one-hash-pass contract the
    fold-grid audit's direct builds rely on."""
    import pytest as _pytest

    from week4_musemotion_spark.operators.sketches import (
        hll_registers,
        hll_registers_grid,
    )

    d = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").select(
        F.col("o_orderpriority").alias("g"),
        F.col("o_custkey").cast("string").alias("v"),
    )
    ps = (11, 9, 7)
    grid = hll_registers_grid(d, ["g"], "v", ps)
    key = lambda df: sorted(map(tuple, df.select("g", "bucket", "reg", "p").collect()))  # noqa: E731
    for q in ps:
        assert key(grid.filter(F.col("p") == q)) == key(hll_registers(d, ["g"], "v", p=q)), q
    with _pytest.raises(ValueError, match="duplicate"):
        hll_registers_grid(d, ["g"], "v", (8, 8))
    with _pytest.raises(ValueError, match="p must be"):
        hll_registers_grid(d, ["g"], "v", (8, 6))
