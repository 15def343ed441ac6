"""Property-based tests (hypothesis) for the cleaning and catalog
layers — SURVEY.md §5 item 3: dirty data must never error, only
degrade to NULL."""

from __future__ import annotations

from hypothesis import given
from hypothesis import strategies as st

# driver-side pure functions: full hypothesis speed
from week4_musemotion_spark.catalog import fuzzy_map_columns, normalize_name

text = st.text(max_size=30)


@given(text)
def test_normalize_name_idempotent(s):
    assert normalize_name(normalize_name(s)) == normalize_name(s)


@given(text)
def test_normalize_name_shape(s):
    out = normalize_name(s)
    assert out == out.lower().strip("_")
    assert " " not in out


@given(st.lists(st.text(min_size=1, max_size=15), max_size=8, unique=True))
def test_fuzzy_map_is_injective(actual):
    expected = ["vin", "city", "year", "make"]
    mapping = fuzzy_map_columns(actual, expected)
    assert set(mapping) <= set(expected)
    vals = list(mapping.values())
    assert len(vals) == len(set(vals)), "two expected columns claimed the same source"


# Spark-side: one job over a hypothesis-generated batch (per-example
# Spark jobs would be prohibitively slow)
DIRTY = [
    "nan", "None", "", "  ", " 42 ", "9" * 30, "-", "+", "1e3", "0x10",
    "POINT (1 2)", "POINT(-122.3 47.6)", "POINT ( )", ")", "null", "NaN",
    "\t", " a b ", "-7", "2.5",
]


def test_cleaning_battery_never_errors(spark):
    from week4_musemotion_spark.functions.cleaning import (
        extract_point_latlon,
        safe_cast,
        trim_nullify,
    )

    df = spark.createDataFrame([(s,) for s in DIRTY], ["raw"])
    lat, lon = extract_point_latlon("raw")
    rows = df.select(
        trim_nullify("raw").alias("t"),
        safe_cast("raw", "long").alias("i"),
        safe_cast("raw", "double").alias("d"),
        lat.alias("lat"),
        lon.alias("lon"),
    ).collect()
    assert len(rows) == len(DIRTY)
    got = {s: r for s, r in zip(DIRTY, rows)}
    assert got[" 42 "].i == 42
    assert got["-7"].i == -7
    assert got["2.5"].d == 2.5
    assert got["9" * 30].i is None  # overflow → NULL
    assert got["POINT (1 2)"].lat == 2.0 and got["POINT (1 2)"].lon == 1.0
    assert got["POINT ( )"].lat is None
    for s in ("nan", "None", "", "  ", "\t"):
        assert got[s].t is None, s


def test_simhash_banding_equals_brute_force_random(spark):
    """Pigeonhole banding must recover EXACTLY the brute-force
    Hamming-pair set on randomized documents (one Spark job; numpy
    RNG seeded for reproducibility)."""
    import numpy as np

    from week4_musemotion_spark.operators.dedup import simhash_pairs, simhash_signatures

    rng = np.random.default_rng(7)
    vocab = [f"w{i}" for i in range(30)]
    docs = []
    for i in range(80):
        k = rng.integers(3, 12)
        docs.append((i, " ".join(rng.choice(vocab, size=k))))
    # plant near-identical pairs (small edits → small Hamming distance)
    for i in range(80, 90):
        base = docs[i - 80][1]
        docs.append((i, base + " extra"))
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    sig = {r.doc_id: r.simhash for r in simhash_signatures(df).collect()}
    brute = {
        (a, b)
        for a in sig
        for b in sig
        if a < b and bin(sig[a] ^ sig[b]).count("1") <= 3
    }
    banded = {(r.doc_a, r.doc_b) for r in simhash_pairs(df, 3).collect()}
    assert banded == brute
    assert brute, "fixture produced no close pairs — test is vacuous"


def test_blocked_cosine_pairs_equals_numpy_random(spark):
    """The distributed block-nested-loop must agree with a direct
    numpy all-pairs on random vectors, across a multi-block grid."""
    import numpy as np

    from week4_musemotion_spark.operators.similarity import cosine_pairs

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(120, 16)).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    m = vecs.astype(np.float64)
    norm = np.sqrt((m * m).sum(axis=1))
    cos = (m @ m.T) / (norm[:, None] * norm[None, :])
    expect = {
        (a, b)
        for a in range(120)
        for b in range(a + 1, 120)
        if cos[a, b] >= 0.5
    }
    got = {
        (r.vec_id_a, r.vec_id_b)
        for r in cosine_pairs(df, 0.5, rows_per_block=32).collect()  # 4 blocks
    }
    assert got == expect
    assert expect, "fixture produced no qualifying pairs — test is vacuous"


def test_fuzzy_join_edit1_full_recall_all_edit_kinds(spark):
    """Deletion-neighborhood blocking must recover EVERY pair at edit
    distance <= 1 — deletions, insertions, substitutions, and exact
    equals — against a brute-force python levenshtein."""
    from week4_musemotion_spark.operators.fuzzy import fuzzy_join

    clean = [(i, f"record-{i:04d}-tail") for i in range(40)]
    dirty = []
    for i, s in clean:
        if i % 4 == 0:
            t = s[:5] + s[6:]            # deletion
        elif i % 4 == 1:
            t = s[:5] + "X" + s[5:]      # insertion
        elif i % 4 == 2:
            t = s[:5] + "X" + s[6:]      # substitution
        else:
            t = s                         # exact
        dirty.append((i + 1000, t))

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[-1]

    expect = {
        (di, ci)
        for di, dt in dirty
        for ci, cs in clean
        if lev(dt, cs) <= 1
    }
    cdf = spark.createDataFrame(clean, "cid long, cname string")
    ddf = spark.createDataFrame(dirty, "did long, dname string")
    got = {
        (r.did, r.cid)
        for r in fuzzy_join(cdf, ddf, "cname", "dname", k=1).collect()
    }
    assert got == expect
    assert len(expect) >= 40  # at least the planted pairs


def test_fuzzy_join_candidates_linear_on_templated_names(spark):
    """Regression guard for the round-2 degenerate-blocking defect:
    on templated keys (TPC-H ``Customer#000000042`` — all entropy in
    the numeric suffix, a shared constant prefix) the blocked
    candidate count must stay NEAR-LINEAR in n, not n^2.  PassJoin
    half-segment blocking collapsed here (1 distinct seg-1 key over
    15k rows -> disguised cross join); deletion-neighborhood keys
    always contain the high-entropy suffix so they cannot."""
    from week4_musemotion_spark.operators.fuzzy import _candidate_pairs

    n = 600
    clean = [(i, f"Customer#{i:09d}") for i in range(n)]
    dirty = []
    for i, s in clean:
        if i % 3 == 0:
            p = i % 17 + 1
            dirty.append((i + 1_000_000, s[: p - 1] + s[p:]))  # one deletion
    cdf = spark.createDataFrame(clean, "cid long, cname string")
    ddf = spark.createDataFrame(dirty, "did long, dname string")
    cands = _candidate_pairs(
        cdf, ddf, "cname", "dname", 1, ["did", "cid"]
    ).count()
    # each dirty row should propose O(1) clean rows; allow a generous
    # constant (templated ids like 000000100/000000110 can collide on
    # a deletion variant) but nothing near len(dirty) * n.
    assert cands <= 8 * len(dirty), (
        f"blocking degenerated: {cands} candidates for {len(dirty)} dirty "
        f"x {n} clean rows"
    )


def test_fuzzy_join_k2_full_recall_all_edit_pairs(spark):
    """Depth-2 deletion-neighborhood blocking (FastSS) must recover
    EVERY pair at edit distance <= 2 — all 2-combinations of
    delete/insert/substitute — against a brute-force levenshtein."""
    from week4_musemotion_spark.operators.fuzzy import fuzzy_join

    clean = [(i, f"record-{i:04d}-tail") for i in range(36)]
    dirty = []
    for i, s in clean:
        m = i % 6
        if m == 0:
            t = s[:4] + s[6:]                 # two deletions
        elif m == 1:
            t = s[:5] + "XY" + s[5:]          # two insertions
        elif m == 2:
            t = s[:5] + "XY" + s[7:]          # two substitutions
        elif m == 3:
            t = s[:4] + s[5:8] + "Z" + s[8:]  # delete + insert
        elif m == 4:
            t = s[:5] + "X" + s[6:]           # one substitution
        else:
            t = s                              # exact
        dirty.append((i + 1000, t))

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[-1]

    expect = {
        (di, ci, lev(dt, cs))
        for di, dt in dirty
        for ci, cs in clean
        if lev(dt, cs) <= 2
    }
    cdf = spark.createDataFrame(clean, "cid long, cname string")
    ddf = spark.createDataFrame(dirty, "did long, dname string")
    got = {
        (r.did, r.cid, r.dist)
        for r in fuzzy_join(cdf, ddf, "cname", "dname", k=2).collect()
    }
    assert got == expect
    assert len(expect) >= 36  # at least the planted pairs


def test_fuzzy_join_rejects_unsupported_radius(spark):
    """Only the depth-1 and depth-2 deletion neighborhoods exist; any
    other radius raises before any plan is built."""
    import pytest

    from week4_musemotion_spark.operators.fuzzy import fuzzy_join

    cdf = spark.createDataFrame([(1, "abc")], "cid long, cname string")
    ddf = spark.createDataFrame([(2, "abd")], "did long, dname string")
    for k in (0, 3):
        with pytest.raises(ValueError, match="k must be 1 or 2"):
            fuzzy_join(cdf, ddf, "cname", "dname", k=k)


def test_exact_int_div_round_matches_fraction_reference(spark):
    """int_div_round / ratio_e4 must equal round-half-away-from-zero
    of the true rational, checked against Python Fractions over a
    deterministic batch sweeping remainder edge cases (exact halves,
    q=1, p=0, large p near 2^40)."""
    import random
    from fractions import Fraction

    from pyspark.sql import functions as F

    from week4_musemotion_spark.functions.exact import int_div_round, ratio_e4

    rng = random.Random(42)
    cases = [(0, 1), (1, 2), (3, 2), (5, 2), (7, 2), (1, 1), (10**12 + 7, 3)]
    cases += [(rng.randrange(0, 1 << 40), rng.randrange(1, 1 << 20)) for _ in range(500)]
    # exact-half constructions: p = k*q + q/2 for even q
    for _ in range(100):
        q = rng.randrange(1, 1 << 16) * 2
        cases.append((rng.randrange(0, 1 << 20) * q + q // 2, q))

    df = spark.createDataFrame(cases, "p long, q long")
    got = df.select(
        "p", "q",
        int_div_round(F.col("p"), F.col("q")).alias("d"),
        ratio_e4(F.col("p"), F.col("q")).alias("r"),
    ).collect()

    def half_away(fr: Fraction) -> int:
        fl = fr.numerator // fr.denominator
        rem = fr - fl
        return fl + (1 if rem >= Fraction(1, 2) else 0)

    for row in got:
        fr = Fraction(row["p"], row["q"])
        assert row["d"] == half_away(fr), (row["p"], row["q"])
        assert row["r"] == half_away(fr * 10_000), (row["p"], row["q"])


def test_exact_avg_money_matches_fraction_reference(spark):
    """avg_money (grouped) must equal the Fraction-exact rounded
    mean of cents, including nulls excluded from the denominator."""
    import random
    from fractions import Fraction

    from pyspark.sql import functions as F

    from week4_musemotion_spark.functions.exact import avg_money

    rng = random.Random(7)
    rows = []
    for g in range(40):
        for _ in range(rng.randrange(1, 12)):
            v = None if rng.random() < 0.15 else rng.randrange(0, 10**7) / 100.0
            rows.append((g, v))
    df = spark.createDataFrame(rows, "g int, price double")
    got = {
        r["g"]: r["avg_cents"]
        for r in df.groupBy("g").agg(avg_money("price").alias("avg_cents")).collect()
    }

    def half_away(fr: Fraction) -> int:
        sign = -1 if fr < 0 else 1
        fr = abs(fr)
        fl = fr.numerator // fr.denominator
        return sign * (fl + (1 if fr - fl >= Fraction(1, 2) else 0))

    for g in {r[0] for r in rows}:
        cents = [round(v * 100) for gg, v in rows if gg == g and v is not None]
        expected = half_away(Fraction(sum(cents), len(cents))) if cents else None
        assert got[g] == expected, g


def test_exact_cents_roundtrip_across_magnitudes(spark):
    """cents() premise ("×100 of 2-dp data lands within 1e-10 of an
    integer") must hold to 10^13 dollars: for any integer cent amount
    k, storing k/100 as a double and re-extracting cents returns k
    exactly.  Deterministic sweep over magnitude decades plus the
    half-cent-adjacent values that would break a naive round."""
    import random

    from pyspark.sql import functions as F

    from week4_musemotion_spark.functions.exact import cents

    rng = random.Random(99)
    ks = [0, 1, 49, 50, 51, 99, 100, 10**15 - 1]
    for mag in range(2, 16):
        ks += [rng.randrange(10 ** (mag - 1), 10**mag) for _ in range(40)]
    df = spark.createDataFrame([(k, k / 100.0) for k in ks], "k long, price double")
    got = df.select("k", cents("price").alias("c")).collect()
    for r in got:
        assert r["c"] == r["k"], r


def test_exact_int_div_trunc_matches_floor_division(spark):
    """int_div_trunc must equal Python's // (floor division, same as
    truncation for non-negative operands) for ANY long magnitude —
    including far past 2^53, where the old long->double formulation
    silently rounded across integer boundaries."""
    import random

    from pyspark.sql import functions as F

    from week4_musemotion_spark.functions.exact import int_div_trunc

    rng = random.Random(7)
    cases = [(0, 1), (1, 1), (1, 2), ((1 << 62) - 1, 3), ((1 << 62) - 1, (1 << 31) - 1)]
    # the 2^53 danger zone: p where the double quotient rounds wrong
    cases += [(rng.randrange(1 << 53, 1 << 62), rng.randrange(1, 1 << 30)) for _ in range(300)]
    cases += [(rng.randrange(0, 1 << 40), rng.randrange(1, 1 << 20)) for _ in range(200)]
    df = spark.createDataFrame(cases, "p long, q long")
    got = df.select("p", "q", int_div_trunc(F.col("p"), F.col("q")).alias("d")).collect()
    for row in got:
        assert row["d"] == row["p"] // row["q"], (row["p"], row["q"])
