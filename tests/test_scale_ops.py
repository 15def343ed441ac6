"""Scale-mechanics tests: salted joins preserve semantics; compaction,
set joins and global ranks stay exact."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_salted_join_equals_plain_join(spark):
    from week4_musemotion_spark.operators.skew import salted_join

    c = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
    n = spark.read.parquet(f"{SF_SMOKE}/nation.parquet").withColumnRenamed(
        "n_nationkey", "c_nationkey"
    )
    plain = c.join(n, "c_nationkey").select("c_custkey", "n_name")
    salted = salted_join(c, n, on="c_nationkey").select("c_custkey", "n_name")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_left_join_keeps_unmatched(spark):
    from week4_musemotion_spark.operators.skew import salted_join

    c = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
    n = (
        spark.read.parquet(f"{SF_SMOKE}/nation.parquet")
        .filter(F.col("n_regionkey") < 2)
        .withColumnRenamed("n_nationkey", "c_nationkey")
    )
    plain = c.join(n, "c_nationkey", "left").select("c_custkey", "n_name")
    salted = salted_join(c, n, on="c_nationkey", how="left").select("c_custkey", "n_name")
    assert sorted(map(tuple, plain.collect()), key=str) == sorted(
        map(tuple, salted.collect()), key=str
    )


def test_salted_join_rejects_outer(spark):
    import pytest

    from week4_musemotion_spark.operators.skew import salted_join

    c = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
    n = spark.read.parquet(f"{SF_SMOKE}/nation.parquet").withColumnRenamed(
        "n_nationkey", "c_nationkey"
    )
    with pytest.raises(ValueError, match="inner/left"):
        salted_join(c, n, on="c_nationkey", how="full")


def test_last_wins_accepts_string_order_cols(spark):
    from week4_musemotion_spark.operators.upsert import last_wins

    df = spark.createDataFrame(
        [("a", 1, "old"), ("a", 2, "new"), ("b", 5, "only")], ["k", "ver", "val"]
    )
    got = {r.k: r.val for r in last_wins(df, ["k"], ["ver"]).collect()}
    assert got == {"a": "new", "b": "only"}


def test_knn_handles_zero_norm_and_ties(spark):
    from pyspark.sql import Row

    from week4_musemotion_spark.operators.similarity import cosine_pairs, knn_brute_force

    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0]),       # query
        Row(vec_id=1, embedding=[2.0, 0.0]),       # cos 1 (tie)
        Row(vec_id=2, embedding=[3.0, 0.0]),       # cos 1 (tie)
        Row(vec_id=3, embedding=[4.0, 0.0]),       # cos 1 (tie)
        Row(vec_id=4, embedding=[0.0, 0.0]),       # zero norm: must not rank
        Row(vec_id=5, embedding=[0.0, 1.0]),       # cos 0
    ]
    emb = spark.createDataFrame(rows)
    got = knn_brute_force(emb, emb.filter("vec_id = 0"), k=3).collect()
    # ties broken by neighbor_id asc; zero vector excluded entirely
    assert [(r.neighbor_id, r.rank) for r in got] == [(1, 1), (2, 2), (3, 3)]
    pairs = cosine_pairs(emb, threshold=0.5).collect()
    assert all(4 not in (r.vec_id_a, r.vec_id_b) for r in pairs)


def test_compact_parquet_merges_small_files(spark, tmp_path):
    """64 micro-files compact to a handful without a shuffle, with
    identical data and a crash-safe swap (no ._old left behind)."""
    import os

    from week4_musemotion_spark.operators.layout import compact_parquet

    path = str(tmp_path / "frag")
    df = spark.range(0, 10_000).withColumn("v", F.col("id") * 2)
    df.repartition(64).write.parquet(path)
    n_before = sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
    assert n_before == 64

    n_after = compact_parquet(spark, path, target_file_bytes=1 << 20)
    assert n_after < 8
    assert not os.path.exists(path + "._old") and not os.path.exists(path + "._staging")
    got = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert got == [(i, i * 2) for i in range(10_000)]


def test_jaccard_self_join_exact_recall(spark):
    """Prefix-filtered set-similarity join must equal the brute-force
    all-pairs Jaccard at the threshold — including boundary pairs
    sitting exactly AT tau."""
    from week4_musemotion_spark.operators.setjoin import jaccard_self_join

    base = ["a", "b", "c", "d", "e"]
    rows = []
    for i in range(30):
        toks = sorted(set(base[: 2 + i % 4] + [f"x{i}", f"x{i+1}"]))
        rows.append((i, toks))
    # planted boundary pair: |∩|=4, |∪|=5 → jaccard exactly 0.8
    rows.append((100, ["p", "q", "r", "s"]))
    rows.append((101, ["p", "q", "r", "s", "t"]))
    df = spark.createDataFrame(rows, "id long, toks array<string>")

    def jac(a, b):
        a, b = set(a), set(b)
        return len(a & b) / len(a | b)

    expect = {
        (r1[0], r2[0])
        for i, r1 in enumerate(rows)
        for r2 in rows[i + 1 :]
        if jac(r1[1], r2[1]) >= 0.8
    }
    expect = {(min(a, b), max(a, b)) for a, b in expect}
    got = {
        (r.id_1, r.id_2)
        for r in jaccard_self_join(df, "id", "toks", tau_e4=8000).collect()
    }
    assert got == expect
    assert (100, 101) in got  # the exact-boundary pair survived


def test_global_ntile_matches_window_ntile(spark):
    """The distributed NTILE (range repartition + offset join) must be
    bit-identical to the single-partition window NTILE for every
    remainder case, including k > n."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from week4_musemotion_spark.operators.ranks import global_ntile

    for n, k in [(10, 4), (12, 4), (3, 7), (100, 10), (101, 10)]:
        df = spark.range(n).select(
            (F.col("id") * 37 % n).alias("v"), F.col("id").alias("key")
        )
        want = {
            (r.v, r.key, r.t)
            for r in df.withColumn(
                "t", F.ntile(k).over(Window.orderBy("v", "key"))
            ).collect()
        }
        got = {
            (r.v, r.key, r.t)
            for r in global_ntile(df, ["v", "key"], k, "t", num_partitions=5).collect()
        }
        assert got == want, f"n={n} k={k}"


def test_global_index_is_dense_and_order_correct(spark):
    import pyspark.sql.functions as F

    from week4_musemotion_spark.operators.ranks import with_global_index

    df = spark.range(1000).select((F.col("id") * 7919 % 1000).alias("v"))
    rows = with_global_index(df, ["v"], "i", num_partitions=7).orderBy("i").collect()
    assert [r.i for r in rows] == list(range(1000))
    assert [r.v for r in rows] == sorted(r.v for r in rows)


def test_containment_join_exact_recall(spark):
    """Asymmetric prefix filtering must recover every ordered pair
    with |A∩B| >= tau*|A| — including subset pairs at exactly tau and
    asymmetric pairs whose reverse direction does NOT qualify."""
    from week4_musemotion_spark.operators.setjoin import containment_join

    rows = [
        (0, ["a", "b", "c", "d", "e", "f", "g", "h", "i", "j"]),  # long doc
        (1, ["a", "b", "c", "d", "e"]),                            # subset of 0
        (2, ["a", "b", "c", "d", "x"]),                            # 4/5 = 0.8 in 0
        (3, ["p", "q"]),                                           # unrelated
        (4, ["a", "b", "c", "d", "e", "p", "q", "r", "s", "t"]),   # half of 0
    ]
    df = spark.createDataFrame(rows, "id long, toks array<string>")

    def cont(a, b):
        a, b = set(a), set(b)
        return len(a & b) / len(a)

    expect = {
        (ra[0], rb[0])
        for ra in rows
        for rb in rows
        if ra[0] != rb[0] and cont(ra[1], rb[1]) >= 0.8
    }
    got = {
        (r.id_a, r.id_b)
        for r in containment_join(df, "id", "toks", tau_e4=8000).collect()
    }
    assert got == expect
    assert (1, 0) in got and (0, 1) not in got  # asymmetry preserved
