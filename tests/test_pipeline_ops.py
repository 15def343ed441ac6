"""Profiling, upserts, sources and quality gates."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_profile_detects_nulls_and_ranges(spark):
    from week4_musemotion_spark.operators.profiling import profile

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, None, -3.0), (None, "a", None)], ["i", "s", "d"]
    )
    got = {r.column: r for r in profile(df).collect()}
    assert got["i"].n_nulls == 1 and got["i"].n_distinct == 2
    assert got["s"].n_nulls == 1 and got["s"].n_distinct == 1
    assert got["s"].min_value is None  # non-numeric: no range
    assert got["d"].min_value == -3.0 and got["d"].max_value == 1.5


def test_profile_decimal_and_tinyint_ranges(spark):
    from pyspark.sql import functions as F

    from week4_musemotion_spark.operators.profiling import profile

    df = spark.range(3).select(
        F.col("id").cast("decimal(10,2)").alias("dec"),
        F.col("id").cast("tinyint").alias("tiny"),
    )
    got = {r.column: r for r in profile(df).collect()}
    assert got["dec"].min_value == 0.0 and got["dec"].max_value == 2.0
    assert got["tiny"].min_value == 0.0 and got["tiny"].max_value == 2.0


def test_upsert_recovers_from_orphaned_old_snapshot(spark, tmp_path):
    import os

    from week4_musemotion_spark.operators.upsert import upsert_parquet_snapshot

    path = str(tmp_path / "snap")
    upsert_parquet_snapshot(spark, path, spark.createDataFrame([("a", 1)], ["k", "v"]), ["k"])
    # simulate a crash after the live snapshot was renamed aside but
    # before staging was promoted
    os.rename(path, path + "._old")
    upsert_parquet_snapshot(spark, path, spark.createDataFrame([("b", 2)], ["k", "v"]), ["k"])
    got = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert got == [("a", 1), ("b", 2)]  # pre-crash data recovered, update merged
    assert not os.path.exists(path + "._old")


def test_sql_inserts_mysql_backslash_escapes(spark, tmp_path):
    from week4_musemotion_spark.sources.sql_inserts import read_sql_inserts

    p = tmp_path / "my.sql"
    p.write_text(
        "INSERT INTO t (a, b) VALUES ('O\\'Brien', 'back\\\\slash'), ('plain', 'x');\n"
    )
    rows = sorted(map(tuple, read_sql_inserts(spark, str(p), canonicalize=False).collect()))
    assert rows == [("O'Brien", "back\\slash"), ("plain", "x")]


def test_orc_roundtrip_matches_parquet(spark, tmp_path):
    """Format breadth: the engine's tables survive an ORC round-trip
    bit-identically (ORC is the other columnar format Spark ships
    built-in — no extra packages)."""
    from pyspark.sql import functions as F

    from week4_musemotion_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    src = load_table(spark, SF_SMOKE, "orders")
    p = str(tmp_path / "orders_orc")
    src.write.format("orc").save(p)
    back = spark.read.format("orc").load(p)
    assert back.schema == src.schema
    a = sorted(map(tuple, src.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b
    # predicate pushdown works on ORC scans too
    plan_df = back.filter(F.col("o_orderkey") == 7)
    from week4_musemotion_spark.plans.audit import plan_string

    assert "orc" in plan_string(plan_df, "simple").lower()


def test_dq_violations_counts_on_dirty_fixture(spark, tmp_path):
    """Each audit rule must count exactly its planted violations."""
    import datetime as dt

    d = str(tmp_path)
    spark.createDataFrame(
        [(1, 10, 1, 1, 5.0, 1.0, 0.0, 0.0, "N", "O", None),
         (1, 11, 1, 2, -2.0, 1.0, 0.0, 0.0, "N", "O", None),   # nonpositive qty
         (99, 12, 1, 1, 3.0, 1.0, 0.0, 0.0, "N", "O", None)],  # orphan order 99
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
        "l_returnflag string, l_linestatus string, l_shipdate timestamp",
    ).write.parquet(f"{d}/lineitem.parquet")
    spark.createDataFrame(
        [(1, 1, "O", 10.0, dt.datetime(1995, 1, 1), "1-URGENT"),
         (2, 1, "O", 10.0, dt.datetime(1999, 6, 1), "1-URGENT")],  # future date
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, "
        "o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(f"{d}/orders.parquet")
    spark.createDataFrame(
        [(1, "hello", "en", "web", 5), (2, "   ", "en", "web", 3), (3, None, "en", "web", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{d}/documents.parquet")
    spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 1, "view", 0.0, "{}"),
         (1, dt.datetime(2024, 1, 2), 2, "view", 0.0, "{}"),   # dup event_id
         (2, dt.datetime(2024, 1, 3), 1, "click", 0.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(f"{d}/events.parquet")

    from week4_musemotion_spark.queries import REGISTRY

    got = {
        r["rule"]: (r["n_violations"], r["n_checked"])
        for r in REGISTRY["q_dq_violations"].builder(spark, d).collect()
    }
    assert got == {
        "orphan_lineitem": (1, 3),
        "nonpositive_quantity": (1, 3),
        "blank_document_text": (2, 3),
        "duplicate_event_id": (1, 3),
        "future_orderdate": (1, 2),
    }


def test_apply_cdc_latest_change_wins_and_deletes(spark):
    """Multi-change-per-key ordering: within a key, the highest seq
    wins; a winning delete removes the key even if an earlier upsert
    exists; a delete superseded by a later upsert keeps the row."""
    from week4_musemotion_spark.operators.upsert import apply_cdc

    snap = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    chg = spark.createDataFrame(
        [
            (1, "a2", "U", 1), (1, None, "D", 2),   # delete wins (seq 2)
            (2, None, "D", 1), (2, "b2", "U", 2),   # upsert wins (seq 2)
            (4, "d", "U", 1),                        # insert of absent key
            (5, None, "D", 1),                       # delete of absent key: no-op
        ],
        "k long, v string, op string, seq long",
    )
    got = {
        r["k"]: r["v"]
        for r in apply_cdc(snap, chg, ["k"], order_by=["seq"]).drop("seq").collect()
    }
    assert got == {2: "b2", 3: "c", 4: "d"}
