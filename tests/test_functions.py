"""Unit tests for the scalar/vector/text/hash function layer —
dirty-data property tests per SURVEY.md §5 item 3."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F


def test_trim_nullify_dirty_values(spark):
    from week4_musemotion_spark.functions.cleaning import trim_nullify

    df = spark.createDataFrame(
        [("  x  ",), ("nan",), ("None",), ("",), ("   ",), (None,), (" keep me ",)],
        ["raw"],
    )
    got = [r[0] for r in df.select(trim_nullify("raw")).collect()]
    assert got == ["x", None, None, None, None, None, "keep me"]


def test_trim_nullify_idempotent(spark):
    from week4_musemotion_spark.functions.cleaning import trim_nullify

    df = spark.createDataFrame([("  a ",), ("nan",), (None,)], ["raw"])
    once = df.select(trim_nullify("raw").alias("c"))
    twice = once.select(trim_nullify("c").alias("c"))
    assert once.collect() == twice.collect()


@pytest.mark.parametrize(
    "raw, want",
    [
        ("\x0b 42\x0c", "42"),  # every ASCII whitespace Java's \s matches
        ("\xa0x\xa0", "\xa0x\xa0"),  # non-ASCII spaces are kept (pandas strips them)
        ("x\u3000", "x\u3000"),
        ("a \u2028", "a \u2028"),  # a `^\s+|\s+$` regex strips the space here
        (" \t\r\n", ""),
        (None, None),
    ],
    ids=["ascii_controls", "nbsp", "ideographic_space", "final_line_separator", "whitespace_only", "null"],
)
def test_strip_whitespace_semantics(spark, raw, want):
    from week4_musemotion_spark.functions.cleaning import strip_whitespace

    df = spark.createDataFrame([(raw,)], "raw string")
    assert df.select(strip_whitespace("raw")).first()[0] == want


def test_safe_cast_never_throws(spark):
    from week4_musemotion_spark.functions.cleaning import safe_cast

    df = spark.createDataFrame(
        [("42",), (" 7 ",), ("abc",), ("",), (None,), ("2.9",), ("9" * 30,)],
        ["raw"],
    )
    got = [r[0] for r in df.select(safe_cast("raw", "long")).collect()]
    assert got[:2] == [42, 7]
    assert got[2] is None and got[3] is None and got[4] is None
    assert got[6] is None  # overflow → null, not error


def test_extract_point_latlon_and_swap(spark):
    from week4_musemotion_spark.functions.cleaning import extract_point_latlon

    df = spark.createDataFrame(
        [
            ("POINT (-122.30253 47.72656)",),  # lon lat (WKT order)
            ("POINT(1 2)",),
            ("garbage",),
            ("",),
            (None,),
        ],
        ["location"],
    )
    lat, lon = extract_point_latlon("location")
    got = df.select(lat.alias("lat"), lon.alias("lon")).collect()
    # group 2 is latitude, group 1 longitude (SURVEY.md §7.4 item 5)
    assert got[0]["lat"] == 47.72656 and got[0]["lon"] == -122.30253
    assert got[1]["lat"] == 2.0 and got[1]["lon"] == 1.0
    assert all(r["lat"] is None and r["lon"] is None for r in got[2:])


def test_stable_hash64_matches_python_and_duckdb(spark):
    import duckdb

    from week4_musemotion_spark.functions.hashing import stable_hash64, stable_hash64_sql

    values = ["hello", "a b c", "", "über"]
    df = spark.createDataFrame([(v,) for v in values], ["s"])
    got = [r[0] for r in df.select(stable_hash64("s")).collect()]
    expected = [int(hashlib.md5(v.encode()).hexdigest()[:15], 16) for v in values]
    assert got == expected
    duck = [
        duckdb.sql(f"SELECT {stable_hash64_sql('?')}", params=[v]).fetchone()[0] for v in values
    ]
    assert duck == expected
    # seeded variant differs from unseeded and is itself deterministic
    seeded = [r[0] for r in df.select(stable_hash64("s", seed=7)).collect()]
    assert seeded != got
    assert all(0 <= h < 2**60 for h in got + seeded)


def test_shingles(spark):
    from week4_musemotion_spark.functions.text import shingles, tokens

    df = spark.createDataFrame([("a b c d",), ("a b",), ("  x   y  z ",)], ["text"])
    got = [r[0] for r in df.select(shingles(tokens("text"), 3)).collect()]
    assert got[0] == ["a b c", "b c d"]
    assert got[1] == []  # shorter than n
    assert got[2] == ["x y z"]  # whitespace-robust tokenization


def test_cosine_similarity(spark):
    from week4_musemotion_spark.functions.vector import cosine_similarity, l2_norm

    df = spark.createDataFrame(
        [
            Row(a=[1.0, 0.0], b=[0.0, 1.0]),
            Row(a=[1.0, 2.0], b=[2.0, 4.0]),
            Row(a=[0.0, 0.0], b=[1.0, 1.0]),
        ]
    )
    got = df.select(cosine_similarity("a", "b").alias("c"), l2_norm("a").alias("n")).collect()
    assert abs(got[0]["c"] - 0.0) < 1e-12
    assert abs(got[1]["c"] - 1.0) < 1e-12
    assert got[2]["c"] is None  # zero-norm → NULL, not NaN
    assert math.isclose(got[1]["n"], math.sqrt(5))


def test_epoch_micros_encoding_equivalence(spark):
    """The same instants, delivered as epoch-ns BIGINT (round-1
    layout) and as TIMESTAMP_NTZ (current layout), must produce
    identical epoch_micros — the invariant that makes every temporal
    query layout-agnostic."""
    from week4_musemotion_spark.functions.eventtime import epoch_micros

    micros = [0, 1, 999_999, 1_700_000_000_000_000, 1_700_000_000_123_456]
    as_long = spark.createDataFrame(
        [(m * 1000,) for m in micros], "ts long"  # nanos
    )
    as_ntz = spark.sql(
        "SELECT timestamp_ntz '1970-01-01 00:00:00' + make_interval(0,0,0,0,0,0, ts/1e6) AS ts "
        "FROM VALUES " + ", ".join(f"({m})" for m in micros) + " t(ts)"
    )
    got_long = [r[0] for r in as_long.select(epoch_micros(as_long)).collect()]
    got_ntz = sorted(r[0] for r in as_ntz.select(epoch_micros(as_ntz)).collect())
    assert got_long == micros
    assert got_ntz == micros
