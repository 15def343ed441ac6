"""S5 source: the reference's SQL dump must parse into the same
dataset its CSV carries (two serializations, one table)."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_dump_parses_and_matches_csv(spark, reference_dump, reference_csv):
    from week4_musemotion_spark.operators.etl import clean_musemotion
    from week4_musemotion_spark.sources.csv import read_headerless_csv
    from week4_musemotion_spark.sources.sql_inserts import read_sql_inserts

    dump = read_sql_inserts(spark, reference_dump)
    # the reference's own serializations disagree by one record: the
    # CSV carries 1,499 rows, the SQL dump only 1,498 (VIN WA1E2AFY8R
    # appears twice in the CSV, zero times in the dump) — verified
    # against the raw files, not a parser artifact
    assert dump.count() == 1498
    # canonical naming applied
    for c in ("vin", "eligibility", "electric_range", "vehicle_id", "location", "utility"):
        assert c in dump.columns

    # same dataset as the CSV up to that one known row
    csv = read_headerless_csv(spark, reference_csv)
    dump_vins = {tuple(r) for r in dump.groupBy("vin").count().collect()}
    csv_vins = {tuple(r) for r in csv.groupBy("vin").count().collect()}
    assert dump_vins - csv_vins == set()
    assert {v for v, _ in csv_vins - dump_vins} == {"WA1E2AFY8R"}

    # the dump feeds the same cleaning pipeline (two sources, one ETL)
    cleaned = clean_musemotion(dump)
    top = cleaned.groupBy("make").count().orderBy(F.desc("count")).first()
    assert top["make"] == "TESLA" and top["count"] == 605


def test_quoted_comma_paren_and_null_tuples(spark):
    from week4_musemotion_spark.sources.sql_inserts import read_sql_inserts

    p = "/tmp/_ins_test.sql"
    with open(p, "w") as f:
        f.write(
            "CREATE TABLE t (a VARCHAR, b VARCHAR, c VARCHAR);\n"
            "INSERT INTO `t` (`a`, `b`, `c`) VALUES\n"
            "('x, y', 'it''s (fine)', NULL),\n"
            "('', 'POINT (1 2)', '3');\n"
        )
    rows = read_sql_inserts(spark, p, canonicalize=False).collect()
    assert [tuple(r) for r in rows] == [("x, y", "it's (fine)", None), ("", "POINT (1 2)", "3")]


def test_cloud_path_builders():
    from week4_musemotion_spark.sources.cloud import abfss_path, s3a_path

    assert (
        abfss_path("raw", "evdata", "/musemotion/2025/*.csv")
        == "abfss://raw@evdata.dfs.core.windows.net/musemotion/2025/*.csv"
    )
    assert s3a_path("lake", "ev/part-*.parquet") == "s3a://lake/ev/part-*.parquet"
