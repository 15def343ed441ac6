"""The one commit protocol (``sinks.publish``) at each crash point, and
the one fixture cache (``sinks.cached_fixture``) keyed by input and
code."""

from __future__ import annotations

import os

import pytest


def _write(text: str):
    """A ``write_fn`` that stages a one-file directory."""

    def fn(stage: str) -> None:
        os.makedirs(stage)
        with open(os.path.join(stage, "v"), "w") as fh:
            fh.write(text)

    return fn


def _read(path: str) -> str:
    with open(os.path.join(path, "v")) as fh:
        return fh.read()


def _siblings(base: str) -> list[str]:
    parent, name = os.path.split(base)
    return sorted(n for n in os.listdir(parent) if n != name)


def test_replace_swaps_and_leaves_nothing_behind(tmp_path):
    from week4_musemotion_spark.sources.sinks import publish

    base = str(tmp_path / "live")
    publish(base, _write("v1"), mode="replace")
    publish(base, _write("v2"), mode="replace")
    assert _read(base) == "v2"
    assert _siblings(base) == []


def test_replace_sweeps_stale_staging(tmp_path):
    from week4_musemotion_spark.sources.sinks import publish

    base = str(tmp_path / "live")
    publish(base, _write("v1"), mode="replace")
    _write("torn")(base + "._staging")  # a crash mid-write
    publish(base, _write("v2"), mode="replace")
    assert _read(base) == "v2"
    assert _siblings(base) == []


def test_replace_restores_old_when_live_is_missing(tmp_path):
    # crash between rename(base, old) and rename(staging, base): the
    # old copy is the only one, and the next write must see it
    from week4_musemotion_spark.sources.sinks import publish

    base = str(tmp_path / "live")
    publish(base, _write("v1"), mode="replace")
    os.rename(base, base + "._old")
    seen = []

    def write(stage: str) -> None:
        seen.append(_read(base))
        _write(seen[0] + "+v2")(stage)

    publish(base, write, mode="replace")
    assert seen == ["v1"]
    assert _read(base) == "v1+v2"
    assert _siblings(base) == []


def test_replace_drops_old_beside_live(tmp_path):
    # crash after the swap, before cleanup: base is the new data and
    # ._old the superseded copy
    from week4_musemotion_spark.sources.sinks import publish

    base = str(tmp_path / "live")
    publish(base, _write("v2"), mode="replace")
    _write("v1")(base + "._old")
    publish(base, _write("v3"), mode="replace")
    assert _read(base) == "v3"
    assert _siblings(base) == []


def test_replace_write_failure_keeps_live_data(tmp_path):
    from week4_musemotion_spark.sources.sinks import publish

    base = str(tmp_path / "live")
    publish(base, _write("v1"), mode="replace")

    def torn(stage: str) -> None:
        _write("half")(stage)
        raise RuntimeError("write failed")

    with pytest.raises(RuntimeError, match="write failed"):
        publish(base, torn, mode="replace")
    assert _read(base) == "v1"
    assert _siblings(base) == []


def test_upsert_write_failure_keeps_snapshot(spark, tmp_path):
    # the same guarantee through a Spark write that fails in a task
    from pyspark.sql import functions as F

    from week4_musemotion_spark.operators.upsert import upsert_parquet_snapshot

    path = str(tmp_path / "snap")
    upsert_parquet_snapshot(spark, path, spark.createDataFrame([("a", 1)], ["k", "v"]), ["k"])
    bad = spark.createDataFrame([("b", 2)], ["k", "v"]).withColumn(
        "v", F.when(F.col("v") > 0, F.raise_error(F.lit("boom"))).otherwise(F.col("v"))
    )
    with pytest.raises(Exception, match="boom"):
        upsert_parquet_snapshot(spark, path, bad, ["k"])
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == [("a", 1)]
    assert _siblings(path) == []


def test_fresh_tolerates_a_racer_that_published_the_key(tmp_path):
    from week4_musemotion_spark.sources.sinks import publish

    base = str(tmp_path / "key")

    def write(stage: str) -> None:
        _write("racer")(base)  # another writer commits while we build
        _write("mine")(stage)

    publish(base, write)
    assert _read(base) == "racer"
    assert _siblings(base) == []


def test_fresh_propagates_other_rename_errors(tmp_path, monkeypatch):
    from week4_musemotion_spark.sources import sinks

    def denied(src, dst):
        raise PermissionError(13, "denied", dst)

    monkeypatch.setattr(sinks.os, "rename", denied)
    base = str(tmp_path / "key")
    with pytest.raises(PermissionError):
        sinks.publish(base, _write("mine"))
    assert os.listdir(tmp_path) == []


def test_cached_fixture_is_keyed_by_input_and_code(tmp_path, monkeypatch):
    import tempfile

    from week4_musemotion_spark.sources import sinks

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "documents.parquet").write_bytes(b"rows")
    calls = []

    def build(stage: str) -> None:
        calls.append(stage)
        _write("built")(stage)

    first = sinks.cached_fixture("fx", str(sf), b"t", build)
    assert sinks.cached_fixture("fx", str(sf), b"t", build) == first
    assert len(calls) == 1 and _read(first) == "built"

    monkeypatch.setattr(sinks, "_code_digest", lambda: "other-code")
    second = sinks.cached_fixture("fx", str(sf), b"t", build)
    assert second != first and len(calls) == 2
    assert sorted(os.listdir(os.path.dirname(first))) == sorted(
        os.path.basename(p) for p in (first, second)
    )
    assert _read(first) == "built"  # the old key is left untouched
