"""Versioned snapshots (operators/versioned.py): write/list/read
lifecycle, time travel, and crash-garbage handling."""

from __future__ import annotations

import os
import time

import pytest


def test_version_lifecycle_and_time_travel(spark, tmp_path):
    from week4_musemotion_spark.operators.versioned import (
        list_versions,
        read_version,
        write_version,
    )

    base = str(tmp_path / "tbl")
    for i in (1, 2, 3):
        n = write_version(spark.range(i * 10).withColumnRenamed("id", "x"), base)
        assert n == i
    assert list_versions(base) == [1, 2, 3]
    # time travel: every committed version readable, latest by default
    assert read_version(spark, base, 1).count() == 10
    assert read_version(spark, base, 2).count() == 20
    assert read_version(spark, base).count() == 30
    with pytest.raises(FileNotFoundError):
        read_version(spark, base, 4)


def test_uncommitted_versions_invisible_and_cleaned(spark, tmp_path):
    from week4_musemotion_spark.operators.versioned import (
        list_versions,
        read_version,
        write_version,
    )

    base = str(tmp_path / "tbl")
    write_version(spark.range(5), base)
    # simulate a crashed writer: directory without _SUCCESS
    crashed = os.path.join(base, "v_00002")
    os.makedirs(crashed)
    with open(os.path.join(crashed, "part-junk.parquet"), "w") as fh:
        fh.write("garbage")
    assert list_versions(base) == [1]
    assert read_version(spark, base).count() == 5
    # next write cleans the garbage and takes the number
    n = write_version(spark.range(7), base)
    assert n == 2
    assert read_version(spark, base, 2).count() == 7


def test_crashed_staging_write_never_visible(spark, tmp_path):
    """Kill-the-writer simulation: a writer that dies before the
    publish rename leaves only a ``.staging-*`` dir — readers must
    never see it (torn or complete), the next writer must not reuse
    or delete it (it is fresh, not stale), and version numbering must
    be unaffected."""
    from week4_musemotion_spark.operators.versioned import (
        list_versions,
        read_version,
        write_version,
    )

    base = str(tmp_path / "tbl")
    write_version(spark.range(5), base)
    # crash point A: staging fully written (even with _SUCCESS!) but
    # the publish rename never happened
    dead = os.path.join(base, ".staging-99999-deadbeef")
    spark.range(42).write.parquet(dead)
    assert os.path.exists(os.path.join(dead, "_SUCCESS"))
    # crash point B: staging torn mid-write
    torn = os.path.join(base, ".staging-99998-cafebabe")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-half.parquet"), "w") as fh:
        fh.write("torn")
    # readers: neither staging dir is a version
    assert list_versions(base) == [1]
    assert read_version(spark, base).count() == 5
    # a new writer is unaffected and does NOT sweep the fresh dirs
    # (they could belong to a live concurrent writer)
    assert write_version(spark.range(7), base) == 2
    assert list_versions(base) == [1, 2]
    assert os.path.exists(dead) and os.path.exists(torn)
    # aged-out staging IS swept on the next write
    old = time.time() - 48 * 3600
    os.utime(dead, (old, old))
    os.utime(torn, (old, old))
    assert write_version(spark.range(3), base) == 3
    assert not os.path.exists(dead) and not os.path.exists(torn)


def test_concurrent_writer_claim_collision(spark, tmp_path, monkeypatch):
    """Two writers racing for the same version number: the loser's
    rename hits the winner's published dir and must retry with the
    next number — both snapshots survive, distinct and committed."""
    from week4_musemotion_spark.operators import versioned

    base = str(tmp_path / "tbl")
    versioned.write_version(spark.range(5), base)

    # interleave: writer A computes its target number, then writer B
    # publishes v_00002 first.  Simulate by publishing B's dir from a
    # hook on A's first rename attempt.
    real_rename = os.rename
    state = {"fired": False}

    def racing_rename(src, dst):
        if not state["fired"] and dst.endswith("v_00002"):
            state["fired"] = True
            spark.range(9).write.parquet(dst)  # writer B wins the number
        real_rename(src, dst)

    monkeypatch.setattr(versioned.os, "rename", racing_rename)
    n = versioned.write_version(spark.range(7), base)
    assert n == 3
    assert versioned.list_versions(base) == [1, 2, 3]
    assert versioned.read_version(spark, base, 2).count() == 9
    assert versioned.read_version(spark, base, 3).count() == 7


def test_sweep_never_dooms_concurrently_published_version(spark, tmp_path, monkeypatch):
    """The garbage sweep decides at sweep time via the _SUCCESS marker,
    never via the committed-set snapshotted earlier: a version published
    by a concurrent writer BETWEEN write_version's _committed() snapshot
    and its sweep listdir must survive the sweep (the old
    membership-in-snapshot check rmtree'd it as presumed garbage)."""
    from week4_musemotion_spark.operators import versioned

    base = str(tmp_path / "tbl")
    versioned.write_version(spark.range(5), base)

    real_listdir = os.listdir
    state = {"calls": 0}

    def racing_listdir(path):
        res = real_listdir(path)
        state["calls"] += 1
        if state["calls"] == 2:
            # first call was _committed()'s snapshot (no v_00002 yet);
            # a concurrent writer publishes a COMMITTED snapshot now,
            # so the sweep's listing (this result is stale; the sweep
            # loop re-lists nothing) — re-list so the sweep sees it.
            spark.range(9).write.parquet(os.path.join(base, "v_00002"))
            res = real_listdir(path)
        return res

    monkeypatch.setattr(versioned.os, "listdir", racing_listdir)
    n = versioned.write_version(spark.range(7), base)
    # the concurrently published v_00002 survived the sweep intact and
    # this writer retried past the claimed number
    assert n == 3
    assert versioned.list_versions(base) == [1, 2, 3]
    assert versioned.read_version(spark, base, 2).count() == 9
    assert versioned.read_version(spark, base, 3).count() == 7
