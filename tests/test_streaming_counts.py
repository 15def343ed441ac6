"""Streaming daily-count store (streaming/counts.py): the committed
partial log folded at read time must equal the batch daily counts of
the whole stream, and the batch commit log (sources/sinks.py) must
make the additive appends exactly-once under foreachBatch replay
(additive state gets markers — algebra cannot save a sum)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE, _flat_file, start_stream


def _daily(df):
    """The per-(event_type, day) partial each micro-batch appends."""
    from week4_musemotion_spark.functions.eventtime import US_PER_DAY, epoch_micros
    from week4_musemotion_spark.functions.exact import int_div_trunc

    day = int_div_trunc(epoch_micros(df), F.lit(US_PER_DAY))
    return df.groupBy("event_type", day.alias("day_idx")).agg(F.count(F.lit(1)).alias("cnt"))


def _batch_truth(spark):
    return _daily(spark.read.parquet(f"{SF_SMOKE}/events.parquet"))


def _key(df):
    return sorted(map(tuple, df.select("event_type", "day_idx", "cnt").collect()))


def test_stream_store_equals_batch_counts(spark, tmp_path):
    from week4_musemotion_spark.streaming.counts import make_count_sink, read_daily_counts

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select(
        "event_type", "ts", "event_id"
    )
    src = tmp_path / "in"
    src.mkdir()
    _flat_file(ev.filter(F.col("event_id") % 2 == 0), tmp_path / "s0", src / "b0.parquet")
    _flat_file(ev.filter(F.col("event_id") % 2 == 1), tmp_path / "s1", src / "b1.parquet")

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    store = str(tmp_path / "store")
    q = start_stream(stream, make_count_sink(store, _daily), str(tmp_path / "ckpt"))
    assert q.awaitTermination(300), "availableNow query did not drain in time"

    got = read_daily_counts(spark, store)
    assert _key(got) == _key(_batch_truth(spark))


def test_replayed_committed_batch_is_noop(spark, tmp_path):
    """Marker present ⇒ the replay returns before touching the log;
    the additive partials are appended exactly once."""
    from week4_musemotion_spark.streaming.counts import (
        make_count_sink,
        read_daily_counts,
    )

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    store = str(tmp_path / "store")
    sink = make_count_sink(store, _daily)
    sink(ev, 0)
    first = _key(read_daily_counts(spark, store))
    sink(ev, 0)  # replay of committed batch
    assert _key(read_daily_counts(spark, store)) == first
    assert first == _key(_batch_truth(spark))


def test_torn_attempt_is_purged_before_recompute(spark, tmp_path):
    """Marker absent + stale bid files ⇒ the replay removes them and
    rewrites, so the batch contributes exactly once."""
    from week4_musemotion_spark.streaming.counts import (
        make_count_sink,
        read_daily_counts,
    )

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    store = str(tmp_path / "store")
    sink = make_count_sink(store, _daily)
    sink(ev, 0)
    # simulate a TORN attempt of batch 1: its files landed but the
    # marker did not (crash between append and commit)
    data_dir = os.path.join(store, "counts")
    torn = os.path.join(data_dir, "bid-1-00000.parquet")
    src = next(
        os.path.join(data_dir, n) for n in os.listdir(data_dir) if n.startswith("bid-0-")
    )
    import shutil

    shutil.copy(src, torn)
    # a reader racing the torn attempt must NOT count its partials
    assert _key(read_daily_counts(spark, store)) == _key(_batch_truth(spark))
    # the replay purges the torn files, recomputes, commits
    sink(ev.limit(50), 1)
    n_bid1 = [n for n in os.listdir(data_dir) if n.startswith("bid-1-")]
    assert len(n_bid1) >= 1
    total = read_daily_counts(spark, store).agg(F.sum("cnt")).collect()[0][0]
    assert total == ev.count() + 50


def test_empty_store_keeps_schema(spark, tmp_path):
    """An uncommitted/absent store returns zero rows WITH the group
    columns, so downstream selects don't blow up mid-stream."""
    from week4_musemotion_spark.streaming.counts import read_daily_counts

    out = read_daily_counts(spark, str(tmp_path / "nope"))
    assert out.columns == ["event_type", "day_idx", "cnt"]
    assert out.count() == 0


def test_compaction_preserves_totals_and_replay(spark, tmp_path):
    """compact_counts folds N committed batches into one, totals are
    unchanged, a replay of a folded batch still no-ops (its marker
    survives), and a SECOND compaction composes (c1 folded into c2)."""
    import os

    from week4_musemotion_spark.streaming.counts import (
        compact_counts,
        make_count_sink,
        read_daily_counts,
    )

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    store = str(tmp_path / "store")
    sink = make_count_sink(store, _daily)
    for b in range(3):
        sink(ev.filter(F.col("event_id") % 3 == b), b)
    before = _key(read_daily_counts(spark, store))

    stats = compact_counts(spark, store)
    assert stats["folded"] == 3 and stats["files_removed"] >= 3
    assert _key(read_daily_counts(spark, store)) == before
    data_dir = os.path.join(store, "counts")
    assert all(n.startswith("bid-c1-") for n in os.listdir(data_dir))

    # replay of a folded batch: marker survived compaction -> no-op
    sink(ev.filter(F.col("event_id") % 3 == 0), 0)
    assert _key(read_daily_counts(spark, store)) == before

    # more batches + second compaction: c1 folds into c2
    sink(ev.limit(30), 7)
    compact_counts(spark, store)
    assert {n.split("-")[1] for n in os.listdir(data_dir)} == {"c2"}
    total = read_daily_counts(spark, store).agg(F.sum("cnt")).collect()[0][0]
    assert total == ev.count() + 30


def test_feeds_the_seasonal_monitor(spark, tmp_path):
    """The store's fold is a drop-in daily grid: the seasonal-naive
    residual computed from the streamed store equals the one computed
    from the batch table."""
    from pyspark.sql import Window

    from week4_musemotion_spark.streaming.counts import (
        make_count_sink,
        read_daily_counts,
    )

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    store = str(tmp_path / "store")
    sink = make_count_sink(store, _daily)
    sink(ev, 0)

    def resid(df):
        w = Window.partitionBy("event_type").orderBy("day_idx")
        return sorted(
            map(
                tuple,
                df.select(
                    "event_type",
                    "day_idx",
                    (F.col("cnt") - F.lag("cnt", 7).over(w)).alias("r"),
                ).collect(),
            )
        )

    assert resid(read_daily_counts(spark, store)) == resid(_batch_truth(spark))


def _listing(first: list[str]):
    """``os.listdir`` that lists ``_compacted`` dirs in the order
    ``first`` (names present on disk only) and every other dir as is."""
    real = os.listdir

    def listdir(path="."):
        names = real(path)
        if os.path.basename(str(path).rstrip("/")) != "_compacted":
            return names
        return [n for n in first if n in names] + [n for n in names if n not in first]

    return listdir


def test_commit_log_reader_applies_every_committed_manifest(tmp_path, monkeypatch):
    """A manifest counts once its own compaction committed, even when a
    later compaction folded that compaction: c2 folded c1, which folded
    0-2, so only c2 is live whichever manifest is listed first."""
    from week4_musemotion_spark.sources.sinks import committed_batches

    commits, folded = tmp_path / "_count_commits", tmp_path / "_compacted"
    commits.mkdir()
    folded.mkdir()
    for tag in ("0", "1", "2", "3", "4", "c1", "c2"):
        (commits / tag).write_text("committed\n")
    (folded / "c1").write_text("0\n1\n2\n")
    (folded / "c2").write_text("3\n4\nc1\n")
    for order in (["c1", "c2"], ["c2", "c1"]):
        monkeypatch.setattr(os, "listdir", _listing(order))
        assert committed_batches(str(commits), str(folded)) == {"c2"}, order


def test_crashed_compaction_sweep_is_neither_recounted_nor_left_behind(
    spark, tmp_path, monkeypatch
):
    """A compaction that crashes in its sweep leaves the folded files on
    disk.  The next compaction folds the compacted batch again: readers
    must still count each batch once, and its sweep must remove the
    files the crashed sweep left."""
    import pytest

    from week4_musemotion_spark.streaming.counts import (
        compact_counts,
        make_count_sink,
        read_daily_counts,
    )

    store = str(tmp_path / "store")
    sink = make_count_sink(store, lambda b: b.groupBy("k").agg(F.count(F.lit(1)).alias("cnt")))
    ab, a = spark.createDataFrame([("a",), ("b",)], "k string"), spark.createDataFrame([("a",)], "k string")
    for bid in range(3):
        sink(ab, bid)

    def crash(path):
        raise OSError(f"injected crash removing {path}")

    with monkeypatch.context() as m:
        m.setattr(os, "remove", crash)
        with pytest.raises(OSError, match="injected crash"):
            compact_counts(spark, store)
    assert os.path.exists(os.path.join(store, "_count_commits", "c1"))
    for bid in (3, 4):
        sink(a, bid)
    monkeypatch.setattr(os, "listdir", _listing(["c2", "c1"]))
    compact_counts(spark, store)

    got = read_daily_counts(spark, store, "k string, cnt long")
    assert sorted(map(tuple, got.collect())) == [("a", 5), ("b", 3)]
    data = os.listdir(os.path.join(store, "counts"))
    assert data and all(n.startswith("bid-c2-") for n in data), sorted(data)
