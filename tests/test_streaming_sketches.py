"""Streaming HLL register store (streaming/sketches.py): the
micro-batch-maintained store must equal the batch sketch of the
whole stream, and a replayed batch must be a no-op (idempotent-
monoid exactly-once — no commit log involved)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE, _flat_file, start_stream


def test_stream_store_equals_batch_sketch(spark, tmp_path):
    from week4_musemotion_spark.operators.sketches import hll_estimate, hll_registers
    from week4_musemotion_spark.streaming.sketches import make_hll_sink

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select(
        "event_type", F.col("user_id").cast("string").alias("u")
    )
    src = tmp_path / "in"
    src.mkdir()
    _flat_file(ev.filter(F.col("u").cast("long") % 2 == 0), tmp_path / "s0", src / "b0.parquet")
    _flat_file(ev.filter(F.col("u").cast("long") % 2 == 1), tmp_path / "s1", src / "b1.parquet")

    stream = (
        spark.readStream.schema("event_type string, u string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    store = str(tmp_path / "store")
    q = start_stream(stream, make_hll_sink(["event_type"], "u", store), str(tmp_path / "ckpt"))
    q.awaitTermination(300)

    key = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    got = spark.read.parquet(store)
    want = hll_registers(ev, ["event_type"], "u")
    assert key(got) == key(want), "store must equal the batch sketch of the whole stream"
    # and the BRANCHED estimates line up with exact distincts (these
    # per-type cardinalities sit in the linear-counting regime; the
    # raw form is only contracted for n > 2.5m)
    est = {r.event_type: r.estimate for r in hll_estimate(got, ["event_type"]).collect()}
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type").agg(F.countDistinct("u").alias("n")).collect()
    }
    for k, n in exact.items():
        assert abs(est[k] - n) / n < 0.25, (k, est[k], n)


def test_replayed_batch_is_noop(spark, tmp_path):
    """Exactly-once by algebra: applying the same micro-batch to the
    store twice leaves it byte-identical (max is idempotent)."""
    from week4_musemotion_spark.streaming.sketches import make_hll_sink

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select(
        "event_type", F.col("user_id").cast("string").alias("u")
    )
    store = str(tmp_path / "store")
    sink = make_hll_sink(["event_type"], "u", store)
    sink(ev, 0)
    key = lambda: sorted(map(tuple, spark.read.parquet(store).collect()))  # noqa: E731
    first = key()
    sink(ev, 0)  # replay
    assert key() == first


def test_store_publish_is_atomic_shape(spark, tmp_path):
    """No staging litter is left behind and the store dir holds a
    complete parquet dataset after every publish."""
    import os

    from week4_musemotion_spark.streaming.sketches import make_hll_sink

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select(
        "event_type", F.col("user_id").cast("string").alias("u")
    )
    store = str(tmp_path / "store")
    sink = make_hll_sink(["event_type"], "u", store)
    sink(ev.limit(100), 0)
    sink(ev, 1)
    siblings = [d for d in os.listdir(tmp_path) if d != "store"]
    assert siblings == [], siblings
    assert spark.read.parquet(store).count() > 0
