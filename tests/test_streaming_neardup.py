"""Streaming near-dup ingest loop (streaming/neardup.py): micro-batch
arrivals are gated against the growing LSH index — near-dups of the
seed corpus OR of an earlier batch land in quarantine, clean docs
join the corpus and become the reference for later batches."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE, _flat_file, start_stream


def test_neardup_gate_quarantines_cross_batch_dups(spark, tmp_path):
    from week4_musemotion_spark.operators.dedup import minhash_lsh_join
    from week4_musemotion_spark.operators.lsh_index import build_index
    from week4_musemotion_spark.sources.tables import load_table
    from week4_musemotion_spark.streaming.neardup import make_ingest_fn

    d = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    seed = d.filter(F.col("doc_id") % 10 > 1)
    arrivals = d.filter(F.col("doc_id") % 10 <= 1)

    # ground truth: which arrivals near-dup the seed corpus (batch
    # boundaries only refine this further)
    vs_seed = {
        r["doc_a"] for r in minhash_lsh_join(arrivals, seed, threshold=0.8).collect()
    }
    assert vs_seed, "fixture must plant at least one cross-split near-dup"

    idx = str(tmp_path / "idx")
    build_index(seed, idx)
    src = tmp_path / "arrivals"
    src.mkdir()

    # two FLAT files -> maxFilesPerTrigger=1 gives two sequential batches
    _flat_file(arrivals.filter(F.col("doc_id") % 10 == 0), tmp_path / "_stage_b0", src / "b0.parquet")
    _flat_file(arrivals.filter(F.col("doc_id") % 10 == 1), tmp_path / "_stage_b1", src / "b1.parquet")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    ingest = make_ingest_fn(idx, str(tmp_path / "corpus"), str(tmp_path / "quarantine"))
    q = start_stream(stream, ingest, str(tmp_path / "ckpt"))
    q.awaitTermination(300)

    quarantined = {
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "quarantine" / "docs")).collect()
    }
    clean = {
        r["doc_id"] for r in spark.read.parquet(str(tmp_path / "corpus" / "docs")).collect()
    }
    arrived = {r["doc_id"] for r in arrivals.collect()}
    # partition: every arrival lands exactly once, on exactly one side
    assert quarantined | clean == arrived
    assert quarantined & clean == set()
    # everything that near-dups the SEED is quarantined; extra
    # quarantines can only come from dups against an earlier batch
    assert vs_seed <= quarantined
    extra = quarantined - vs_seed
    if extra:
        corpus_after_b0 = seed.unionByName(
            arrivals.filter(F.col("doc_id") % 10 == 0).join(
                spark.createDataFrame([(i,) for i in quarantined], "doc_id long"),
                "doc_id",
                "left_anti",
            )
        )
        b1 = arrivals.filter(F.col("doc_id") % 10 == 1)
        vs_grown = {
            r["doc_a"] for r in minhash_lsh_join(b1, corpus_after_b0, threshold=0.8).collect()
        }
        assert extra <= vs_grown
    # the index grew: band rows exist for clean docs
    bands = spark.read.parquet(str(tmp_path / "idx" / "bands"))
    assert bands.filter(F.col("_id").isin(list(clean)[:5])).count() > 0


def _gate_state(spark, root):
    """(file-name sets, row multisets) for every gate output dir."""
    import os

    state = {}
    for rel in ("quarantine/docs", "corpus/docs", "idx/shingles", "idx/bands"):
        p = str(root / rel)
        # seed-build part files carry write-UUID names; the gate's own
        # contribution is exactly the bid-prefixed files
        files = tuple(sorted(f for f in os.listdir(p) if f.startswith("bid-")))
        rows = tuple(sorted(map(tuple, spark.read.parquet(p).collect())))
        state[rel] = (files, rows)
    state["commits"] = tuple(sorted(os.listdir(str(root / "idx" / "_ingest_commits"))))
    return state


def _run_gate(spark, root, batches, fail_on=None, monkeypatch=None):
    """Drive make_ingest_fn directly (no stream) over ``batches``;
    optionally inject one failure before the bands append of a batch."""
    from week4_musemotion_spark.operators.lsh_index import build_index
    from week4_musemotion_spark.sources import sinks
    from week4_musemotion_spark.sources.tables import load_table
    from week4_musemotion_spark.streaming import neardup

    d = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    seed = d.filter(F.col("doc_id") % 10 > 1)
    build_index(seed, str(root / "idx"))
    ingest = neardup.make_ingest_fn(
        str(root / "idx"), str(root / "corpus"), str(root / "quarantine")
    )
    if fail_on is not None:
        real_append = sinks._append_keyed
        state = {"armed": True}

        def failing_append(df, target, tag):
            if state["armed"] and tag == str(fail_on) and target.endswith("bands"):
                state["armed"] = False
                raise RuntimeError("injected crash before bands append")
            real_append(df, target, tag)

        monkeypatch.setattr(sinks, "_append_keyed", failing_append)
    for bid, batch in enumerate(batches):
        try:
            ingest(batch, bid)
        except RuntimeError:
            ingest(batch, bid)  # the replay foreachBatch would issue
    return ingest


def test_neardup_gate_replay_idempotent(spark, tmp_path, monkeypatch):
    """Replaying a batch_id — whether the first attempt fully
    committed or died mid-write — leaves quarantine/corpus/index state
    identical to a single clean run: same file names, same rows, same
    commit log (the verdict's missing production guarantee)."""
    from week4_musemotion_spark.sources.tables import load_table

    d = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    batches = [
        d.filter(F.col("doc_id") % 10 == 0),
        d.filter(F.col("doc_id") % 10 == 1),
    ]

    ref_root = tmp_path / "ref"
    _run_gate(spark, ref_root, batches)
    reference = _gate_state(spark, ref_root)
    assert reference["commits"] == ("0", "1")

    # scenario A: replay of a fully committed batch is a no-op
    gate_a = tmp_path / "a"
    ingest = _run_gate(spark, gate_a, batches)
    ingest(batches[1], 1)  # driver replays the last committed batch
    assert _gate_state(spark, gate_a) == reference

    # scenario B: batch 1's first attempt dies after quarantine+corpus+
    # shingles but before bands+commit; the replay purges the torn
    # files and reproduces the clean outcome exactly
    gate_b = tmp_path / "b"
    _run_gate(spark, gate_b, batches, fail_on=1, monkeypatch=monkeypatch)
    assert _gate_state(spark, gate_b) == reference


def test_compact_gate_all_outputs(spark, tmp_path):
    """compact_gate folds index + quarantine + corpus small files,
    preserves every row, and committed-batch replays still no-op."""
    import os

    from week4_musemotion_spark.sources.tables import load_table
    from week4_musemotion_spark.streaming.neardup import compact_gate

    d = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    batches = [d.filter((F.col("doc_id") / 2 % 8).cast("int") == i) for i in range(8)]
    _run_gate(spark, tmp_path, batches)
    state_before = {
        rel: sorted(map(tuple, spark.read.parquet(str(tmp_path / rel)).collect()))
        for rel in ("quarantine/docs", "corpus/docs", "idx/bands", "idx/shingles")
    }
    res = compact_gate(
        spark, str(tmp_path / "idx"), str(tmp_path / "corpus"), str(tmp_path / "quarantine")
    )
    assert set(res) == {"shingles", "bands", "quarantine", "corpus"}
    assert all(v >= 1 for v in res.values()), res
    for rel, rows in state_before.items():
        p = str(tmp_path / rel)
        assert sorted(map(tuple, spark.read.parquet(p).collect())) == rows
        assert sum(1 for f in os.listdir(p) if f.endswith(".parquet")) <= 8
    # replay of a committed batch after compaction: still a no-op
    from week4_musemotion_spark.streaming import neardup

    ingest = neardup.make_ingest_fn(
        str(tmp_path / "idx"), str(tmp_path / "corpus"), str(tmp_path / "quarantine")
    )
    ingest(batches[3], 3)
    assert (
        sorted(
            map(tuple, spark.read.parquet(str(tmp_path / "corpus" / "docs")).collect())
        )
        == state_before["corpus/docs"]
    )


def test_real_stream_restart_replays_exactly_once(spark, tmp_path, monkeypatch):
    """The production claim end-to-end: a REAL StreamingQuery whose
    foreachBatch dies mid-batch (after some appends, before the commit
    marker) is restarted on the same checkpoint; Spark's WAL replays
    the failed batch with the SAME batch_id, the gate repairs the torn
    attempt, and the final state equals a clean run — exactly-once
    through an actual crash/restart, not a simulated call."""
    from week4_musemotion_spark.operators.lsh_index import build_index
    from week4_musemotion_spark.sources import sinks
    from week4_musemotion_spark.sources.tables import load_table
    from week4_musemotion_spark.streaming.neardup import make_ingest_fn

    d = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    seed = d.filter(F.col("doc_id") % 10 > 1)
    arrivals = d.filter(F.col("doc_id") % 10 <= 1)

    def _drive(root, fail_batch=None):
        idx = str(root / "idx")
        build_index(seed, idx)
        src = root / "arrivals"
        src.mkdir()
        _flat_file(arrivals.filter(F.col("doc_id") % 10 == 0), root / "_stage_b0", src / "b0.parquet")
        _flat_file(arrivals.filter(F.col("doc_id") % 10 == 1), root / "_stage_b1", src / "b1.parquet")

        def _start():
            stream = (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", "1")
                .parquet(str(src))
            )
            ingest = make_ingest_fn(idx, str(root / "corpus"), str(root / "quarantine"))
            return start_stream(stream, ingest, str(root / "ckpt"))

        if fail_batch is not None:
            real_append = sinks._append_keyed
            state = {"armed": True}

            def failing_append(df, target, tag):
                if state["armed"] and tag == str(fail_batch) and target.endswith("bands"):
                    state["armed"] = False
                    raise RuntimeError("injected crash before bands append")
                real_append(df, target, tag)

            monkeypatch.setattr(sinks, "_append_keyed", failing_append)
            q = _start()
            try:
                q.awaitTermination(300)
            except Exception:
                pass  # the injected crash fails the query — expected
            assert state["armed"] is False, "injection never fired"
            monkeypatch.setattr(sinks, "_append_keyed", real_append)
        q = _start()  # (re)start on the same checkpoint
        q.awaitTermination(300)

    ref = tmp_path / "ref"
    ref.mkdir()
    _drive(ref)
    crash = tmp_path / "crash"
    crash.mkdir()
    _drive(crash, fail_batch=1)
    assert _gate_state(spark, crash) == _gate_state(spark, ref)
