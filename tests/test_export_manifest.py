"""Manifest-driven partitioned corpus export (sinks.export_with_manifest
/ refresh_manifest): the writer twin of the q_data_card manifest."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from week4_musemotion_spark.sources.sinks import read_manifest


def _card(df):
    return df.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars_sum"),
    )


def _stale_shards(spark, out):
    """(source, lang) of every shard whose stored ``_manifest`` row
    differs from the card recomputed from the files on disk, in
    either direction; empty when the manifest is current."""
    stored = read_manifest(spark, out)
    actual = _card(spark.read.parquet(out)).select(*stored.columns)
    diff = stored.exceptAll(actual).unionByName(actual.exceptAll(stored))
    return {(r["source"], r["lang"]) for r in diff.collect()}


def test_export_roundtrip_and_tamper_detection(spark, tmp_path):
    from week4_musemotion_spark.sources.tables import load_table
    from week4_musemotion_spark.sources.sinks import export_with_manifest

    d = load_table(spark, SF_SMOKE, "documents")
    out = str(tmp_path / "corpus")
    export_with_manifest(d, out, _card)

    # layout: one directory family per shard, manifest published
    assert (tmp_path / "corpus" / "_manifest").is_dir()
    assert any((tmp_path / "corpus").glob("source=*/lang=*"))

    # value round-trip: re-read equals the original, column-for-column
    back = spark.read.parquet(out).select(*d.columns)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, d.collect()))

    # the published manifest describes the files as written
    assert _stale_shards(spark, out) == set()

    # tamper: drop one shard directory -> exactly its manifest rows differ
    shard = next((tmp_path / "corpus").glob("source=*"))
    src_val = shard.name.split("=", 1)[1]
    langs = {p.name.split("=", 1)[1] for p in shard.glob("lang=*")}
    shutil.rmtree(shard)
    assert _stale_shards(spark, out) == {(src_val, lang) for lang in langs}


def test_manifest_audit_flags_tampering_with_zero_not_null(spark, tmp_path):
    """The audit query's join: a shard missing from the manifest reads
    manifest_ok = 0 (never NULL), and a manifest-listed shard gone
    from disk still surfaces as a row — the two tamper classes a LEFT
    join with plain equality silently passed."""
    from week4_musemotion_spark.queries.pipeline_ops import _card_counts, _manifest_audit
    from week4_musemotion_spark.sources.tables import load_table

    d = load_table(spark, SF_SMOKE, "documents")
    actual = _card_counts(d)
    manifest = _card_counts(d)

    # clean: every shard ok=1, none NULL
    clean = _manifest_audit(actual, manifest).toPandas()
    assert (clean["manifest_ok"] == 1).all() and clean["manifest_ok"].notna().all()

    keys = [(r["source"], r["lang"]) for r in manifest.select("source", "lang").collect()]
    drop_src, drop_lang = keys[0]

    # tamper A: manifest row deleted -> that shard reads ok=0, not NULL
    m_missing = manifest.filter(
        ~((F.col("source") == drop_src) & (F.col("lang") == drop_lang))
    )
    a = _manifest_audit(actual, m_missing).toPandas()
    row = a[(a["source"] == drop_src) & (a["lang"] == drop_lang)]
    assert len(row) == 1 and row["manifest_ok"].iloc[0] == 0
    assert a["manifest_ok"].notna().all()

    # tamper B: shard gone from disk but still in manifest -> row
    # survives the join with ok=0 and zeroed counts
    a_missing = actual.filter(
        ~((F.col("source") == drop_src) & (F.col("lang") == drop_lang))
    )
    b = _manifest_audit(a_missing, manifest).toPandas()
    row = b[(b["source"] == drop_src) & (b["lang"] == drop_lang)]
    assert len(row) == 1 and row["manifest_ok"].iloc[0] == 0
    assert row["n_docs"].iloc[0] == 0 and row["chars_sum"].iloc[0] == 0


def test_refresh_manifest_recards_only_named_shards(spark, tmp_path):
    """Incremental re-card (sinks.refresh_manifest): append to ONE
    shard, refresh only that shard, and the manifest is consistent
    again (no stale shard) while every OTHER shard's manifest
    row is value-identical to before the refresh."""
    from week4_musemotion_spark.sources.sinks import export_with_manifest, refresh_manifest
    from week4_musemotion_spark.sources.tables import load_table

    d = load_table(spark, SF_SMOKE, "documents")
    out = str(tmp_path / "corpus")
    export_with_manifest(d, out, _card)
    before = {
        (r["source"], r["lang"]): (r["n_docs"], r["chars_sum"])
        for r in read_manifest(spark, out).collect()
    }

    # append rows to one existing shard, bypassing the manifest
    tgt = d.limit(1).collect()[0]
    extra = d.filter((F.col("source") == tgt["source"]) & (F.col("lang") == tgt["lang"])).limit(3)
    n_extra = extra.count()
    assert n_extra > 0
    extra.write.mode("append").partitionBy("source", "lang").parquet(out)

    # the manifest is now stale for exactly the touched shard
    assert _stale_shards(spark, out) == {(tgt["source"], tgt["lang"])}

    refresh_manifest(
        spark, out, _card, [{"source": tgt["source"], "lang": tgt["lang"]}]
    )
    assert _stale_shards(spark, out) == set()
    after = {
        (r["source"], r["lang"]): (r["n_docs"], r["chars_sum"])
        for r in read_manifest(spark, out).collect()
    }
    key = (tgt["source"], tgt["lang"])
    assert after[key][0] == before[key][0] + n_extra
    assert {k: v for k, v in after.items() if k != key} == {
        k: v for k, v in before.items() if k != key
    }


def test_refresh_manifest_rejects_bad_partition_spec(spark, tmp_path):
    import pytest

    from week4_musemotion_spark.sources.sinks import export_with_manifest, refresh_manifest
    from week4_musemotion_spark.sources.tables import load_table

    d = load_table(spark, SF_SMOKE, "documents")
    out = str(tmp_path / "corpus")
    export_with_manifest(d, out, _card)
    with pytest.raises(ValueError, match="missing key"):
        refresh_manifest(spark, out, _card, [{"source": "web"}])


def test_refresh_manifest_escaped_partition_values_and_empty_list(spark, tmp_path):
    """Partition values Spark escapes in directory names (':' →
    '%3A') must still refresh correctly — the touched shards are
    selected by partition-pruned filter, never hand-built paths.
    An empty partitions list is a clear validation error."""
    import pytest

    from week4_musemotion_spark.sources.sinks import export_with_manifest, refresh_manifest

    d = spark.createDataFrame(
        [(1, "web", "pt:BR", 10), (2, "web", "en", 5), (3, "books", "pt:BR", 7)],
        "doc_id long, source string, lang string, n_chars long",
    )
    out = str(tmp_path / "corpus")
    export_with_manifest(d, out, _card)
    assert any((tmp_path / "corpus").glob("source=web/lang=pt%3ABR"))

    extra = spark.createDataFrame(
        [(4, "web", "pt:BR", 3)], "doc_id long, source string, lang string, n_chars long"
    )
    extra.write.mode("append").partitionBy("source", "lang").parquet(out)
    refresh_manifest(spark, out, _card, [{"source": "web", "lang": "pt:BR"}])
    assert _stale_shards(spark, out) == set()
    rows = {
        (r["source"], r["lang"]): r["n_docs"]
        for r in read_manifest(spark, out).collect()
    }
    assert rows[("web", "pt:BR")] == 2 and rows[("books", "pt:BR")] == 1

    with pytest.raises(ValueError, match="non-empty"):
        refresh_manifest(spark, out, _card, [])
