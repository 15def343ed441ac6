"""Operational reporting over the streaming near-dup gate
(``streaming/neardup.py``): the gate's on-disk state — quarantine,
corpus, LSH index, commit log — IS a queryable dataset, and these
queries make its throughput / quarantine-rate observable and
oracle-checked.

The fixture drives the real ``make_ingest_fn`` (the exact
``foreachBatch`` body the stream runs) over deterministic batches:
the seed corpus is ``doc_id ≡ 0 (mod 4)`` (``build_index``), then
batches 1, 2, 3 (the other residues) are ingested IN ORDER, so batch
b's near-dup decision sees seed + the CLEAN docs of batches < b —
the genuine sequential gate semantics, replayed deterministically.

The oracle unrolls that recurrence in SQL: clean₀ = seed;
flaggedᵦ = batch b docs with a Jaccard ≥ 0.8 neighbor in any earlier
clean set; cleanᵦ = batch b − flaggedᵦ.  Brute-force Jaccard equals
the gate's LSH decision for the same reason q_neardup_incremental's
oracle does: exact verification removes LSH false positives, and the
banding miss probability at the planted-duplicate similarity (≥ 0.9)
is ≈ 1e-6 — no false negatives at these corpus sizes.

Reference analogue: the ingest loop's upsert gating
(load_musemotion_to_db.py:91-143), generalized to near-duplicate
(not key) identity and made continuously observable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from week4_musemotion_spark.functions.exact import ratio_e4, ratio_e4_sql
from week4_musemotion_spark.queries.extensions import JACCARD_THRESHOLD, _jaccard_ctes
from week4_musemotion_spark.queries.registry import query
from week4_musemotion_spark.sources.sinks import cached_fixture
from week4_musemotion_spark.sources.tables import load_table

_N_BATCHES = 4  # residues mod 4: seed = 0, ingested batches = 1, 2, 3


def _build_gate(spark: SparkSession, sf_dir: str, tmp: str) -> None:
    """Run the real gate deterministically: seed index + 3 ordered
    ingest batches through ``make_ingest_fn`` (the foreachBatch
    body)."""
    import os

    from week4_musemotion_spark.operators.lsh_index import build_index
    from week4_musemotion_spark.streaming.neardup import make_ingest_fn

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    seed = d.filter(F.col("doc_id") % _N_BATCHES == 0)
    idx = os.path.join(tmp, "idx")
    build_index(seed, idx)
    ingest = make_ingest_fn(
        idx,
        os.path.join(tmp, "corpus"),
        os.path.join(tmp, "quarantine"),
        threshold=JACCARD_THRESHOLD,
    )
    for b in range(1, _N_BATCHES):
        ingest(d.filter(F.col("doc_id") % _N_BATCHES == b), b)


def _gate_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Cached gate run, keyed by testdata content fingerprint (+ the
    batch-count layout version) and the code."""
    return cached_fixture(
        "musemotion_gate",
        sf_dir,
        f"gate_report:{_N_BATCHES}".encode(),
        lambda tmp: _build_gate(spark, sf_dir, tmp),
    )


def _gate_compacted_fixture(spark: SparkSession, sf_dir: str) -> str:
    """The gate fixture after ``compact_gate`` ran over every output
    dir (quarantine, corpus, index) — per-batch ``bid-*`` files merged
    into target-size files, commit markers preserved.  Built by
    copying the uncompacted fixture (content-identical by the
    compaction contract) and compacting the copy."""
    import os
    import shutil

    from week4_musemotion_spark.streaming.neardup import compact_gate

    base = _gate_fixture(spark, sf_dir)

    def _build(tmp: str) -> None:
        shutil.copytree(base, tmp)
        compact_gate(
            spark,
            os.path.join(tmp, "idx"),
            os.path.join(tmp, "corpus"),
            os.path.join(tmp, "quarantine"),
        )

    return cached_fixture(
        "musemotion_gate_compacted",
        sf_dir,
        f"gate_compacted:{_N_BATCHES}".encode(),
        _build,
    )


def _gate_report(spark: SparkSession, fixture: str) -> DataFrame:
    """Per-batch throughput/quarantine report from the gate's output
    dirs: quarantine ∪ corpus is exactly the ingested stream (the
    gate partitions every batch), batch identity is the ingest
    residue, and the rate is exact e4 fixed-point."""
    import os

    quar = (
        spark.read.parquet(os.path.join(fixture, "quarantine", "docs"))
        .select("doc_id")
        .withColumn("flagged", F.lit(1))
    )
    clean = (
        spark.read.parquet(os.path.join(fixture, "corpus", "docs"))
        .select("doc_id")
        .withColumn("flagged", F.lit(0))
    )
    u = quar.unionByName(clean)
    return (
        u.groupBy((F.col("doc_id") % _N_BATCHES).alias("batch"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_in"),
            F.sum("flagged").cast("long").alias("n_quarantined"),
            F.count(F.when(F.col("flagged") == 0, 1)).cast("long").alias("n_clean"),
        )
        .select(
            "batch",
            "n_in",
            "n_quarantined",
            "n_clean",
            ratio_e4(F.col("n_quarantined"), F.col("n_in")).alias("quarantine_rate_e4"),
        )
    )


def _gate_oracle_sql() -> str:
    """Unrolled sequential gate recurrence (module docstring) ending
    in the per-batch report."""
    ctes = [_jaccard_ctes(JACCARD_THRESHOLD)]
    ctes.append(
        "e2 AS (SELECT doc_a AS u, doc_b AS v FROM pairs "
        "UNION ALL SELECT doc_b AS u, doc_a AS v FROM pairs)"
    )
    ctes.append(
        f"c0 AS (SELECT doc_id FROM documents WHERE doc_id % {_N_BATCHES} = 0)"
    )
    prior = ["c0"]
    for b in range(1, _N_BATCHES):
        union_prior = " UNION ALL ".join(f"SELECT doc_id FROM {c}" for c in prior)
        ctes.append(
            f"f{b} AS (SELECT DISTINCT u AS doc_id FROM e2 "
            f"WHERE u % {_N_BATCHES} = {b} AND v IN ({union_prior}))"
        )
        ctes.append(
            f"c{b} AS (SELECT doc_id FROM documents WHERE doc_id % {_N_BATCHES} = {b} "
            f"AND doc_id NOT IN (SELECT doc_id FROM f{b}))"
        )
        prior.append(f"c{b}")
    rows = " UNION ALL ".join(
        f"SELECT {b} AS batch, "
        f"(SELECT count(*) FROM documents WHERE doc_id % {_N_BATCHES} = {b}) AS n_in, "
        f"(SELECT count(*) FROM f{b}) AS n_q"
        for b in range(1, _N_BATCHES)
    )
    return f"""
    WITH {", ".join(ctes)},
    rep AS ({rows})
    SELECT CAST(batch AS BIGINT) AS batch,
           CAST(n_in AS BIGINT) AS n_in,
           CAST(n_q AS BIGINT) AS n_quarantined,
           CAST(n_in - n_q AS BIGINT) AS n_clean,
           {ratio_e4_sql("n_q", "n_in")} AS quarantine_rate_e4
    FROM rep
    """


@query("q_gate_report", covers=("X-GATE-REPORT",), oracle=_gate_oracle_sql())
def q_gate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-gate operations report: per ingested micro-batch, how
    many documents arrived, how many the near-dup gate quarantined vs
    passed to the corpus, and the exact quarantine rate — the number
    an ingest SRE alarms on (a rate spike means a crawler started
    re-fetching known content; a rate collapse means the index lost
    data).  The fixture drives the REAL ``make_ingest_fn`` over three
    ordered batches against a seeded LSH index, so this query is
    end-to-end driver evidence for the gate's decision path; the
    oracle independently replays the sequential clean-set recurrence
    in SQL (module docstring — brute-force Jaccard, equal by the
    verification + banding-margin argument).

    Scale shape: the report itself is one scan of the gate's output
    dirs + a |batches| agg; per-batch gate cost is O(batch) band
    lookups against the parquet index, never a corpus recompute."""
    return _gate_report(spark, _gate_fixture(spark, sf_dir))


@query("q_gate_compacted_report", covers=("X-GATE-COMPACT",), oracle=_gate_oracle_sql())
def q_gate_compacted_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME report after ``compact_gate`` merged every per-batch
    ``bid-*`` file family (quarantine, corpus, index shingles+bands)
    into target-size files — driver evidence that compaction is
    content-preserving: the oracle is IDENTICAL to q_gate_report's,
    so any row compaction drops, duplicates, or mutates hash-fails.
    Small-files maintenance is what keeps a month-old gate's scan
    cost flat (10k micro-batches × 4 dirs of tiny files otherwise
    dominate open/footer overhead at 100 TB)."""
    return _gate_report(spark, _gate_compacted_fixture(spark, sf_dir))
