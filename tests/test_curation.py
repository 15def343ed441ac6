"""Unit tests for the corpus-curation operators: PII scrubbing,
repetition stats, stratified sampling, contamination detection,
embedding quantization, and the IVF ANN path."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_scrub_pii_redacts_in_order(spark):
    from week4_musemotion_spark.operators.curation import scrub_pii

    df = spark.createDataFrame(
        [
            (1, "mail bob@corp.io or https://a.b/c?u=x@y.zz then 10.0.0.1 end"),
            (2, "clean text with no identifiers at all"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in scrub_pii(df).collect()}
    r1 = rows[1]
    # the email inside the URL must be swallowed by the URL redaction
    assert (r1.n_urls, r1.n_emails, r1.n_ips) == (1, 1, 1)
    assert r1.redacted == "mail <EMAIL> or <URL> then <IP> end"
    r2 = rows[2]
    assert (r2.n_urls, r2.n_emails, r2.n_ips) == (0, 0, 0)
    assert r2.redacted == "clean text with no identifiers at all"


def test_repetition_stats_handcomputed(spark):
    from week4_musemotion_spark.operators.curation import repetition_stats

    # "b b b a a c": top token b (3/6), top bigram "b b" (2/5),
    # distinct 3/6; tie-breaks: "a a" and "b b" both appear... "b b"
    # appears twice (pos 0-1, 1-2) vs "a a" once — no tie.
    df = spark.createDataFrame([(7, "b b b a a c")], "doc_id long, text string")
    r = repetition_stats(df).collect()[0]
    assert r.n_tokens == 6 and r.n_uniq_tokens == 3
    assert r.distinct_ratio_e4 == 5000
    assert r.top_token == "b" and r.top_token_ratio_e4 == 5000
    assert r.top_bigram == "b b" and r.top_bigram_ratio_e4 == 4000


def test_repetition_tie_breaks_lexicographic(spark):
    from week4_musemotion_spark.operators.curation import repetition_stats

    # "z a z a": z and a both count 2 → lexicographic smallest wins
    df = spark.createDataFrame([(1, "z a z a")], "doc_id long, text string")
    r = repetition_stats(df).collect()[0]
    assert r.top_token == "a"


def test_stratified_sample_rates_and_determinism(spark):
    from week4_musemotion_spark.operators.curation import stratified_hash_sample

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("doc_id", "source")
    rates = {"src0": 1.0, "src1": 0.0}
    out = stratified_hash_sample(docs, "doc_id", "source", rates, default_rate=0.3)
    pdf = out.toPandas()
    n_src0 = docs.filter(F.col("source") == "src0").count()
    assert (pdf.source == "src0").sum() == n_src0  # rate 1.0 keeps all
    assert (pdf.source == "src1").sum() == 0  # rate 0.0 drops all
    rest = pdf[~pdf.source.isin(["src0", "src1"])]
    assert (rest.bucket < 300).all()  # default-rate survivors under threshold
    again = stratified_hash_sample(
        docs.repartition(7), "doc_id", "source", rates, default_rate=0.3
    ).toPandas()
    assert sorted(pdf.doc_id) == sorted(again.doc_id)  # repartition-stable


def test_chunk_documents_overlap_and_tail(spark):
    from week4_musemotion_spark.operators.curation import chunk_documents

    text = " ".join(f"t{i}" for i in range(11))  # 11 tokens
    df = spark.createDataFrame([(1, text), (2, "a b")], "doc_id long, text string")
    rows = chunk_documents(df, size=4, stride=3).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_id)
    # starts 0,3,6,9: the final chunk is the 2-token tail
    assert [r.chunk_text for r in c1] == ["t0 t1 t2 t3", "t3 t4 t5 t6", "t6 t7 t8 t9", "t9 t10"]
    assert [r.chunk_tokens for r in c1] == [4, 4, 4, 2]
    # every token appears in at least one chunk
    covered = {t for r in c1 for t in r.chunk_text.split()}
    assert covered == set(text.split())
    # short doc → single whole-doc chunk
    c2 = by_doc[2]
    assert len(c2) == 1 and c2[0].chunk_text == "a b" and c2[0].chunk_tokens == 2


def test_bpe_pair_stats_top_pair(spark):
    from week4_musemotion_spark.operators.curation import bpe_pair_stats

    df = spark.createDataFrame(
        [(1, "x y x y x y"), (2, "x y z z")], "doc_id long, text string"
    )
    rows = bpe_pair_stats(df, top_n=2).collect()
    # "x y" appears 3+1 times; "y x" twice
    assert (rows[0].pair, rows[0].cnt) == ("x y", 4)
    assert (rows[1].pair, rows[1].cnt) == ("y x", 2)


def test_contamination_planted_overlap(spark):
    from week4_musemotion_spark.operators.curation import contamination_overlap

    train = spark.createDataFrame(
        [(0, "one two three four five six seven eight")], "doc_id long, text string"
    )
    ev = spark.createDataFrame(
        [
            (1, "one two three four five nine ten eleven"),  # shares 1 of 4 5-grams
            (3, "totally different words with zero overlap here"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in contamination_overlap(ev, train, n=5).collect()}
    assert rows[1].n_grams == 4 and rows[1].n_hit == 1
    assert rows[1].contamination_e4 == 2500
    assert rows[3].n_grams == 3 and rows[3].n_hit == 0 and rows[3].contamination_e4 == 0


def test_cap_per_group_deterministic_subset(spark):
    from week4_musemotion_spark.operators.curation import cap_per_group

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("doc_id", "source")
    out = cap_per_group(docs, "source", 3, "doc_id").toPandas()
    sizes = out.groupby("source").size()
    assert (sizes == 3).all()  # every source has ≥ 3 docs in testdata
    assert set(out.cap_rank) == {1, 2, 3}
    again = cap_per_group(docs.repartition(9), "source", 3, "doc_id").toPandas()
    assert sorted(out.doc_id) == sorted(again.doc_id)  # repartition-stable


def test_scrub_pii_composes_with_streaming(spark, tmp_path):
    """The scrubber is a stateless projection, so the same operator
    must run unchanged on a readStream source."""
    from week4_musemotion_spark.operators.curation import scrub_pii

    src = str(tmp_path / "in")
    df = spark.createDataFrame(
        [(1, "ping admin@x.io"), (2, "see https://a.b and 10.1.2.3")],
        "doc_id long, text string",
    )
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (
        scrub_pii(stream)
        .writeStream.format("memory")
        .queryName("pii_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = {r.doc_id: r for r in spark.sql("SELECT * FROM pii_stream").collect()}
    assert rows[1].n_emails == 1 and rows[1].redacted == "ping <EMAIL>"
    assert rows[2].n_urls == 1 and rows[2].n_ips == 1
    assert rows[2].redacted == "see <URL> and <IP>"


def test_quantize_stats_matches_numpy(spark):
    from week4_musemotion_spark.operators.similarity import quantize_stats

    vec = [0.5, -1.0, 0.25, 0.0]
    df = spark.createDataFrame([(1, vec)], "vec_id long, embedding array<float>")
    r = quantize_stats(df).collect()[0]
    scale = 127.0 / 1.0
    q = np.floor(np.array(vec) * scale + 0.5)
    assert r.dim == 4
    assert r.scale_e9 == int(np.floor(scale * 1e9 + 0.5))
    assert r.q_sum == int(q.sum()) == -31  # q = [64, -127, 32, 0]
    assert r.q_sqsum == int((q * q).sum())
    err = float(np.abs(np.array(vec) - q / scale).sum())
    assert r.err_e6 == int(np.floor(err * 1e6 + 0.5))


def test_quantize_excludes_zero_vectors(spark):
    from week4_musemotion_spark.operators.similarity import quantize_stats

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 2.0])], "vec_id long, embedding array<float>"
    )
    assert [r.vec_id for r in quantize_stats(df).collect()] == [2]


def test_ivf_recall_floor(spark):
    from week4_musemotion_spark.operators.similarity import knn_brute_force, knn_ivf

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 50)
    exact = {(r.query_id, r.neighbor_id) for r in knn_brute_force(emb, queries, k=3).collect()}
    approx = {(r.query_id, r.neighbor_id) for r in knn_ivf(emb, queries, k=3).collect()}
    assert approx, "IVF produced no candidates"
    # probing 2 of 8 clusters scans ~25% of the corpus; on these
    # high-entropy embeddings measured recall ≈ 0.5 — a broken router
    # scores ~k/corpus
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"IVF recall collapsed: {recall:.3f}"
    # every query returns exactly k rows (candidate pool ≥ k by construction)
    per_q = {}
    for q, _n in approx:
        per_q[q] = per_q.get(q, 0) + 1
    assert all(v == 3 for v in per_q.values())


def test_kmeans_deterministic_seeding(spark):
    from week4_musemotion_spark.operators.similarity import kmeans_fit

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    c1 = kmeans_fit(emb, k=4, iters=2)
    c2 = kmeans_fit(emb.repartition(5), k=4, iters=2)
    # same seeds, same assignment; centroid averages may drift in the
    # last ulp across partitionings — compare loosely
    assert c1.shape == c2.shape
    assert np.allclose(c1, c2, atol=1e-9)


def test_curation_pipeline_stage_semantics(spark):
    from pyspark.sql import functions as F

    from week4_musemotion_spark.queries import REGISTRY
    from week4_musemotion_spark.sources.tables import load_table

    out = REGISTRY["q_curation_pipeline"].builder(spark, SF_SMOKE)
    rows = out.collect()
    assert 0 < len(rows)
    # quality gate invariants hold on every survivor
    assert all(r.n_tokens >= 20 and r.n_uniq * 100 >= 35 * r.n_tokens for r in rows)
    # dedup: survivors map to distinct texts
    docs = load_table(spark, SF_SMOKE, "documents")
    kept = docs.join(
        out.select("doc_id"), "doc_id"
    ).select("text").collect()
    texts = [r.text for r in kept]
    assert len(texts) == len(set(texts))
    # sampling: every survivor's bucket is under its stratum's threshold
    from week4_musemotion_spark.queries.curation import (
        STRATA_DEFAULT,
        STRATA_RATES,
    )

    for r in rows:
        rate = STRATA_RATES.get(r.source, STRATA_DEFAULT)
        assert r.bucket < int(rate * 1000)
    # composition shrinks monotonically: survivors <= deduped <= corpus
    assert len(rows) <= docs.count()
