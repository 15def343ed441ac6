"""Corpus-curation queries: PII scrubbing, repetition quality
signals, stratified sampling, train/eval contamination, embedding
quantization, and IVF ANN — the curation layer of a training-data
pipeline (extends the reference's pandas cleaning pass,
`/root/reference/pipeline.py:81-123`, to LLM-corpus hygiene).

The documents corpus contains no real PII, so the PII query
synthesizes a dirty column deterministically from ``doc_id`` —
identically on both engines — and scrubs that (same pattern as the
WKT-extraction parity query, which synthesizes POINT strings).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from week4_musemotion_spark.functions.exact import ratio_e4_sql
from week4_musemotion_spark.functions.hashing import stable_hash64_sql
from week4_musemotion_spark.operators.curation import (
    contamination_overlap,
    repetition_stats,
    scrub_pii,
    scrub_pii_sql,
    stratified_hash_sample,
)
from week4_musemotion_spark.operators.sampling import GRANULARITY
from week4_musemotion_spark.operators.textstats import QUALITY_STOPWORDS
from week4_musemotion_spark.operators.similarity import quantize_stats
from week4_musemotion_spark.queries.extensions import _quality_e4_sql, _shingle_expr
from week4_musemotion_spark.queries.registry import query
from week4_musemotion_spark.sources.sinks import cached_fixture
from week4_musemotion_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

_PII_EXPRS = scrub_pii_sql("t")

_QS_STOPLIST = ", ".join(f"'{w}'" for w in QUALITY_STOPWORDS)


@query(
    "q_pii_scrub",
    covers=("X-PII",),
    oracle=f"""
    WITH dirty AS (
        SELECT doc_id,
               substr(text, 1, 40) || ' contact user' || CAST(doc_id AS VARCHAR)
               || '@mail.example.com via https://ex' || CAST(doc_id % 10 AS VARCHAR)
               || '.org/p/' || CAST(doc_id AS VARCHAR)
               || ' node 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.7'
               || CASE WHEN doc_id % 3 = 0 THEN ' admin@ops.example.net' ELSE '' END AS t
        FROM documents
    )
    SELECT doc_id,
           {_PII_EXPRS["n_urls"]} AS n_urls,
           {_PII_EXPRS["n_emails"]} AS n_emails,
           {_PII_EXPRS["n_ips"]} AS n_ips,
           {_PII_EXPRS["redacted"]} AS redacted
    FROM dirty
    """,
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detect + redact (URLs, then emails, then IPv4s) over a
    deterministically synthesized dirty column — per-row regexp
    expressions only, scan-speed at scale."""
    d = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    extra = F.when(
        F.pmod(F.col("doc_id"), F.lit(3)) == 0, F.lit(" admin@ops.example.net")
    ).otherwise(F.lit(""))
    dirty = F.concat(
        F.substring(F.col("text"), 1, 40),
        F.lit(" contact user"),
        did,
        F.lit("@mail.example.com via https://ex"),
        F.pmod(F.col("doc_id"), F.lit(10)).cast("string"),
        F.lit(".org/p/"),
        did,
        F.lit(" node 10."),
        F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
        F.lit(".0.7"),
        extra,
    )
    return scrub_pii(d.select("doc_id", dirty.alias("dirty")), text_col="dirty")


# ---------------------------------------------------------------------------
# Repetition / quality signals
# ---------------------------------------------------------------------------


@query(
    "q_repetition",
    covers=("X-REPETITION",),
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS ts
        FROM documents
    ),
    u AS (SELECT doc_id, unnest(ts) AS tok FROM tok),
    tot AS (SELECT doc_id, count(*) AS n_tokens, count(DISTINCT tok) AS n_uniq FROM u GROUP BY 1),
    uc AS (SELECT doc_id, tok, count(*) AS cnt FROM u GROUP BY 1, 2),
    t1 AS (
        SELECT doc_id, tok, cnt,
               row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, tok ASC) AS rn
        FROM uc
    ),
    bgl AS (
        SELECT doc_id, unnest(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])) AS bg
        FROM tok WHERE len(ts) >= 2
    ),
    bc AS (SELECT doc_id, bg, count(*) AS cnt FROM bgl GROUP BY 1, 2),
    t2 AS (
        SELECT doc_id, bg, cnt,
               row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, bg ASC) AS rn
        FROM bc
    )
    SELECT tot.doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_uniq AS BIGINT) AS n_uniq_tokens,
           {ratio_e4_sql("n_uniq", "n_tokens")} AS distinct_ratio_e4,
           t1.tok AS top_token,
           {ratio_e4_sql("t1.cnt", "n_tokens")} AS top_token_ratio_e4,
           t2.bg AS top_bigram,
           CASE WHEN n_tokens > 1
                THEN {ratio_e4_sql("t2.cnt", "n_tokens - 1")} END AS top_bigram_ratio_e4
    FROM tot
    JOIN t1 ON tot.doc_id = t1.doc_id AND t1.rn = 1
    LEFT JOIN t2 ON tot.doc_id = t2.doc_id AND t2.rn = 1
    """,
)
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals: distinct-token ratio, top
    token/bigram mass fractions (deterministic tie-breaks), from one
    explode + keyed aggregates."""
    return repetition_stats(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Stratified sampling
# ---------------------------------------------------------------------------

#: Per-source keep rates: upsample src0, downsample the rest — the
#: corpus-rebalancing shape (e.g. boost curated sources, cut crawl).
STRATA_RATES = {"src0": 0.9, "src1": 0.5}
STRATA_DEFAULT = 0.2

_BUCKET_SQL = f"({stable_hash64_sql('CAST(doc_id AS VARCHAR)')} % {GRANULARITY})"


@query(
    "q_stratified_sample",
    covers=("X-STRATIFIED",),
    oracle=f"""
    WITH b AS (SELECT doc_id, source, {_BUCKET_SQL} AS bucket FROM documents)
    SELECT doc_id, source, CAST(bucket AS BIGINT) AS bucket
    FROM b
    WHERE bucket < CASE source
                     WHEN 'src0' THEN {int(STRATA_RATES["src0"] * GRANULARITY)}
                     WHEN 'src1' THEN {int(STRATA_RATES["src1"] * GRANULARITY)}
                     ELSE {int(STRATA_DEFAULT * GRANULARITY)} END
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic hash sample (rebalance sources with
    leak-proof, re-run-stable membership) — a pure filter, no
    shuffle."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return stratified_hash_sample(d, "doc_id", "source", STRATA_RATES, STRATA_DEFAULT)


# ---------------------------------------------------------------------------
# Document chunking
# ---------------------------------------------------------------------------

_CHUNK_SIZE, _CHUNK_STRIDE = 32, 24


@query(
    "q_chunk_documents",
    covers=("X-CHUNKING",),
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS ts
        FROM documents
    ),
    c AS (
        SELECT doc_id, ts, len(ts) AS n,
               CASE WHEN len(ts) <= {_CHUNK_SIZE} THEN 1
                    ELSE (len(ts) - {_CHUNK_SIZE} + {_CHUNK_STRIDE} - 1) // {_CHUNK_STRIDE} + 1
               END AS n_chunks
        FROM tok WHERE len(ts) > 0
    ),
    u AS (SELECT doc_id, ts, n, unnest(range(0, n_chunks)) AS i FROM c)
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_id,
           array_to_string(ts[i * {_CHUNK_STRIDE} + 1 : i * {_CHUNK_STRIDE} + {_CHUNK_SIZE}], ' ')
               AS chunk_text,
           CAST(least({_CHUNK_SIZE}, n - i * {_CHUNK_STRIDE}) AS BIGINT) AS chunk_tokens
    FROM u
    """,
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-token chunking (size 32, stride 24) — the
    pre-tokenization windowing step; pure per-row HOFs + one explode,
    zero shuffle."""
    from week4_musemotion_spark.operators.curation import chunk_documents

    return chunk_documents(
        load_table(spark, sf_dir, "documents"), size=_CHUNK_SIZE, stride=_CHUNK_STRIDE
    )


# ---------------------------------------------------------------------------
# Tokenizer induction
# ---------------------------------------------------------------------------


@query(
    "q_bpe_pairs",
    covers=("X-BPE-PAIRS",),
    oracle="""
    WITH tok AS (
        SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS ts
        FROM documents
    ),
    bgl AS (
        SELECT unnest(list_transform(range(1, len(ts)), j -> ts[j] || ' ' || ts[j+1])) AS pair
        FROM tok WHERE len(ts) >= 2
    ),
    pc AS (SELECT pair, count(*) AS cnt FROM bgl GROUP BY 1)
    SELECT pair, CAST(cnt AS BIGINT) AS cnt
    FROM pc ORDER BY cnt DESC, pair ASC LIMIT 50
    """,
)
def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-global top-50 adjacent token pairs (the first BPE merge
    statistic); global partial+final count aggregate, top-k fused as
    TakeOrderedAndProject."""
    from week4_musemotion_spark.operators.curation import bpe_pair_stats

    return bpe_pair_stats(load_table(spark, sf_dir, "documents"), top_n=50)


# ---------------------------------------------------------------------------
# Train/eval contamination
# ---------------------------------------------------------------------------

_CONTAM_N = 5


@query(
    "q_contamination",
    covers=("X-CONTAMINATION",),
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS ts
        FROM documents
    ),
    g AS (SELECT doc_id, unnest({_shingle_expr(_CONTAM_N)}) AS s FROM tok WHERE len(ts) >= {_CONTAM_N}),
    d AS (SELECT DISTINCT doc_id, s FROM g),
    tr AS (SELECT DISTINCT s FROM d WHERE doc_id % 2 = 0),
    ev AS (SELECT doc_id, s FROM d WHERE doc_id % 2 = 1)
    SELECT ev.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(count(tr.s) AS BIGINT) AS n_hit,
           {ratio_e4_sql("count(tr.s)", "count(*)")} AS contamination_e4
    FROM ev LEFT JOIN tr ON ev.s = tr.s
    GROUP BY ev.doc_id
    """,
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: distinct 5-gram overlap of each
    eval doc (odd ids) against the train gram set (even ids) — the
    planted near-dup pairs that straddle the parity split surface as
    high-contamination docs."""
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 0)
    ev = docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 1)
    return contamination_overlap(ev, train, n=_CONTAM_N)


# ---------------------------------------------------------------------------
# Per-domain capping
# ---------------------------------------------------------------------------

_CAP_N = 10

_HASH_ORDER_SQL = stable_hash64_sql("CAST(doc_id AS VARCHAR)")


@query(
    "q_domain_cap",
    covers=("X-DOMAIN-CAP",),
    oracle=f"""
    WITH r AS (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source
                                  ORDER BY {_HASH_ORDER_SQL} ASC, doc_id ASC) AS cap_rank
        FROM documents
    )
    SELECT doc_id, source, CAST(cap_rank AS BIGINT) AS cap_rank
    FROM r WHERE cap_rank <= {_CAP_N}
    """,
)
def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source contribution cap (10 docs per source, selected in
    deterministic hash order — an unbiased, re-run-stable subset per
    domain); one keyed window shuffle."""
    from week4_musemotion_spark.operators.curation import cap_per_group

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return cap_per_group(d, "source", _CAP_N, "doc_id")


# ---------------------------------------------------------------------------
# Embedding quantization
# ---------------------------------------------------------------------------


@query(
    "q_embed_quantize",
    covers=("X-QUANTIZE",),
    oracle="""
    WITH t AS (
        SELECT vec_id, embedding AS v,
               list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max')
                   AS maxabs
        FROM embeddings
    ),
    s AS (SELECT vec_id, v, 127.0 / maxabs AS scale FROM t WHERE maxabs > 0),
    qz AS (
        SELECT vec_id, v, scale,
               list_transform(v, x -> floor(CAST(x AS DOUBLE) * scale + 0.5)) AS q
        FROM s
    )
    SELECT vec_id,
           CAST(len(v) AS BIGINT) AS dim,
           CAST(floor(scale * 1000000000 + 0.5) AS BIGINT) AS scale_e9,
           CAST(list_sum(q) AS BIGINT) AS q_sum,
           CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS q_sqsum,
           CAST(floor(list_sum(list_transform(range(1, len(v) + 1),
                i -> abs(CAST(v[i] AS DOUBLE) - q[i] / scale))) * 1000000 + 0.5) AS BIGINT)
               AS err_e6
    FROM qz
    """,
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization audit: scale, quantized checksum
    moments, reconstruction error (exact integer encodings) — per-row
    higher-order functions, no shuffle."""
    return quantize_stats(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# IVF ANN
# ---------------------------------------------------------------------------


@query("q_knn_ivf", covers=("X-KNN-IVF",), oracle=None)
def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with the production index lifecycle: the k-means
    quantizer + cluster-partitioned assignment table are built ONCE
    per corpus (ivf_build → parquet index) and every invocation after
    that only probes 2 of 8 cluster partitions + exact-reranks.
    Approximate by construction → rows-only check, same contract as
    the LSH variant.  The index is a ``cached_fixture``, keyed by the
    embeddings files and the code."""
    from week4_musemotion_spark.operators.similarity import ivf_build, ivf_probe

    emb = load_table(spark, sf_dir, "embeddings")
    index_dir = cached_fixture(
        "musemotion_ivf", sf_dir, b"knn_ivf", lambda tmp: ivf_build(emb, tmp), table="embeddings"
    )
    return ivf_probe(spark, index_dir, emb.filter(F.col("vec_id") < 5), k=3)


# ---------------------------------------------------------------------------
# End-to-end curation pipeline (quality gate → dedup → stratified sample)
# ---------------------------------------------------------------------------

_MIN_TOKENS = 20
_MIN_UNIQ_PCT = 35  # distinct-token ratio gate, in integer percent


@query(
    "q_curation_pipeline",
    covers=("X-PIPELINE", "X-QUALITY", "X-DEDUP-EXACT", "X-STRATIFIED"),
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, source, text,
               list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS ts
        FROM documents
    ),
    stats AS (
        SELECT doc_id, source, text,
               len(ts) AS n_tokens, len(list_distinct(ts)) AS n_uniq
        FROM tok
    ),
    quality AS (
        SELECT * FROM stats
        WHERE n_tokens >= {_MIN_TOKENS}
          AND n_uniq * 100 >= {_MIN_UNIQ_PCT} * n_tokens
    ),
    dedup AS (
        SELECT doc_id, source,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(n_uniq AS BIGINT) AS n_uniq
        FROM quality
        QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
    )
    SELECT doc_id, source, n_tokens, n_uniq,
           CAST({_BUCKET_SQL} AS BIGINT) AS bucket
    FROM dedup
    WHERE {_BUCKET_SQL} < CASE source
                            WHEN 'src0' THEN {int(STRATA_RATES["src0"] * GRANULARITY)}
                            WHEN 'src1' THEN {int(STRATA_RATES["src1"] * GRANULARITY)}
                            ELSE {int(STRATA_DEFAULT * GRANULARITY)} END
    """,
)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation flow as ONE declarative plan: tokenize →
    quality gate (min length + distinct-token ratio, both in exact
    integer arithmetic) → exact dedup (first doc_id wins per
    identical text) → per-source stratified hash sample.  Because
    every stage is a DataFrame transformation, Catalyst fuses them:
    the quality gate and the sample predicate are row-local filters
    that run inside the scan stage, and the only shuffle in the whole
    pipeline is the dedup window's partition-by-text — on the
    already-gated survivors, not the raw corpus.  Stage order
    matters at 100 TB: gating before dedup shrinks the shuffle;
    sampling after dedup keeps duplicate clusters from buying extra
    lottery tickets.  Composes ``repetition_stats``-style gating,
    ``dedup_exact`` and ``stratified_hash_sample`` semantics
    (operators/curation.py) into the realistic end-to-end job.
    Ref capability: the reference's whole clean-then-load pipeline
    (pipeline.py:81-123) re-imagined as corpus curation."""
    from week4_musemotion_spark.functions.text import tokens
    from week4_musemotion_spark.operators.curation import stratified_hash_sample

    d = load_table(spark, sf_dir, "documents")
    ts = tokens(F.col("text"))
    stats = d.select(
        "doc_id",
        "source",
        "text",
        F.size(ts).alias("n_tokens"),
        F.size(F.array_distinct(ts)).alias("n_uniq"),
    )
    quality = stats.filter(
        (F.col("n_tokens") >= _MIN_TOKENS)
        & (F.col("n_uniq") * 100 >= _MIN_UNIQ_PCT * F.col("n_tokens"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("text").orderBy("doc_id")
    dedup = (
        quality.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "source",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_uniq").cast("long").alias("n_uniq"),
        )
    )
    return stratified_hash_sample(dedup, "doc_id", "source", STRATA_RATES, STRATA_DEFAULT)

# ---------------------------------------------------------------------------
# Cross-document boilerplate phrases
# ---------------------------------------------------------------------------

_BOILER_N = 5  # phrase length (word 5-grams)
_BOILER_DF = 3  # boilerplate = phrase appearing in >= this many docs


@query(
    "q_phrase_boilerplate",
    covers=("X-BOILERPLATE",),
    oracle=f"""
    WITH tok AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS ts FROM documents),
    raw AS (SELECT doc_id, unnest({_shingle_expr(_BOILER_N)}) AS phrase FROM tok WHERE len(ts) >= {_BOILER_N}),
    freq AS (
        SELECT phrase,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
               CAST(count(*) AS BIGINT) AS occurrences
        FROM raw GROUP BY phrase
    )
    SELECT phrase, df, occurrences FROM freq
    WHERE df >= {_BOILER_DF}
    ORDER BY df DESC, phrase ASC
    LIMIT 100
    """,
)
def q_phrase_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detection (CCNet-style line dedup
    transposed to word {n}-grams, since the synthetic corpus has no
    newlines): phrases recurring across >= {df} distinct documents are
    template/boilerplate candidates to strip before training.

    Scale note: explode-once then ONE hash aggregate computing both
    distinct-doc and total counts — no self-join; the phrase key is
    high-cardinality so the shuffle is well spread, and the df filter
    runs map-side-combined before the top-k (TakeOrderedAndProject).
    """
    from week4_musemotion_spark.functions.text import shingles, tokens
    from week4_musemotion_spark.sources.tables import spread

    d = load_table(spark, sf_dir, "documents")
    # spread: the shingle explode + partial aggregate otherwise run
    # inside the single scan task of a one-row-group file; projecting
    # tokens() first also evaluates the split once per row instead of
    # once per shingle-expression reference
    phrases = (
        spread(d.select("doc_id", "text"))
        .select("doc_id", tokens(F.col("text")).alias("_ts"))
        .select(
            "doc_id",
            F.explode(shingles(F.col("_ts"), _BOILER_N)).alias("phrase"),
        )
    )
    return (
        phrases.groupBy("phrase")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.count(F.lit(1)).alias("occurrences"),
        )
        .filter(F.col("df") >= _BOILER_DF)
        .orderBy(F.desc("df"), F.asc("phrase"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Training sequence packing + paragraph-level dedup
# ---------------------------------------------------------------------------

_PACK_CAPACITY = 256
_PARA_BLOCK = 8


@query(
    "q_sequence_pack",
    covers=("X-SEQPACK",),
    oracle=f"""
    WITH d AS (
        SELECT doc_id, source,
               CAST(len(list_filter(string_split_regex(text, '\\s+'), w -> w != ''))
                    AS BIGINT) AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, source, n_tokens,
               sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum
        FROM d WHERE n_tokens > 0
    )
    SELECT doc_id, source, n_tokens,
           CAST((cum - n_tokens) // {_PACK_CAPACITY} AS BIGINT) AS seq_first,
           CAST((cum - n_tokens) % {_PACK_CAPACITY} AS BIGINT) AS offset_in_seq,
           CAST((cum - 1) // {_PACK_CAPACITY}
                - (cum - n_tokens) // {_PACK_CAPACITY} + 1 AS BIGINT)
               AS n_seqs_spanned
    FROM c
    """,
)
def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training sequence packing (concat-and-split): each document's
    position in the packed fixed-capacity token stream of its source
    shard — seq index, offset, sequences spanned.  A prefix sum, so
    ONE per-shard window cumsum; sharded packing parallelizes where a
    global order would serialize (operators/curation.pack_sequences).
    Ref capability: none (north-star training-pipeline op)."""
    from week4_musemotion_spark.operators.curation import pack_sequences

    return pack_sequences(
        load_table(spark, sf_dir, "documents"), capacity=_PACK_CAPACITY
    )


@query(
    "q_paragraph_dedup",
    covers=("X-PARA-DEDUP",),
    oracle=f"""
    WITH tok AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS ts
        FROM documents
    ),
    ex AS (
        SELECT doc_id,
               CAST(i AS BIGINT) AS para_idx,
               array_to_string(ts[i * {_PARA_BLOCK} + 1 : (i + 1) * {_PARA_BLOCK}], ' ')
                   AS para_text
        FROM (SELECT doc_id, ts,
                     unnest(range(0, CAST(ceil(len(ts) / {_PARA_BLOCK}.0) AS BIGINT))) AS i
              FROM tok WHERE len(ts) > 0)
    ),
    flagged AS (
        SELECT doc_id, para_idx, para_text,
               CASE WHEN row_number() OVER (PARTITION BY para_text
                                            ORDER BY doc_id, para_idx) = 1
                    THEN 1 ELSE 0 END AS kept
        FROM ex
    )
    SELECT doc_id,
           count(*) AS n_paras,
           CAST(sum(kept) AS BIGINT) AS n_kept,
           coalesce(array_to_string(list(para_text ORDER BY para_idx)
                                        FILTER (WHERE kept = 1), ' '), '')
               AS dedup_text
    FROM flagged
    GROUP BY doc_id
    """,
)
def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-global paragraph dedup, first occurrence wins: split
    docs into 8-token paragraphs, rank duplicates corpus-wide, stitch
    each doc back from its surviving paragraphs.  Two shuffles (one
    on paragraph text, one back on doc id) — the minimal plan for
    global-dedup + local-reassembly (operators/curation.
    dedup_paragraphs).  Ref capability: the upsert/dedup seam
    (load_musemotion_to_db.py:96-143) generalized to sub-document
    granularity."""
    from week4_musemotion_spark.operators.curation import dedup_paragraphs

    return dedup_paragraphs(load_table(spark, sf_dir, "documents"), block=_PARA_BLOCK)


@query(
    "q_dup_rate_by_source",
    covers=("X-DUP-AUDIT",),
    oracle="""
    WITH h AS (SELECT doc_id, source, md5(text) AS th FROM documents),
    g AS (SELECT th, min(doc_id) AS keeper FROM h GROUP BY th)
    SELECT source,
           count(*) AS n_docs,
           count(*) FILTER (h.doc_id != g.keeper) AS n_dups,
           CAST((2 * count(*) FILTER (h.doc_id != g.keeper) * 10000 + count(*))
                // (2 * count(*)) AS BIGINT) AS dup_rate_e4
    FROM h JOIN g ON h.th = g.th
    GROUP BY source
    """,
)
def q_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup audit report: per source, how many documents are exact
    duplicates of an earlier doc (keeper = min doc_id per content
    hash) and the dup rate as an exact e4 ratio — the per-provider
    contamination dashboard of a corpus pipeline.  One hash aggregate
    for keepers + one broadcast-joined group-by; text never leaves
    the executors (only 128-bit hashes shuffle)."""
    from week4_musemotion_spark.functions.exact import ratio_e4

    d = load_table(spark, sf_dir, "documents")
    h = d.select("doc_id", "source", F.md5(F.col("text")).alias("th"))
    g = h.groupBy("th").agg(F.min("doc_id").alias("keeper"))
    return (
        h.join(g, "th")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(F.col("doc_id") != F.col("keeper"), 1)).alias("n_dups"),
        )
        .select(
            "source",
            "n_docs",
            "n_dups",
            ratio_e4(F.col("n_dups"), F.col("n_docs")).alias("dup_rate_e4"),
        )
    )


@query(
    "q_quality_by_lang",
    covers=("X-QUALITY-BY-LANG",),
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lang,
               list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS ts
        FROM documents
    ),
    f AS (
        SELECT doc_id, lang, len(ts) AS n_tokens,
               len(list_filter(ts, w -> w IN ({_QS_STOPLIST}))) AS stop_cnt
        FROM tok WHERE len(ts) > 0
    ),
    q AS (
        SELECT doc_id, lang, n_tokens,
               CAST({_quality_e4_sql("n_tokens", "stop_cnt")} AS BIGINT) AS quality_e4
        FROM f
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(quality_e4) AS BIGINT) AS quality_e4_sum
    FROM q
    GROUP BY lang
    """,
)
def q_quality_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-stratified corpus report: per declared language, doc
    count, total tokens, and the exact integer SUM of quality scores
    (consumers divide for the mean — emitting the sum keeps the
    aggregate bit-exact and order-free across engines).  One pass:
    per-row quality expressions feed a single hash aggregate."""
    from week4_musemotion_spark.operators.textstats import quality_stats

    d = load_table(spark, sf_dir, "documents")
    scored = quality_stats(d).filter(F.col("n_tokens") > 0)
    return (
        scored.join(d.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum("quality_e4").cast("long").alias("quality_e4_sum"),
        )
    )


@query(
    "q_curation_funnel",
    covers=("X-CURATION-FUNNEL",),
    oracle=f"""
    WITH t AS (
        SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS ts
        FROM documents
    ),
    s AS (
        SELECT doc_id, len(ts) AS n, len(list_distinct(ts)) AS u,
               len(list_filter(ts, w -> w IN ('the','a','of','and','to','in','is','on','for','with')))
                   AS st
        FROM t
    ),
    f AS (
        SELECT doc_id,
               n >= 20 AS g1,
               n > 0 AND CAST({_quality_e4_sql("n", "st")} AS BIGINT) >= 1500 AS g2,
               n > 0 AND u * 10000 >= 4000 * n AS g3
        FROM s
    )
    SELECT 1 AS stage, 'min_length' AS gate,
           CAST(count(*) AS BIGINT) AS n_in,
           CAST(count(*) FILTER (g1) AS BIGINT) AS n_out
    FROM f
    UNION ALL
    SELECT 2, 'quality_score',
           CAST(count(*) FILTER (g1) AS BIGINT),
           CAST(count(*) FILTER (g1 AND g2) AS BIGINT)
    FROM f
    UNION ALL
    SELECT 3, 'uniqueness',
           CAST(count(*) FILTER (g1 AND g2) AS BIGINT),
           CAST(count(*) FILTER (g1 AND g2 AND g3) AS BIGINT)
    FROM f
    """,
)
def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-funnel attrition report: how many documents each gate
    of the quality pipeline admits — min-length (≥20 tokens), quality
    score (≥0.15), token uniqueness (≥0.4) — the first artifact a
    data-quality review asks for ("where did the corpus go?"), and
    the regression alarm when a gate suddenly drops 80% of a crawl.
    ONE scan computes all gate flags as expressions; the funnel is
    conditional counts over cumulative conjunctions (a gate's n_in is
    the previous gate's n_out by construction, so the report is
    internally consistent even under concurrent data changes —
    single-pass, not three queries racing the corpus)."""
    from week4_musemotion_spark.operators.textstats import quality_stats

    d = load_table(spark, sf_dir, "documents")
    s = quality_stats(d)
    f = s.select(
        (F.col("n_tokens") >= 20).alias("g1"),
        ((F.col("n_tokens") > 0) & (F.col("quality_e4") >= 1500)).alias("g2"),
        (
            (F.col("n_tokens") > 0)
            & (F.col("n_uniq_tokens") * 10_000 >= 4_000 * F.col("n_tokens"))
        ).alias("g3"),
    )
    cnt = lambda c: F.count(F.when(c, 1)).cast("long")  # noqa: E731
    agg = f.agg(
        F.count(F.lit(1)).cast("long").alias("c0"),
        cnt(F.col("g1")).alias("c1"),
        cnt(F.col("g1") & F.col("g2")).alias("c2"),
        cnt(F.col("g1") & F.col("g2") & F.col("g3")).alias("c3"),
    )
    return agg.select(
        F.expr(
            "stack(3, "
            "1, 'min_length', c0, c1, "
            "2, 'quality_score', c1, c2, "
            "3, 'uniqueness', c2, c3) AS (stage, gate, n_in, n_out)"
        )
    ).select(F.col("stage").cast("int").alias("stage"), "gate", "n_in", "n_out")


_PII_DOC = scrub_pii_sql("text")


@query(
    "q_pii_density",
    covers=("X-PII-DENSITY",),
    oracle=f"""
    WITH per_doc AS (
        SELECT source, n_chars,
               {_PII_DOC['n_urls']} AS n_urls,
               {_PII_DOC['n_emails']} AS n_emails,
               {_PII_DOC['n_ips']} AS n_ips
        FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (n_urls + n_emails + n_ips > 0) AS BIGINT)
               AS docs_with_pii,
           CAST(sum(n_urls) AS BIGINT) AS n_urls,
           CAST(sum(n_emails) AS BIGINT) AS n_emails,
           CAST(sum(n_ips) AS BIGINT) AS n_ips,
           CAST((2 * sum(n_urls + n_emails + n_ips) * 1000000 + sum(n_chars))
                // (2 * sum(n_chars)) AS BIGINT) AS pii_per_mchars
    FROM per_doc
    GROUP BY source
    """,
)
def q_pii_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PII exposure report — the monitoring twin of
    q_pii_scrub (which transforms): how many documents carry any
    email/URL/IPv4, the per-class totals, and the density per million
    characters (exact int-div-round) — the number a privacy review
    tracks per ingest source and the alarm when a new crawl source
    spikes.  Counts reuse the scrub chain's exact class-order
    semantics (emails counted after URL redaction, IPs after both),
    so monitor and scrubber can never disagree.

    Scale shape: per-row regexp counts at scan speed in codegen
    (Catalyst prunes the unused redacted-text expression), one tiny
    keyed agg — no shuffle beyond |sources| groups."""
    from week4_musemotion_spark.functions.exact import int_div_round
    from week4_musemotion_spark.operators.curation import scrub_pii

    d = load_table(spark, sf_dir, "documents")
    per_doc = scrub_pii(d, keep_cols=("source", "n_chars")).select(
        "source", "n_chars", "n_urls", "n_emails", "n_ips"
    )
    tot = F.col("n_urls") + F.col("n_emails") + F.col("n_ips")
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count(F.when(tot > 0, 1)).cast("long").alias("docs_with_pii"),
        F.sum("n_urls").cast("long").alias("n_urls"),
        F.sum("n_emails").cast("long").alias("n_emails"),
        F.sum("n_ips").cast("long").alias("n_ips"),
        int_div_round(F.sum(tot) * 1_000_000, F.sum("n_chars")).alias("pii_per_mchars"),
    )
