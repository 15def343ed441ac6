"""Corpus-curation operators for training-data pipelines: PII
redaction, repetition statistics (Gopher-style quality signals),
stratified hash sampling, and train/eval n-gram contamination
detection.

The reference repo's curation surface is the pandas cleaning pass
(`/root/reference/pipeline.py:81-123` — trim/nullify/dropna); these
operators extend that hygiene layer to what an LLM-scale corpus
actually needs, with the same engineering rules as the rest of the
engine: builtin Catalyst expressions in the row path, explode-once +
aggregate for token statistics, and engine-portable hashing/exact
integer ratios so every operator is differentially testable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from week4_musemotion_spark.functions.exact import ratio_e4
from week4_musemotion_spark.functions.hashing import stable_hash64
from week4_musemotion_spark.functions.text import tokens
from week4_musemotion_spark.operators.sampling import GRANULARITY, hash_bucket

# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

#: Patterns kept to the Java-regex ∩ RE2 common subset (no
#: lookaround, no backrefs) so the DuckDB oracle runs them verbatim.
#: Redaction order matters and is fixed: URLs first (an URL may
#: contain ``@`` or dotted digits), then emails, then bare IPv4s.
PII_URL = r"https?://[^\s]+"
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"

REDACT_URL = "<URL>"
REDACT_EMAIL = "<EMAIL>"
REDACT_IPV4 = "<IP>"


def scrub_pii(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Detect + redact emails / URLs / IPv4s in one projection.

    Counts are taken on the text *after* the previous class was
    redacted, so an email inside a URL is never double-counted.
    Pure per-row regexp expressions — at 100 TB this runs at scan
    speed inside whole-stage codegen, no shuffle, no Python.

    ``keep_cols`` passes additional input columns through the same
    projection, so monitoring queries that need e.g. ``source`` or
    ``n_chars`` alongside the counts stay a single scan instead of
    joining the counts back to the corpus on ``id_col``.
    """
    t0 = F.col(text_col)
    n_urls = F.regexp_count(t0, F.lit(PII_URL)).cast("long")
    t1 = F.regexp_replace(t0, PII_URL, REDACT_URL)
    n_emails = F.regexp_count(t1, F.lit(PII_EMAIL)).cast("long")
    t2 = F.regexp_replace(t1, PII_EMAIL, REDACT_EMAIL)
    n_ips = F.regexp_count(t2, F.lit(PII_IPV4)).cast("long")
    t3 = F.regexp_replace(t2, PII_IPV4, REDACT_IPV4)
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        n_urls.alias("n_urls"),
        n_emails.alias("n_emails"),
        n_ips.alias("n_ips"),
        t3.alias("redacted"),
    )


def scrub_pii_sql(text_expr: str) -> dict[str, str]:
    """DuckDB twins of :func:`scrub_pii`'s five output expressions
    (kept adjacent so the regex chain can never drift).  DuckDB's
    ``regexp_replace`` is first-match-only without the ``'g'`` flag —
    Spark's replaces all matches, hence the explicit flag."""
    t1 = f"regexp_replace({text_expr}, '{PII_URL}', '{REDACT_URL}', 'g')"
    t2 = f"regexp_replace({t1}, '{PII_EMAIL}', '{REDACT_EMAIL}', 'g')"
    t3 = f"regexp_replace({t2}, '{PII_IPV4}', '{REDACT_IPV4}', 'g')"
    return {
        "n_urls": f"CAST(len(regexp_extract_all({text_expr}, '{PII_URL}')) AS BIGINT)",
        "n_emails": f"CAST(len(regexp_extract_all({t1}, '{PII_EMAIL}')) AS BIGINT)",
        "n_ips": f"CAST(len(regexp_extract_all({t2}, '{PII_IPV4}')) AS BIGINT)",
        "redacted": t3,
    }


# ---------------------------------------------------------------------------
# Repetition statistics (Gopher-style quality signals)
# ---------------------------------------------------------------------------


def repetition_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document repetition signals: distinct-token ratio, most
    frequent token / bigram and their mass fractions — the classic
    "repetitious document" filters from large-corpus curation.

    Shape: ONE posexplode of the token array feeds all three
    branches (totals, unigram top-1, bigram top-1), each a keyed
    aggregate — the explode is computed once and reused, never a
    per-row interpreted-lambda histogram.  All shuffles are keyed by
    doc id (or id+token), so the plan scales linearly with corpus
    size and is skew-free: a document's rows land on one reducer but
    documents are the parallel unit.

    Ties break deterministically: highest count, then lexicographic
    smallest token/bigram.  Ratios are exact ten-thousandths (see
    ``functions.exact``).
    """
    tok = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
    )
    uni = tok.groupBy("_id", "tok").agg(F.count("*").alias("cnt"))
    # totals derive from the unigram counts — no second pass over the
    # exploded token table and no distinct aggregate
    totals = uni.groupBy("_id").agg(
        F.sum("cnt").alias("n_tokens"),
        F.count("*").alias("n_uniq"),
    )
    w1 = Window.partitionBy("_id").orderBy(F.col("cnt").desc(), F.col("tok").asc())
    top1 = (
        uni.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") == 1)
        .select("_id", F.col("tok").alias("top_token"), F.col("cnt").alias("top_cnt"))
    )
    wseq = Window.partitionBy("_id").orderBy("pos")
    nxt = F.lead("tok", 1).over(wseq)
    bg = tok.select("_id", F.concat_ws(" ", F.col("tok"), nxt).alias("bg"), nxt.alias("_nx")).filter(
        F.col("_nx").isNotNull()
    )
    w2 = Window.partitionBy("_id").orderBy(F.col("cnt").desc(), F.col("bg").asc())
    top2 = (
        bg.groupBy("_id", "bg")
        .agg(F.count("*").alias("cnt"))
        .withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") == 1)
        .select("_id", F.col("bg").alias("top_bigram"), F.col("cnt").alias("top_bg_cnt"))
    )
    return (
        totals.join(top1, "_id")
        .join(top2, "_id", "left")  # 1-token docs have no bigram
        .select(
            F.col("_id").alias(id_col),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_uniq").cast("long").alias("n_uniq_tokens"),
            ratio_e4(F.col("n_uniq").cast("long"), F.col("n_tokens").cast("long")).alias(
                "distinct_ratio_e4"
            ),
            F.col("top_token"),
            ratio_e4(F.col("top_cnt").cast("long"), F.col("n_tokens").cast("long")).alias(
                "top_token_ratio_e4"
            ),
            F.col("top_bigram"),
            F.when(
                F.col("n_tokens") > 1,
                ratio_e4(F.col("top_bg_cnt").cast("long"), (F.col("n_tokens") - 1).cast("long")),
            ).alias("top_bigram_ratio_e4"),
        )
    )


# ---------------------------------------------------------------------------
# Stratified sampling
# ---------------------------------------------------------------------------


def stratified_hash_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic hash sample: each stratum keeps its
    own fraction (corpus re-balancing — e.g. upsample a rare source,
    downsample a dominant crawl).  Membership is a pure function of
    the row key, so re-runs, backfills, and other engines agree
    row-for-row (``df.sample``'s per-partition RNG does not survive a
    repartition).  Adds a ``bucket`` column for auditability.

    No shuffle at all: the bucket and the per-stratum threshold are
    row-local expressions — the whole operator is a filter pushed at
    scan speed.
    """
    thr: F.Column | None = None
    for stratum, rate in rates.items():
        cut = F.lit(int(rate * GRANULARITY))
        cond = F.col(strata_col) == stratum
        thr = F.when(cond, cut) if thr is None else thr.when(cond, cut)
    default_cut = F.lit(int(default_rate * GRANULARITY))
    thr = default_cut if thr is None else thr.otherwise(default_cut)
    return df.withColumn("bucket", hash_bucket(key_col).cast("long")).filter(F.col("bucket") < thr)


def cap_per_group(
    df: DataFrame, group_col: str, n: int, key_col: str
) -> DataFrame:
    """Cap each group's contribution at ``n`` rows, selected
    deterministically by hash order (then key) — the per-domain cap
    that keeps a handful of giant crawl domains from dominating a
    training mix.  Hash order makes the retained subset an unbiased,
    re-run-stable sample of the group rather than "whatever sorted
    first".

    One shuffle on the group key feeding a window ``row_number``.
    Groups are the parallel unit; for pathological single-domain skew
    at extreme scale, pre-thin with :func:`hash_sample` at a rate
    ≳ n/|group| before the exact window — hash order is a pure
    selection, so thinning then capping returns the same rows.
    Emits ``cap_rank`` (1-based position in the group's hash order)
    for auditability.
    """
    h = stable_hash64(F.col(key_col).cast("string"))  # full 60-bit order
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col(key_col).asc())
    return (
        df.withColumn("cap_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("cap_rank") <= n)
    )


# ---------------------------------------------------------------------------
# Document chunking
# ---------------------------------------------------------------------------


def chunk_documents(
    df: DataFrame,
    size: int = 32,
    stride: int = 24,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into fixed-token-count chunks with overlap
    (``stride`` < ``size`` overlaps consecutive chunks) — the
    standard pre-tokenization step that turns variable-length
    documents into model-sized training windows.

    Chunk ``i`` covers tokens ``[i·stride, i·stride + size)``;
    chunks are emitted while they still contain unseen tokens, so
    every token lands in ≥1 chunk and the final chunk may be short.
    Entirely per-row higher-order functions (tokenize → transform
    over a chunk-index sequence → slice) followed by one explode —
    no shuffle at all; at 100 TB this is a flat map at scan speed,
    and the output inherits the input's partitioning.
    """
    if stride <= 0 or size <= 0:
        raise ValueError("size and stride must be positive")
    ts = tokens(F.col(text_col))
    n = F.size(ts)
    n_chunks = F.when(n <= size, F.lit(1)).otherwise(
        F.floor((n - size + stride - 1) / F.lit(stride)).cast("int") + 1
    )
    chunk = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.cast("long").alias("chunk_id"),
            F.concat_ws(" ", F.slice(ts, i * stride + 1, size)).alias("chunk_text"),
            F.least(F.lit(size), n - i * stride).cast("long").alias("chunk_tokens"),
        ),
    )
    return (
        df.filter(n > 0)
        .select(F.col(id_col), F.explode(chunk).alias("c"))
        .select(id_col, "c.chunk_id", "c.chunk_text", "c.chunk_tokens")
    )


# ---------------------------------------------------------------------------
# Tokenizer induction: adjacent-pair (BPE merge) statistics
# ---------------------------------------------------------------------------


def bpe_pair_stats(
    df: DataFrame, top_n: int = 50, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-global top adjacent token pairs — the sufficient
    statistic of the first BPE merge decision (and a corpus-level
    repetition signal).  One explode + window ``lead`` per document,
    then a global count aggregate with partial (map-side) combine;
    the top-N is a ``TakeOrderedAndProject``, never a full sort.
    Deterministic total order: count desc, then pair asc."""
    pair = (
        df.select(F.col(id_col).alias("_id"), F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"))
        .select(
            "_id",
            "pos",
            F.col("tok"),
            F.lead("tok", 1).over(Window.partitionBy("_id").orderBy("pos")).alias("nxt"),
        )
        .filter(F.col("nxt").isNotNull())
        .select(F.concat_ws(" ", "tok", "nxt").alias("pair"))
    )
    return (
        pair.groupBy("pair")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("pair").asc())
        .limit(top_n)
        .select(
            "pair",
            F.col("cnt").cast("long").alias("cnt"),
        )
    )


# ---------------------------------------------------------------------------
# Train/eval contamination detection
# ---------------------------------------------------------------------------


def contamination_overlap(
    eval_df: DataFrame,
    train_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Benchmark-contamination check: for every eval document, how
    many of its distinct word ``n``-grams also occur anywhere in the
    training corpus.

    Plan shape (the scale path): both sides reduce to distinct
    (id, shingle-hash) rows — 8-byte keys, computed once via the
    shared explode+window shingler.  Hits come from an *inner*
    equi-join of the (small) eval gram table against the (huge)
    distinct train gram set — with eval being the broadcastable side
    this is a map-side join over the train corpus, no all-pairs
    blowup — then a left join back to per-doc gram totals scores
    unseen docs 0.  Emits exact counts + contamination ratio in
    ten-thousandths.
    """
    from week4_musemotion_spark.operators.dedup import shingle_sets

    # the (small) eval gram table feeds two branches — pin it so the
    # totals and the hit join don't re-shingle the eval corpus
    ev = shingle_sets(eval_df, text_col, id_col, n).localCheckpoint(eager=False)
    tr = shingle_sets(train_df, text_col, id_col, n).select("shingle").distinct()
    totals = ev.groupBy("_id").agg(F.count("*").alias("n_grams"))
    hits = ev.join(tr, "shingle").groupBy("_id").agg(F.count("*").alias("n_hit"))
    return (
        totals.join(hits, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.col("n_grams").cast("long").alias("n_grams"),
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
        )
        .withColumn("contamination_e4", ratio_e4(F.col("n_hit"), F.col("n_grams")))
    )


# ---------------------------------------------------------------------------
# Training sequence packing (concat-and-split)
# ---------------------------------------------------------------------------


def pack_sequences(
    df: DataFrame,
    capacity: int = 256,
    shard_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign each document its position in packed fixed-capacity
    training sequences (GPT-style concat-and-split packing): within a
    shard, documents are concatenated in ``id_col`` order and cut
    every ``capacity`` tokens; a document may span sequences.

    Emits per doc: ``seq_first`` (index of the sequence its first
    token lands in, within the shard), ``offset_in_seq`` (token
    offset there), ``n_seqs_spanned`` — everything a loader needs to
    materialize packed batches without re-scanning neighbors.

    The position function is a prefix sum, so the whole operator is
    ONE window cumsum per shard: shuffle on the shard key, sort by
    doc id, single pass.  Packing is sharded by ``shard_col``
    deliberately — a global packing order would serialize into one
    partition at 100 TB, while per-shard packing wastes at most one
    partial sequence per shard and parallelizes perfectly.
    """
    if capacity <= 0:
        raise ValueError("capacity must be positive")
    n_tok = F.size(tokens(F.col(text_col))).cast("long")
    d = df.select(
        F.col(id_col), F.col(shard_col), n_tok.alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    w = (
        Window.partitionBy(shard_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum("n_tokens").over(w)
    return d.select(
        id_col,
        shard_col,
        "n_tokens",
        F.floor((cum - F.col("n_tokens")) / capacity).cast("long").alias("seq_first"),
        ((cum - F.col("n_tokens")) % capacity).cast("long").alias("offset_in_seq"),
        (F.floor((cum - 1) / capacity) - F.floor((cum - F.col("n_tokens")) / capacity) + 1)
        .cast("long")
        .alias("n_seqs_spanned"),
    )


# ---------------------------------------------------------------------------
# Paragraph-level exact dedup (first occurrence wins)
# ---------------------------------------------------------------------------


def dedup_paragraphs(
    df: DataFrame,
    block: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-global paragraph dedup: split every document into
    fixed-``block``-token paragraphs, keep only the FIRST occurrence
    of each distinct paragraph corpus-wide (ordered by doc id, then
    position), and re-emit each document with its surviving
    paragraphs stitched back in order — the line/paragraph-level
    dedup step (boilerplate paragraphs shared across pages collapse
    to their first carrier).

    One shuffle keyed on paragraph text (the window that ranks
    occurrences), then one shuffle back on the doc id to reassemble —
    matching the minimal two-exchange plan for "global dedup + local
    reassembly".  Paragraph identity is the exact token string, so no
    hash-collision risk and no cross-engine hash agreement needed;
    at 100 TB swap the string key for a 128-bit fingerprint to cut
    shuffle bytes (same plan shape).
    """
    if block <= 0:
        raise ValueError("block must be positive")
    ts = tokens(F.col(text_col))
    n = F.size(ts)
    paras = F.transform(
        F.sequence(F.lit(0), F.ceil(n / F.lit(block)).cast("int") - 1),
        lambda i: F.struct(
            i.cast("long").alias("para_idx"),
            F.concat_ws(" ", F.slice(ts, i * block + 1, block)).alias("para_text"),
        ),
    )
    exploded = (
        df.filter(n > 0)
        .select(F.col(id_col), F.explode(paras).alias("p"))
        .select(id_col, "p.para_idx", "p.para_text")
    )
    w = Window.partitionBy("para_text").orderBy(id_col, "para_idx")
    flagged = exploded.withColumn(
        "kept", (F.row_number().over(w) == 1).cast("int")
    )
    kept_struct = F.when(
        F.col("kept") == 1, F.struct(F.col("para_idx"), F.col("para_text"))
    )
    return flagged.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_paras"),
        F.sum("kept").cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda s: s.para_text
            ),
            " ",
        ).alias("dedup_text"),
    )
