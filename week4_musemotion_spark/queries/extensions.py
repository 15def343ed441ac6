"""North-star extension queries: dedup, similarity search, text
analysis, multimodal metadata — the training-data-pipeline operators
(BASELINE.json), over the ``documents`` and ``embeddings`` tables.

Oracle strategy: every deterministic operator carries a full DuckDB
oracle, including MinHash (whose *verified* output equals the exact
n-gram-Jaccard pairs whenever LSH recall is 1 — guaranteed by the
banding margin on this corpus, where planted near-dups sit at
Jaccard ≥ 0.9 and noise at ≤ 0.07).  The hyperplane-ANN query is
genuinely approximate → rows-only check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from week4_musemotion_spark.functions.exact import ratio_e4_sql
from week4_musemotion_spark.functions.hashing import stable_hash64_sql
from week4_musemotion_spark.operators.dedup import (
    exact_dedup_groups,
    incremental_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_pairs,
    simhash_signatures,
)
from week4_musemotion_spark.operators.multimodal import extract_media_meta
from week4_musemotion_spark.operators.similarity import (
    cosine_pairs,
    cosine_pairs_lsh,
    knn_brute_force,
    knn_lsh,
)
from week4_musemotion_spark.operators.textstats import (
    LANG_MARKERS,
    QUALITY_STOPWORDS,
    fingerprints,
    lang_id,
    quality_stats,
    token_counts,
)
from week4_musemotion_spark.queries.registry import query
from week4_musemotion_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Oracle SQL builders (kept adjacent to the Spark ops so they can't drift)
# ---------------------------------------------------------------------------


def _shingle_expr(n: int) -> str:
    """DuckDB expression for word n-gram shingles of token list ``ts``."""
    parts = " || ' ' || ".join(f"ts[i+{j}]" for j in range(n))
    return f"list_transform(range(1, len(ts) - {n - 2}), i -> {parts})"


def _jaccard_ctes(threshold: float, n: int = 3) -> str:
    """Shared CTE chain: documents → shingle sets → qualifying
    near-dup pairs (``pairs(doc_a, doc_b, i, na, nb)``)."""
    return f"""tok AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS ts FROM documents),
    raw AS (SELECT doc_id, unnest({_shingle_expr(n)}) AS shingle FROM tok WHERE len(ts) >= {n}),
    sh AS (SELECT DISTINCT doc_id, shingle FROM raw),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT doc_a, doc_b, i, sa.n AS na, sb.n AS nb
        FROM inter
        JOIN sz sa ON doc_a = sa.doc_id
        JOIN sz sb ON doc_b = sb.doc_id
        WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {threshold}
    )"""


def _jaccard_sql(threshold: float, n: int = 3) -> str:
    return f"""
    WITH {_jaccard_ctes(threshold, n)}
    SELECT doc_a, doc_b,
           CAST((2 * i * 10000 + (na + nb - i)) // (2 * (na + nb - i)) AS BIGINT)
               AS jaccard_e4
    FROM pairs
    """


def _simhash_sql(bits: int = 16) -> str:
    h = stable_hash64_sql("w")
    terms = " + ".join(
        f"CASE WHEN list_sum(list_transform(hs, hv -> CASE WHEN (hv >> {j}) & 1 = 1 "
        f"THEN 1 ELSE -1 END)) > 0 THEN {1 << j} ELSE 0 END"
        for j in range(bits)
    )
    return f"""
    WITH t AS (
        SELECT doc_id,
               list_transform(list_distinct(list_filter(string_split_regex(text, '\\s+'), w -> w != '')), w -> {h}) AS hs
        FROM documents
    )
    SELECT doc_id, CAST({terms} AS BIGINT) AS simhash FROM t
    """


_COSINE_SQL_FRAG = """
    list_sum(list_transform(range(1, len({a}) + 1),
             i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))
    / (sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
     * sqrt(list_sum(list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
"""

#: Cosine threshold for embedding near-dup pairs: this corpus has no
#: planted embedding duplicates (max pairwise cosine ≈ 0.51), so the
#: threshold sits below the top pairs to exercise the operator on
#: real rows while staying far from any float boundary.
EMBED_DUP_THRESHOLD = 0.45

#: Jaccard threshold for text near-dup: planted pairs ≥ 0.9, noise
#: ≤ 0.07 — 0.8 splits with a huge margin.
JACCARD_THRESHOLD = 0.8


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@query(
    "q_dedup_exact",
    covers=("X-DEDUP-EXACT",),
    oracle="""
    SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS dup_cnt
    FROM documents
    GROUP BY md5(text)
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via hash-groupBy (keep smallest id per group)."""
    return exact_dedup_groups(load_table(spark, sf_dir, "documents"))


@query("q_dedup_ngram_jaccard", covers=("X-DEDUP-NGRAM",), oracle=_jaccard_sql(JACCARD_THRESHOLD))
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-shingle Jaccard near-dup pairs (≥ 0.8) via a
    shingle equi-join — the correctness baseline for near-dedup."""
    return jaccard_pairs(load_table(spark, sf_dir, "documents"), JACCARD_THRESHOLD)


@query("q_dedup_minhash", covers=("X-DEDUP-MINHASH",), oracle=_jaccard_sql(JACCARD_THRESHOLD))
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32) + LSH(16 bands × 2 rows) candidates, exact-Jaccard
    verified — the scale path.  Oracle is the brute-force Jaccard SQL:
    outputs are identical because verification removes LSH false
    positives and the banding margin makes false negatives vanish."""
    return minhash_lsh_pairs(load_table(spark, sf_dir, "documents"), JACCARD_THRESHOLD)


@query("q_dedup_simhash", covers=("X-DEDUP-SIMHASH",), oracle=_simhash_sql())
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash signature per document (near-dups land at small
    Hamming distance); per-row expression work only."""
    return simhash_signatures(load_table(spark, sf_dir, "documents"))


#: Pairs threshold/width tuned to THIS corpus's geometry: the small
#: synthetic vocabulary correlates simhash votes, compressing the
#: whole Hamming distribution (16-bit signatures put 56% of ALL pairs
#: within distance 3 — noise, and a near-quadratic 16-bucket band
#: join, measured 12.8s at sf0.1).  At 63 bits the left tail thins to
#: 0.5% at distance <= 1, and the two pigeonhole bands are 32 bits
#: wide, so band buckets are near-unique and candidate volume tracks
#: true near-dups.
_SIMHASH_MAX_HAMMING = 1
_SIMHASH_PAIR_BITS = 63


@query(
    "q_dedup_simhash_pairs",
    covers=("X-DEDUP-SIMHASH-PAIRS",),
    oracle=f"""
    WITH s AS ({_simhash_sql(_SIMHASH_PAIR_BITS)})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_MAX_HAMMING}
    """,
)
def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS (Hamming ≤ 1 of 63 bits) through banded
    candidate generation: signatures split into 2 32-bit bands, pairs
    within distance 1 must share ≥1 exact band (pigeonhole → perfect
    recall, unlike probabilistic sign-LSH), bit_count(XOR) verifies.
    The oracle is the quadratic self-join; outputs are identical
    because banding recall is exact by construction.  See
    _SIMHASH_PAIR_BITS for why this corpus needs the wide signature."""
    return simhash_pairs(
        load_table(spark, sf_dir, "documents"), _SIMHASH_MAX_HAMMING, bits=_SIMHASH_PAIR_BITS
    )


@query(
    "q_dedup_incremental",
    covers=("X-DEDUP-INCR",),
    oracle=f"""
    WITH nh AS (
        SELECT doc_id, {stable_hash64_sql("text")} AS content_hash
        FROM documents WHERE doc_id % 2 = 1
    ),
    ch AS (
        SELECT DISTINCT {stable_hash64_sql("text")} AS h
        FROM documents WHERE doc_id % 2 = 0
    )
    SELECT doc_id, content_hash FROM nh
    WHERE NOT EXISTS (SELECT 1 FROM ch WHERE ch.h = nh.content_hash)
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (batch-vs-corpus) exact dedup: odd-id docs are the
    arriving batch, even-id docs the existing corpus; survivors are
    batch docs whose content hash is unseen — one anti-join against
    the corpus hash set, O(batch + corpus) not O(batch × corpus)."""
    d = load_table(spark, sf_dir, "documents")
    return incremental_dedup(
        d.filter(F.col("doc_id") % 2 == 1), d.filter(F.col("doc_id") % 2 == 0)
    )


@query(
    "q_dedup_embedding",
    covers=("X-DEDUP-EMBED",),
    oracle=f"""
    WITH p AS (
        SELECT a.vec_id AS vec_id_a, a.embedding AS va,
               b.vec_id AS vec_id_b, b.embedding AS vb
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    ),
    s AS (
        SELECT vec_id_a, vec_id_b,
               {_COSINE_SQL_FRAG.format(a="va", b="vb")} AS cos
        FROM p
    )
    SELECT vec_id_a, vec_id_b,
           CAST(floor(cos * 1000000 + 0.5) AS BIGINT) AS cosine_e6
    FROM s WHERE cos >= {EMBED_DUP_THRESHOLD}
    """,
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs — exact, distributed
    block-nested-loop (no driver-side corpus collect)."""
    return cosine_pairs(load_table(spark, sf_dir, "embeddings"), EMBED_DUP_THRESHOLD)


#: Threshold for the LSH near-dup path — the real dedup regime.
#: This corpus's organic pairs top out at cosine ≈ 0.51 (see
#: EMBED_DUP_THRESHOLD), so the query plants duplicates: every
#: (vec_id % 25 == 0) vector gets a ×2-scaled copy at vec_id+10⁶.
#: Doubling a float is exact (exponent bump, mantissa untouched), so
#: the copy's direction — hence its sign-bit LSH buckets and its
#: cosine of exactly ~1.0 with the original — is deterministic in
#: both engines, making LSH recall of the planted pairs guaranteed
#: rather than probabilistic and keeping the all-pairs oracle
#: hash-exact.
EMBED_LSH_THRESHOLD = 0.9


@query(
    "q_dedup_embedding_lsh",
    covers=("X-DEDUP-EMBED-LSH",),
    oracle=f"""
    WITH aug AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000,
               list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) * 2 AS FLOAT))
        FROM embeddings WHERE vec_id % 25 = 0
    ),
    p AS (
        SELECT a.vec_id AS vec_id_a, a.embedding AS va,
               b.vec_id AS vec_id_b, b.embedding AS vb
        FROM aug a JOIN aug b ON a.vec_id < b.vec_id
    ),
    s AS (
        SELECT vec_id_a, vec_id_b,
               {_COSINE_SQL_FRAG.format(a="va", b="vb")} AS cos
        FROM p
    )
    SELECT vec_id_a, vec_id_b,
           CAST(floor(cos * 1000000 + 0.5) AS BIGINT) AS cosine_e6
    FROM s WHERE cos >= {EMBED_LSH_THRESHOLD}
    """,
)
def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup at the production threshold (0.9) via
    hyperplane-LSH bucketing + exact rerank — linear-ish shuffle
    shape; oracle is the quadratic all-pairs SQL over the same
    planted-duplicate corpus (see EMBED_LSH_THRESHOLD)."""
    emb = load_table(spark, sf_dir, "embeddings")
    copies = emb.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: (x.cast("double") * 2.0).cast("float")).alias(
            "embedding"
        ),
    )
    aug = emb.select("vec_id", "embedding").unionByName(copies)
    return cosine_pairs_lsh(aug, EMBED_LSH_THRESHOLD)


def _closure_ctes(threshold: float, n: int = 3) -> str:
    """Recursive-CTE transitive closure over the near-dup pair graph,
    composing :func:`_jaccard_ctes` and ending in ``cl(doc_id,
    keep_id)`` — ONE fragment every dedup-cluster oracle builds on
    (clusters, cluster-keep, size distribution, inflation, purity,
    quality bias), so the cluster definition cannot drift between
    oracles.  Callers must open with ``WITH RECURSIVE``."""
    return f"""{_jaccard_ctes(threshold, n)},
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION
        SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    reach(u, v) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    cl AS (SELECT u AS doc_id, least(u, min(v)) AS keep_id
           FROM reach GROUP BY u)"""


def _clusters_sql(threshold: float, n: int = 3) -> str:
    """Oracle for dedup clusters: transitive closure of the near-dup
    pair graph via a recursive CTE, then min reachable id per node —
    an independent (closure-based) formulation of the engine's
    iterative label propagation."""
    return f"""
    WITH RECURSIVE {_closure_ctes(threshold, n)}
    SELECT doc_id, keep_id FROM cl
    """


@query("q_dedup_clusters", covers=("X-DEDUP-CLUSTERS",), oracle=_clusters_sql(JACCARD_THRESHOLD))
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → duplicate CLUSTERS via connected components
    (min-label propagation + pointer jumping, O(log chain-length)
    rounds; A~B and B~C collapse to one cluster even when A~C fell
    below threshold).  Oracle computes the transitive closure with a
    recursive CTE — an algorithmically independent implementation."""
    from week4_musemotion_spark.operators.graph import dedup_clusters

    pairs = jaccard_pairs(load_table(spark, sf_dir, "documents"), JACCARD_THRESHOLD)
    return dedup_clusters(pairs)


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


@query(
    "q_knn_cosine",
    covers=("X-KNN-BRUTE",),
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
    scored AS (
        SELECT query_id, neighbor_id,
               {_COSINE_SQL_FRAG.format(a="qv", b="cv")} AS cos
        FROM c CROSS JOIN q
        WHERE neighbor_id <> query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id ASC) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
           CAST(floor(cos * 1000000 + 0.5) AS BIGINT) AS cosine_e6
    FROM ranked WHERE rank <= 3
    """,
)
def q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-3 neighbors for query vectors vec_id<5
    — broadcast query set, single streaming pass over the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    return knn_brute_force(emb, emb.filter(F.col("vec_id") < 5), k=3)


@query("q_knn_cosine_lsh", covers=("X-KNN-LSH",), oracle=None)
def q_knn_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table hyperplane-LSH ANN (16 tables × 6 sign bits →
    any-table bucket collision → exact rerank).  Approximate by
    construction (bucket recall < 1), hence rows-only check;
    determinism still holds run-to-run because the hyperplanes
    derive from md5."""
    emb = load_table(spark, sf_dir, "embeddings")
    return knn_lsh(emb, emb.filter(F.col("vec_id") < 5), k=3)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_STOPLIST = ", ".join(f"'{w}'" for w in QUALITY_STOPWORDS)


def _quality_e4_sql(nt: str, stop: str) -> str:
    """The exact ``quality_e4`` formula
    (operators/textstats.quality_stats): round-half-up of
    ``50 · min(nt, 200) · (nt − stop) / nt`` in ten-thousandths.
    ONE renderer for every oracle that scores quality — the Spark
    side already shares the one ``quality_stats`` implementation, so
    both engines now have a single formula definition each."""
    return f"(2 * 50 * least({nt}, 200) * ({nt} - {stop}) + {nt}) // (2 * {nt})"


@query(
    "q_text_quality",
    covers=("X-TEXT-QUALITY",),
    oracle=f"""
    WITH t AS (
        SELECT doc_id, length(text) AS n_chars_txt,
               list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS ts
        FROM documents
    ),
    s AS (
        SELECT doc_id, n_chars_txt,
               len(ts) AS n_tokens,
               len(list_distinct(ts)) AS n_uniq_tokens,
               len(list_filter(ts, w -> w IN ({_STOPLIST}))) AS stop_cnt
        FROM t
    )
    SELECT doc_id,
           CAST(n_chars_txt AS BIGINT) AS n_chars_txt,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_uniq_tokens AS BIGINT) AS n_uniq_tokens,
           CAST((2 * stop_cnt * 10000 + n_tokens) // (2 * n_tokens) AS BIGINT) AS stop_ratio_e4,
           CAST({_quality_e4_sql("n_tokens", "stop_cnt")} AS BIGINT) AS quality_e4
    FROM s
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: token counts, stopword ratio, length-damped
    quality score — per-row expression work at scan speed."""
    return quality_stats(load_table(spark, sf_dir, "documents"))


def _lang_id_sql() -> str:
    score = {
        lang: f"len(list_intersect(uniq, [{', '.join(repr(m) for m in markers)}]))"
        for lang, markers in LANG_MARKERS.items()
    }
    langs = list(LANG_MARKERS)
    cases = []
    for i, lang in enumerate(langs[:-1]):
        rest = langs[i + 1 :]
        rest_expr = f"greatest({', '.join('s_' + l for l in rest)})" if len(rest) > 1 else f"s_{rest[0]}"
        cases.append(f"WHEN s_{lang} >= {rest_expr} THEN '{lang}'")
    all_scores = ", ".join("s_" + l for l in langs)
    return f"""
    WITH t AS (SELECT doc_id, lang, list_distinct(list_filter(string_split_regex(text, '\\s+'), w -> w != '')) AS uniq FROM documents),
    s AS (
        SELECT doc_id, lang,
               {", ".join(f"{expr} AS s_{lang}" for lang, expr in score.items())}
        FROM t
    )
    SELECT doc_id, lang AS declared_lang,
           CASE WHEN greatest({all_scores}) = 0 THEN 'und'
                {" ".join(cases)}
                ELSE '{langs[-1]}' END AS lang_pred,
           CAST(greatest({all_scores}) AS BIGINT) AS marker_hits
    FROM s
    """


@query("q_lang_id", covers=("X-TEXT-LANGID",), oracle=_lang_id_sql())
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-stopword language ID with deterministic tie-break."""
    return lang_id(load_table(spark, sf_dir, "documents"))


@query(
    "q_token_count",
    covers=("X-TEXT-TOKENS",),
    oracle="""
    WITH t AS (SELECT *, list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS ws_toks FROM documents)
    SELECT doc_id,
           CAST(len(ws_toks) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT)
               AS n_bpe_tokens,
           CAST((2 * n_chars * 10000 + len(ws_toks))
                // (2 * len(ws_toks)) AS BIGINT) AS chars_per_token_e4
    FROM t
    """,
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counting."""
    return token_counts(load_table(spark, sf_dir, "documents"))


def _fingerprint_sql(n: int = 5) -> str:
    h = stable_hash64_sql("s")
    return f"""
    WITH tok AS (SELECT doc_id, text, list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS ts FROM documents)
    SELECT doc_id, md5(text) AS content_hash,
           list_aggregate(list_transform({_shingle_expr(n)}, s -> {h}), 'min')
               AS shingle_fingerprint
    FROM tok
    """


@query("q_doc_fingerprint", covers=("X-TEXT-FINGERPRINT",), oracle=_fingerprint_sql())
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: content hash + min-5-gram-shingle
    hash (winnowing-style)."""
    return fingerprints(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Multimodal
# ---------------------------------------------------------------------------


@query(
    "q_multimodal_meta",
    covers=("X-MULTIMODAL",),
    oracle=f"""
    WITH h AS (
        SELECT doc_id, strlen(text) AS n_bytes,
               {stable_hash64_sql("('dim:' || text)")} AS hv
        FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id, CAST(n_bytes AS BIGINT) AS n_bytes,
           CAST(64 + hv % 960 AS BIGINT) AS width,
           CAST(64 + (hv // 960) % 960 AS BIGINT) AS height,
           CASE WHEN hv % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format
    FROM h
    """,
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload metadata extraction through the Arrow-batched
    ``mapInPandas`` path (deterministic stub decode — the real codec
    is gated; the distributed plumbing is what's under test)."""
    return extract_media_meta(load_table(spark, sf_dir, "documents"))


@query(
    "q_frame_sample",
    covers=("X-MULTIMODAL", "X-FRAMES"),
    oracle=f"""
    WITH h AS (
        SELECT doc_id, text,
               8 + {stable_hash64_sql("('vid:' || text)")} % 56 AS n_frames
        FROM documents WHERE text IS NOT NULL
    ),
    u AS (
        SELECT doc_id, text, n_frames,
               unnest(range(0, n_frames, 4)) AS frame_idx
        FROM h
    )
    SELECT doc_id,
           CAST(n_frames AS BIGINT) AS n_frames,
           CAST(frame_idx AS BIGINT) AS frame_idx,
           {stable_hash64_sql("('frame:' || text || ':' || CAST(frame_idx AS VARCHAR))")}
               AS frame_fp
    FROM u
    """,
)
def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling through the Arrow-batched 1→many path:
    each binary payload ("video") emits every 4th frame as a row with
    a 60-bit fingerprint.  The decode is the deterministic stub
    (operators/multimodal.py) — frame count and fingerprints are
    md5-derived, so the DuckDB oracle replays the operator exactly,
    value-hashing ~14 frame rows per document.  Scale: sampler output
    is ~1/4 of decoded volume, embarrassingly parallel, and the frame
    rows behave as a normal table downstream (joinable, dedupable by
    fingerprint)."""
    from week4_musemotion_spark.operators.multimodal import sample_frames

    return sample_frames(load_table(spark, sf_dir, "documents"))


_VOCAB_SIZE = 500


@query(
    "q_vocab_oov",
    covers=("X-VOCAB-OOV",),
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'), w -> w != '')) AS tok
        FROM documents
    ),
    vocab AS (
        SELECT tok FROM (
            SELECT tok, count(*) AS cnt FROM tok GROUP BY tok
            ORDER BY cnt DESC, tok ASC LIMIT {_VOCAB_SIZE}
        )
    )
    SELECT t.doc_id,
           count(*) AS n_tokens,
           count(*) FILTER (v.tok IS NULL) AS n_oov,
           {ratio_e4_sql("count(*) FILTER (v.tok IS NULL)", "count(*)")} AS oov_e4
    FROM tok t LEFT JOIN vocab v ON t.tok = v.tok
    GROUP BY t.doc_id
    """,
)
def q_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage / OOV rate: induce the top-500 token vocab
    from the corpus (count desc, token asc — deterministic), then
    score every document's out-of-vocab token share as an exact-
    integer e4 ratio.  Scale shape: the vocab is one partial+final
    aggregate fused with TakeOrdered, then BROADCAST to the token
    stream (it is top-V by construction, so always small); per-doc
    scoring is one keyed aggregate — the token stream shuffles once,
    the corpus never joins itself."""
    from week4_musemotion_spark.functions.exact import ratio_e4
    from week4_musemotion_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    vocab = (
        tok.groupBy("tok")
        .count()
        .orderBy(F.col("count").desc(), F.col("tok").asc())
        .limit(_VOCAB_SIZE)
        .select("tok", F.lit(True).alias("_in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.count(F.when(F.col("_in_vocab").isNull(), 1)).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            ratio_e4(F.col("n_oov"), F.col("n_tokens")).alias("oov_e4"),
        )
    )


@query(
    "q_graph_triangles",
    covers=("X-GRAPH-TRIANGLES",),
    oracle=f"""
    WITH {_jaccard_ctes(JACCARD_THRESHOLD)},
    e AS (SELECT doc_a AS a, doc_b AS b FROM pairs)
    SELECT e1.a AS doc_a, e1.b AS doc_b, e2.b AS doc_c
    FROM e e1
    JOIN e e2 ON e1.b = e2.a
    JOIN e e3 ON e1.a = e3.a AND e2.b = e3.b
    """,
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles in the near-dup graph — dup clusters that are true
    cliques (every pair above threshold) vs mere chains.  Oriented
    double join over the id-ordered edge list; the oracle repeats the
    same algebra over the recursive-CTE-free pair set."""
    from week4_musemotion_spark.operators.graph import triangles

    return triangles(jaccard_pairs(load_table(spark, sf_dir, "documents"), JACCARD_THRESHOLD))


@query(
    "q_fuzzy_join",
    covers=("X-FUZZY-JOIN",),
    oracle="""
    WITH dirty AS (
        SELECT c_custkey + 1000000 AS dirty_id,
               substr(c_name, 1, (c_custkey % 17 + 1) - 1)
               || substr(c_name, (c_custkey % 17 + 1) + 1) AS dirty_name
        FROM customer WHERE c_custkey % 3 = 0
    )
    SELECT d.dirty_id, c.c_custkey AS match_id,
           CAST(levenshtein(d.dirty_name, c.c_name) AS BIGINT) AS dist
    FROM dirty d JOIN customer c ON levenshtein(d.dirty_name, c.c_name) <= 1
    """,
)
def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution: every third customer name gets one character
    deleted (position keyed on the id — deterministic in both
    engines) and must be re-matched to the registry within edit
    distance 1.  The engine uses deletion-neighborhood blocking
    (exact recall, operators/fuzzy.fuzzy_join at k=1) + levenshtein
    verify; the oracle is the quadratic cross-compare — identical
    output because blocking recall is exact."""
    from week4_musemotion_spark.operators.fuzzy import fuzzy_join

    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    dirty = c.filter(F.col("c_custkey") % 3 == 0).select(
        (F.col("c_custkey") + 1_000_000).alias("dirty_id"),
        F.concat(
            F.expr("substring(c_name, 1, pmod(c_custkey, 17) + 1 - 1)"),
            F.expr("substring(c_name, pmod(c_custkey, 17) + 1 + 1, length(c_name))"),
        ).alias("dirty_name"),
    )
    return fuzzy_join(
        c, dirty, "c_name", "dirty_name", dedup_on=["dirty_id", "c_custkey"]
    ).select(
        "dirty_id",
        F.col("c_custkey").alias("match_id"),
        F.col("dist").cast("long").alias("dist"),
    )


# ---------------------------------------------------------------------------
# Multimodal → similarity bridge
# ---------------------------------------------------------------------------


def _media_embed_sql_parts(dim: int = 8) -> tuple[str, str, str]:
    """(per-dim SELECT exprs, norm chain, dot chain) for the stub
    media embedding — generated from ONE loop so the oracle cannot
    drift from operators/multimodal._fake_embed.  Sums are written as
    left-associated chains, matching the sequential accumulation in
    similarity._seq_matmul/_seq_norm term for term."""
    parts = []
    for i in range(dim):
        h = stable_hash64_sql(f"('emb:' || text || ':{i}')")
        parts.append(f"({h} % 2001 - 1000) / 1000.0 AS v{i}")
    vals = ", ".join(parts)
    norm = " + ".join(f"v{i} * v{i}" for i in range(dim))
    dot = " + ".join(f"c.v{i} * q.v{i}" for i in range(dim))
    return vals, norm, dot


_MEDIA_VALS, _MEDIA_NORM, _MEDIA_DOT = _media_embed_sql_parts()


@query(
    "q_media_knn",
    covers=("X-MULTIMODAL", "X-KNN-BRUTE"),
    oracle=f"""
    WITH raw AS (
        SELECT doc_id, {_MEDIA_VALS} FROM documents WHERE text IS NOT NULL
    ),
    e AS (
        SELECT doc_id, {", ".join(f"v{i}" for i in range(8))},
               sqrt({_MEDIA_NORM}) AS nrm
        FROM raw
    ),
    q AS (SELECT * FROM e WHERE doc_id % 100 = 0),
    scored AS (
        SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
               ({_MEDIA_DOT}) / (c.nrm * q.nrm) AS cos
        FROM e c CROSS JOIN q
        WHERE c.doc_id <> q.doc_id AND c.nrm > 0 AND q.nrm > 0
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id ASC) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
           CAST(floor(cos * 1000000 + 0.5) AS BIGINT) AS cosine_e6
    FROM ranked WHERE rank <= 3
    """,
)
def q_media_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal→similarity bridge end-to-end: binary payloads run
    through the Arrow-batched stub encoder (operators/multimodal.
    embed_media — one fixed-dim float64 vector per media row), and
    the resulting vector table feeds knn_brute_force UNCHANGED for
    cosine top-3 per probe (every 100th doc).  This is the pipeline a
    multimodal corpus actually runs — embed once, then search/dedup
    on vectors — and the whole chain is value-hash-checked because
    the stub encoder is an md5 feature map the oracle replays and the
    scorer accumulates in deterministic sequential order.  Scale: the
    embed stage is embarrassingly parallel and emits dim×8 bytes/row;
    the search stage broadcasts only the probe vectors."""
    from week4_musemotion_spark.operators.multimodal import embed_media
    from week4_musemotion_spark.operators.similarity import knn_brute_force

    emb = embed_media(load_table(spark, sf_dir, "documents"))
    probes = emb.filter(F.col("doc_id") % 100 == 0)
    return knn_brute_force(emb, probes, k=3, id_col="doc_id", vec_col="embedding")
