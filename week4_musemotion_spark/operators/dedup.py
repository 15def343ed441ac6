"""Deduplication operators for large-scale text corpora.

Four families, all expressed with builtin Catalyst expressions:

- :func:`exact_dedup_groups` — hash-groupBy exact dedup.
- :func:`jaccard_pairs` — exact n-gram-Jaccard near-dup pairs via a
  shingle equi-join (the small-scale / verification path).
- :func:`minhash_lsh_pairs` — MinHash signatures + LSH banding to
  generate candidates, then exact-Jaccard verification of candidates
  only (the 100 TB path: cost is O(docs × shingles) for signatures
  plus a band-bucket shuffle; no all-pairs blowup).
- :func:`simhash_signatures` — per-document SimHash bit signature.

Hashing: shingle keys and MinHash already use ``xxhash64`` (one JVM
hash) — their values never reach an output, only the verified pairs
and exact Jaccard do.  SimHash votes and content hashes use the
md5-based ``functions.hashing.stable_hash64``, which the DuckDB oracle
replays bit-for-bit.  The exact
``jaccard_pairs`` join is quadratic in documents sharing a shingle;
it exists as the correctness baseline, while ``minhash_lsh_pairs``
is the operator you run on a cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from week4_musemotion_spark.functions.exact import ratio_e4
from week4_musemotion_spark.functions.hashing import stable_hash64
from week4_musemotion_spark.functions.text import tokens

#: MinHash tuning: 32 independent min-hashes grouped into 16 bands of
#: 2 rows.  Candidate probability at Jaccard s is 1-(1-s^2)^16:
#: ≈ 1-2e-6 at s=0.9 (the planted near-dups), ≈ 2% at the s≤0.07
#: noise floor — false candidates are discarded by exact verification.
NUM_HASHES = 32
BANDS = 16
ROWS_PER_BAND = NUM_HASHES // BANDS


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: hash text, keep the smallest id.

    One partial+final hash aggregate; the md5 collapses arbitrarily
    wide rows to a 128-bit key so the shuffle carries only (hash, id).
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("dup_cnt"))
    )


def shingle_sets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Distinct (id, shingle-hash) pairs.

    Shingles are carried as 64-bit ``xxhash64`` keys, not strings:
    downstream joins/shuffles move 8-byte keys instead of ~20-byte
    strings and compare longs.  Collisions are negligible for
    set-intersection counting (birthday bound ≈ n²/2⁶⁵: ~10⁻⁸ even
    at a billion distinct shingles).

    Formulation: posexplode tokens → window ``lead`` per document.
    The per-row alternative (``transform(sequence, slice, concat_ws)``
    + explode) needs no shuffle but evaluates interpreted array
    lambdas per shingle — measured ~4× slower; the window runs in
    codegen and its doc-keyed shuffle is the exploded token table,
    which the subsequent aggregates reuse.

    ``shingles``, when given, is a prebuilt ``(_id, s)`` shingle
    STRING frame (:func:`shingle_strings` output, repeats allowed —
    the hash distinct collapses them) shared with another detector so
    one tokenize+shingle pass feeds both (see
    q_detector_agreement_ngram); ``df``/``text_col`` are then unused.
    """
    base = (
        shingles
        if shingles is not None
        else shingle_strings(df, text_col, id_col, n)
    )
    return base.select("_id", F.xxhash64("s").alias("shingle")).distinct()


def shingle_strings(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """(_id, s) rows of word n-gram shingle strings (with repeats).

    The input is ``spread`` first: a single-row-group scan would run
    the token explode AND the shuffle write of the full token stream
    in one task (sources.tables.spread) — redistributing the compact
    document rows parallelizes the whole shingle pipeline."""
    from pyspark.sql.window import Window

    from week4_musemotion_spark.sources.tables import spread

    df = spread(df)
    tok = df.select(F.col(id_col).alias("_id"), F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"))
    w = Window.partitionBy("_id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", i).over(w) for i in range(1, n)]
    sh = tok.select(
        "_id",
        F.concat_ws(" ", *parts).alias("s"),
        F.lead("tok", n - 1).over(w).alias("_last"),
    )
    return sh.filter(F.col("_last").isNotNull()).select("_id", "s")


def _intersections(pairs_or_none: DataFrame | None, sh: DataFrame) -> DataFrame:
    """Pairwise intersection counts + Jaccard from a shingle-set
    table; restricted to candidate ``(doc_a, doc_b)`` pairs when
    given, else all pairs sharing ≥1 shingle."""
    sizes = sh.groupBy("_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    if pairs_or_none is None:
        inter = (
            a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a._id") < F.col("b._id")))
            .groupBy(F.col("a._id").alias("doc_a"), F.col("b._id").alias("doc_b"))
            .agg(F.count("*").alias("i"))
        )
    else:
        inter = (
            pairs_or_none.join(a, pairs_or_none.doc_a == F.col("a._id"))
            .join(b, (pairs_or_none.doc_b == F.col("b._id")) & (F.col("a.shingle") == F.col("b.shingle")))
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("i"))
        )
    union_size = F.col("na") + F.col("nb") - F.col("i")
    return (
        inter.join(sizes.withColumnsRenamed({"_id": "doc_a", "n": "na"}), "doc_a")
        .join(sizes.withColumnsRenamed({"_id": "doc_b", "n": "nb"}), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("i") / union_size).alias("jac"),
            # exact ten-thousandths for the emitted value: round(x, 4)
            # on doubles diverges between engines at half boundaries
            ratio_e4(F.col("i").cast("long"), union_size.cast("long")).alias("jaccard_e4"),
        )
    )


def _jaccard_e4():
    return F.col("jaccard_e4")


def jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (≥ threshold).

    The shingle table feeds three plan branches, so it is pinned with
    a lazy local checkpoint: the first job that reaches it
    materializes it once.  ``shingles`` (optional prebuilt ``(_id, s)``
    string frame) lets a paired detector share one shingle pass — see
    :func:`shingle_sets`.
    """
    sh = shingle_sets(df, text_col, id_col, n, shingles=shingles).localCheckpoint(eager=False)
    pairs = _intersections(None, sh)
    return pairs.filter(F.col("jac") >= threshold).select("doc_a", "doc_b", _jaccard_e4())


def minhash_signatures(
    sh: DataFrame, num_hashes: int = NUM_HASHES
) -> DataFrame:
    """MinHash signatures from a (id, shingle-hash) table: one hash
    aggregate computing all ``num_hashes`` mins in a single shuffle.

    The hash family is ``xxhash64(i, shingle)`` — seeded re-hashing of
    the 64-bit shingle key, evaluated once per (shingle, i) on the
    already-exploded rows.  (An earlier formulation re-computed the
    full tokenize→shingle→md5 expression tree per signature column —
    ~60× slower; never nest heavy expression trees N times when an
    explode + groupBy evaluates them once.)
    """
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy("_id").agg(*aggs)


def _band_rows(sigs: DataFrame, *carry: str) -> DataFrame:
    """Explode a signature frame to ``(_id, *carry, band, bh)`` rows:
    one row per LSH band, ``bh`` the band's ``ROWS_PER_BAND`` min-hashes
    hashed together under a per-band seed (``10_000 + band``), so equal
    ``bh`` means a whole band matched.  ``carry`` names extra columns
    of ``sigs`` that ride along (e.g. a batch/corpus side tag)."""
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                F.lit(10_000 + b),
                *[F.col(f"mh_{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)],
            ).alias("bh"),
        )
        for b in range(BANDS)
    ]
    return sigs.select("_id", *carry, F.explode(F.array(*bands)).alias("k")).select(
        "_id", *carry, F.col("k.band").alias("band"), F.col("k.bh").alias("bh")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Near-dup pairs via MinHash + LSH banding + exact verification.

    Stages: (1) explode shingle sets (computed once, 8-byte keys),
    (2) one aggregate → 32-column signatures, (3) explode to one row
    per band, shuffle on (band, band_hash) — documents collide only
    when a whole band matches, (4) distinct candidate pairs,
    (5) exact Jaccard on candidates only.  Output is identical to
    :func:`jaccard_pairs` whenever LSH recall is 1 (by construction
    ~certain above threshold+0.05 with the default banding).
    """
    sh = shingle_sets(df, text_col, id_col, n).localCheckpoint(eager=False)
    # pinned: the band table feeds BOTH sides of the candidate
    # self-join — unpinned, the 32-min signature aggregate and the
    # band explode re-run per side (the shared-build-side rule)
    exploded = _band_rows(minhash_signatures(sh)).localCheckpoint(eager=False)
    a, b = exploded.alias("a"), exploded.alias("b")
    cands = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh")) & (F.col("a._id") < F.col("b._id")))
        .select(F.col("a._id").alias("doc_a"), F.col("b._id").alias("doc_b"))
        .distinct()
    )
    verified = _intersections(cands, sh).filter(F.col("jac") >= threshold)
    return verified.select("doc_a", "doc_b", _jaccard_e4())


def minhash_lsh_join(
    batch: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Cross-frame near-dup join: candidates only between ``batch``
    and ``corpus`` (never corpus×corpus) — the incremental-ingest
    shape, where yesterday's curated corpus is settled and only the
    new batch must be checked against it.

    Same machinery as :func:`minhash_lsh_pairs` (one shingle pass,
    one signature aggregate, band explode, band-bucket equi-join,
    exact-Jaccard verification of candidates), but the band join is
    batch-side × corpus-side, so candidate volume is O(batch-band
    collisions), independent of corpus×corpus density.  At 100 TB the
    corpus band table is a materialized index you append to — that
    lifecycle (build/append/query over parquet) lives in
    ``operators/lsh_index`` with this join as its output contract;
    here it is recomputed per call.  Ids must be distinct across
    frames.

    Output: ``(doc_a=batch id, doc_b=corpus id, jaccard_e4)`` for
    verified Jaccard ≥ threshold.
    """
    tagged = batch.select(F.col(id_col), F.col(text_col), F.lit(1).alias("_is_batch")).unionByName(
        corpus.select(F.col(id_col), F.col(text_col), F.lit(0).alias("_is_batch"))
    )
    sh = shingle_sets(tagged, text_col, id_col, n).localCheckpoint(eager=False)
    sides = tagged.select(F.col(id_col).alias("_id"), "_is_batch")
    sigs = minhash_signatures(sh).join(sides, "_id")
    # pinned: both band-join sides filter this one table — unpinned,
    # the signature aggregate and its sides join re-run per side (the
    # shared-build-side rule)
    exploded = _band_rows(sigs, "_is_batch").localCheckpoint(eager=False)
    a = exploded.filter(F.col("_is_batch") == 1).alias("a")
    b = exploded.filter(F.col("_is_batch") == 0).alias("b")
    cands = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh")))
        .select(F.col("a._id").alias("doc_a"), F.col("b._id").alias("doc_b"))
        .distinct()
    )
    verified = _intersections(cands, sh).filter(F.col("jac") >= threshold)
    return verified.select("doc_a", "doc_b", _jaccard_e4())


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    ngram: int = 1,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Per-document SimHash: sign of per-bit vote sums over distinct
    feature hashes; near-dup docs land at small Hamming distance.

    ``ngram`` picks the feature space: 1 (default) votes over distinct
    unigram tokens; n > 1 votes over distinct word n-gram shingles.
    The feature space decides what "similar" means — on a corpus with
    a small shared vocabulary, unigram signatures collapse (most docs
    share most of the vocab, so votes correlate corpus-wide) while
    shingle signatures track the same n-gram sets a Jaccard detector
    measures; pick the space to match the detector you pair it with
    (see q_detector_agreement / q_detector_agreement_ngram for
    the measured kappa gap: 0.012 vs ~0.9).

    Shape: explode distinct features, hash each once, then one hash
    aggregate computes all ``bits`` vote sums (conditional sums over
    the same rows).  A per-row formulation (``aggregate`` over a
    hash array, once per bit) re-evaluates the md5 array per bit —
    ~bits× the hash work.  The n-gram path reuses
    :func:`shingle_strings` (posexplode + window ``lead`` — codegen,
    measured ~4× faster than the interpreted transform/slice lambda
    form, see shingle_sets) and dedups on the 60-bit portable hash so
    the vote multiset is defined identically in both engines.
    ``shingles`` (optional prebuilt ``(_id, s)`` string frame,
    n-gram path only) lets a paired detector share one shingle pass —
    see :func:`shingle_sets`.
    """
    from week4_musemotion_spark.sources.tables import spread

    if ngram == 1:
        # spread: parallelize the explode+md5 and the vote aggregate's
        # partial pass above a single-row-group scan (sources.tables.spread)
        tok = spread(df).select(
            F.col(id_col).alias("_id"),
            F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok"),
        ).withColumn("h", stable_hash64(F.col("tok")))
    else:
        base = (
            shingles
            if shingles is not None
            else shingle_strings(df, text_col, id_col, ngram)
        )
        tok = base.select("_id", stable_hash64(F.col("s")).alias("h")).distinct()
    votes = tok.groupBy("_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{j}")
            for j in range(bits)
        ]
    )
    sig = None
    for j in range(bits):
        bit = F.when(F.col(f"v{j}") > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = bit if sig is None else sig + bit
    return votes.select(F.col("_id").alias(id_col), sig.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    ngram: int = 1,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs at Hamming distance ≤ ``max_hamming`` over
    SimHash signatures — EXACT output through a bucketed (never
    all-pairs) join.

    Candidate generation splits each signature into ``max_hamming+1``
    bit-bands; two signatures within distance d differ in at most d
    bands, so they agree EXACTLY on at least one band (pigeonhole) —
    banding therefore has perfect recall, not probabilistic recall
    like sign-LSH over cosine, and the final ``bit_count(a XOR b)``
    filter removes false candidates.  Shuffle shape mirrors
    ``minhash_lsh_pairs``: bands explode to (band, band_bits, id)
    rows, candidates come from the band equi-join and only those
    pairs pay the verification compare.
    """
    n_bands = max_hamming + 1
    band_bits = -(-bits // n_bands)
    # the signature build (corpus scan + shingle vote aggregate) feeds
    # BOTH sides of the band self-join — pin the tiny (id, simhash)
    # table so it is computed once
    sig = simhash_signatures(
        df, text_col, id_col, bits, ngram=ngram, shingles=shingles
    ).localCheckpoint(eager=False)
    mask = (1 << band_bits) - 1
    bands = sig.select(
        F.col(id_col).alias("_id"),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("bh"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("k"),
    ).select("_id", "simhash", F.col("k.band").alias("band"), F.col("k.bh").alias("bh"))
    a = bands.select(F.col("_id").alias("doc_a"), F.col("simhash").alias("sig_a"), "band", "bh")
    b = bands.select(F.col("_id").alias("doc_b"), F.col("simhash").alias("sig_b"), "band", "bh")
    return (
        a.join(b, ["band", "bh"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("long").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
    )


def incremental_dedup(
    new_docs: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Batch-vs-corpus exact dedup: new documents whose content hash
    does not already exist in the corpus — the daily-ingest shape
    (O(batch) + one anti-join against the corpus hash set, never a
    corpus²/batch×corpus text compare; at scale the corpus side is a
    bucketed hash table so the anti-join is shuffle-free)."""
    nh = new_docs.select(F.col(id_col), stable_hash64(F.col(text_col)).alias("_h"))
    ch = corpus.select(stable_hash64(F.col(text_col)).alias("_h")).distinct()
    return nh.join(ch, "_h", "left_anti").select(id_col, F.col("_h").alias("content_hash"))
