"""Scaling probe: time core query shapes against N× amplified facts.

Amplifies lineitem/orders by unioning key-shifted copies (scan cost
× N with no new files) and times representative shapes at each
factor.  Near-linear growth = the plan scales with data, not with
plan pathology (quadratic joins, driver materialization).

Usage: python tools/scaling_probe.py [sf_dir] [factors...] [--shapes a,b]
Emits one JSON line: {shape: {factor: sec}}.
"""

from __future__ import annotations

import json
import sys
import time
from functools import reduce


def main() -> int:
    args = list(sys.argv[1:])
    only: set[str] | None = None
    if "--shapes" in args:
        i = args.index("--shapes")
        only = set(args[i + 1].split(","))
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    factors = [int(a) for a in args[1:]] or [1, 4, 16]

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    import os

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from week4_musemotion_spark.session import get_spark

    # amplified runs sort multi-million-row variant/token explosions in
    # 32 concurrent tasks; Spark's 1g local-JVM default heap is sized
    # for none of that (must be set before the JVM launches)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEMORY", "12g")
    from week4_musemotion_spark.sources.tables import load_table

    spark = get_spark("scaling-probe")

    def amplify(df: DataFrame, key_cols: list[str], n: int) -> DataFrame:
        copies = []
        for i in range(n):
            c = df
            for k in key_cols:
                c = c.withColumn(k, F.col(k) + F.lit(i * 1_000_000_000))
            copies.append(c)
        return reduce(DataFrame.unionByName, copies)

    def run(df: DataFrame) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 2)

    li0 = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    ord0 = load_table(spark, sf_dir, "orders")
    doc0 = load_table(spark, sf_dir, "documents")
    results: dict[str, dict[int, float]] = {}
    for n in factors:
        li = amplify(li0, ["l_orderkey"], n)
        orders = amplify(ord0, ["o_orderkey"], n)
        docs = amplify(doc0, ["doc_id"], n)
        li.count()  # warm the unioned scan
        orders.count()
        docs.count()

        top = (
            part.groupBy("p_brand").agg(F.count("*").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("p_brand")).limit(5)
        )
        flagship = (
            li.join(F.broadcast(part.select("p_partkey", "p_brand")), li.l_partkey == F.col("p_partkey"))
            .join(F.broadcast(top), "p_brand")
            .select("l_orderkey", "l_linenumber", "p_brand", "cnt", "l_quantity")
            .orderBy(F.col("cnt").desc(), "p_brand", "l_orderkey", "l_linenumber").limit(200)
        )
        agg = li.groupBy("l_returnflag", "l_linestatus").agg(
            F.sum("l_quantity").alias("sq"), F.count("*").alias("c")
        )
        win = li.withColumn(
            "rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"]).Window.partitionBy(
                    "l_orderkey"
                ).orderBy("l_linenumber")
            ),
        )
        # Q18-shape: grouped-fact HAVING shrinks lineitem before the
        # fact⋈fact orderkey join — both sides shuffle on the same key
        factjoin = (
            li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("sq"))
            .filter(F.col("sq") > 150)
            .join(orders, F.col("l_orderkey") == orders.o_orderkey)
            .select("l_orderkey", "o_custkey", "sq")
        )
        # RANGE-frame rolling sum (windows_battery.q_rolling_window shape):
        # one shuffle on the partition key, sliding-pointer frame
        from pyspark.sql.window import Window

        day = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
        rolling = orders.select(
            "o_orderkey", "o_custkey", day.alias("day_key"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        ).withColumn(
            "roll",
            F.sum("cents").over(
                Window.partitionBy("o_custkey").orderBy("day_key").rangeBetween(-29, 0)
            ),
        )
        # paragraph dedup (curation.dedup_paragraphs shape): explode →
        # shuffle on paragraph text → shuffle back on doc id
        from week4_musemotion_spark.operators.curation import dedup_paragraphs

        para = dedup_paragraphs(docs, block=8)
        # embedding near-dup shapes: amplify with ROTATED copies so the
        # result set itself doesn't grow quadratically (identical
        # copies would plant k² dup pairs and measure result size, not
        # plan scaling)
        from week4_musemotion_spark.operators.similarity import cosine_pairs, cosine_pairs_lsh

        emb0 = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        emb_copies = [emb0]
        for i in range(1, n):
            emb_copies.append(
                emb0.select(
                    (F.col("vec_id") + i * 1_000_000).alias("vec_id"),
                    F.concat(
                        F.slice("embedding", i % 63 + 2, 64 - (i % 63 + 1)),
                        F.slice("embedding", 1, i % 63 + 1),
                    ).alias("embedding"),
                )
            )
        emb = reduce(DataFrame.unionByName, emb_copies)
        emb.count()
        embed_exact = cosine_pairs(emb, 0.45)
        embed_lsh = cosine_pairs_lsh(emb, 0.9)
        # string-similarity shapes: amplify customer with per-copy name
        # suffixes 3 edits apart ('aaa', 'bbb', ...) so no CROSS-copy
        # pair is within edit distance 2 — the result grows linearly
        # and the probe measures plan scaling, not result size
        from week4_musemotion_spark.operators.fuzzy import fuzzy_join

        cust0 = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
        cust_copies = []
        for i in range(n):
            suffix = chr(97 + i % 26) * 3
            cust_copies.append(
                cust0.select(
                    (F.col("c_custkey") + i * 1_000_000_000).alias("c_custkey"),
                    F.concat("c_name", F.lit("-" + suffix)).alias("c_name"),
                )
            )
        cust = reduce(DataFrame.unionByName, cust_copies)
        cust.count()
        fdirty = cust.filter(F.col("c_custkey") % 3 == 0).select(
            (F.col("c_custkey") + 500_000_000_000).alias("dirty_id"),
            F.expr(
                "concat(substring(c_name, 1, pmod(c_custkey, 17)), "
                "substring(c_name, pmod(c_custkey, 17) + 2, length(c_name)))"
            ).alias("dirty_name"),
        )
        fuzzy1 = fuzzy_join(
            cust, fdirty, "c_name", "dirty_name", k=1, dedup_on=["dirty_id", "c_custkey"]
        )
        fuzzy2 = fuzzy_join(
            cust, fdirty, "c_name", "dirty_name", k=2, dedup_on=["dirty_id", "c_custkey"]
        )
        # set-similarity shape: per-copy token renaming keeps copies
        # mutually dissimilar; per-copy sources keep stratum sizes
        # constant, so candidates and results both grow linearly
        from week4_musemotion_spark.operators.setjoin import jaccard_self_join

        doc_copies = []
        for i in range(n):
            doc_copies.append(
                doc0.select(
                    (F.col("doc_id") + i * 1_000_000_000).alias("doc_id"),
                    F.concat("source", F.lit(f"_{i}")).alias("source"),
                    F.expr(
                        f"transform(array_distinct(split(text, ' ')), t -> concat(t, '_{i}'))"
                    ).alias("toks"),
                )
            )
        jdocs = reduce(DataFrame.unionByName, doc_copies)
        jdocs.count()
        jacc = jaccard_self_join(jdocs, "doc_id", "toks", tau_e4=8000, within=["source"])
        # lifecycle shapes (queries/lifecycle.py): funnel's per-stage
        # joins shrink monotonically; cohort is keyed agg + join-back;
        # pagerank is the Pregel join+agg loop — per-copy key shifts
        # keep graphs/users disjoint so work grows linearly
        ev0 = load_table(spark, sf_dir, "events")
        ev = amplify(ev0.select("user_id", "event_type", "ts"), ["user_id"], n)
        ev.count()
        prev = None
        for etype in ("view", "click", "purchase"):
            cur = ev.filter(F.col("event_type") == etype)
            if prev is not None:
                cur = cur.join(
                    prev.select("user_id", F.col("t").alias("_pt")), "user_id"
                ).filter(F.col("ts") > F.col("_pt"))
            cur = cur.groupBy("user_id").agg(F.min("ts").alias("t"))
            prev = cur
        funnel = prev
        firsts = orders.groupBy("o_custkey").agg(
            F.min(F.date_trunc("month", "o_orderdate")).alias("cohort")
        )
        mon = lambda c: F.year(c) * 12 + F.month(c)  # noqa: E731
        cohort = (
            orders.join(firsts, "o_custkey")
            .select(
                "o_custkey", "cohort",
                (mon(F.col("o_orderdate")) - mon(F.col("cohort"))).alias("off"),
            )
            .distinct()
            .groupBy("cohort", "off")
            .agg(F.count(F.lit(1)).alias("active"))
        )
        items = li.select("l_orderkey", "l_partkey").distinct()
        bb = items.select("l_orderkey", F.col("l_partkey").alias("pb"))
        prs = (
            items.join(bb, "l_orderkey")
            .filter(F.col("l_partkey") < F.col("pb"))
            .groupBy(F.col("l_partkey").alias("pa"), "pb")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .filter(F.col("cnt") >= 2)
            .select("pa", "pb")
        )
        pedges = prs.select(F.col("pa").alias("u"), F.col("pb").alias("v")).unionByName(
            prs.select(F.col("pb").alias("u"), F.col("pa").alias("v"))
        )
        pdeg = pedges.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
        ped = pedges.join(pdeg, "u")
        pranks = pdeg.select(F.col("u").alias("node"), F.lit(1_000_000).cast("long").alias("r"))
        for _ in range(2):
            contrib = ped.join(pranks, ped["u"] == pranks["node"]).select(
                "v",
                (
                    (85 * ((F.col("r") - F.pmod(F.col("r"), F.col("d"))) / F.col("d")).cast("long"))
                    / 100
                ).cast("long").alias("c"),
            )
            pranks = contrib.groupBy(F.col("v").alias("node")).agg(
                (F.lit(150000) + F.sum("c")).cast("long").alias("r")
            )
        # round-4 shapes: the two-pass distributed cumsum (mixing's
        # budget selection / det-shuffle machinery) and the corpus-LM
        # bigram-coverage join — both must stay linear because their
        # single-partition work is the P-row offset table / nothing
        from week4_musemotion_spark.operators.ranks import with_global_cumsum

        qty = li.select("l_orderkey", "l_linenumber", F.col("l_quantity").cast("long").alias("q"))
        cum = with_global_cumsum(qty, ["l_orderkey", "l_linenumber"], "q", "cum")
        from week4_musemotion_spark.operators.dedup import shingle_strings

        bgr = shingle_strings(docs, n=2)
        bfreq = bgr.groupBy("s").agg(F.count(F.lit(1)).alias("f"))
        bcov = (
            bgr.join(bfreq, "s")
            .groupBy("_id")
            .agg(F.count(F.lit(1)).alias("nb"), F.count(F.when(F.col("f") >= 3, 1)).alias("cov"))
        )

        # k ∝ n SemDeDup (operators/similarity.semantic_dedup): the
        # quantizer fit runs EAGERLY (kmeans_fit collects centroids),
        # so construction is timed together with execution; with k
        # scaled to n the per-cluster pair stage must stay linear
        if only is None or "semantic_dedup_scaledk" in only:
            from week4_musemotion_spark.operators.similarity import semantic_dedup

            t0 = time.perf_counter()
            semantic_dedup(emb, target_cluster_size=64, iters=1).write.format(
                "noop"
            ).mode("overwrite").save()
            results.setdefault("semantic_dedup_scaledk", {})[n] = round(
                time.perf_counter() - t0, 2
            )

        # round-5 shapes: hard-negative mining (broadcast query set,
        # Arrow-batched corpus — must be corpus-linear) and the
        # fixed-point half-life decay (one keyed window+agg with
        # WindowGroupLimit pre-pruning — user-linear).  Guarded like
        # semantic_dedup above: hard_negatives collects+broadcasts its
        # query set EAGERLY at construction, so building it when
        # --shapes excludes it would still run Spark jobs per factor.
        if only is None or "hard_negatives_topk" in only:
            from week4_musemotion_spark.operators.similarity import hard_negatives

            emb0l = load_table(spark, sf_dir, "embeddings")
            lab_copies = [emb0l]
            for i in range(1, n):
                lab_copies.append(
                    emb0l.select(
                        (F.col("vec_id") + i * 1_000_000).alias("vec_id"),
                        F.concat(
                            F.slice("embedding", i % 63 + 2, 64 - (i % 63 + 1)),
                            F.slice("embedding", 1, i % 63 + 1),
                        ).alias("embedding"),
                        "label",
                    )
                )
            emb_l = reduce(DataFrame.unionByName, lab_copies)
            hardneg = hard_negatives(emb_l, emb0l.filter(F.col("vec_id") < 20), k=3)
            results.setdefault("hard_negatives_topk", {})[n] = run(hardneg)
        if only is None or "halflife_decay" in only:
            from week4_musemotion_spark.functions.exact import cents

            ev_d = amplify(
                ev0.select("event_id", "ts", "user_id", "value"), ["user_id", "event_id"], n
            )
            wdec = Window.partitionBy("user_id").orderBy(
                F.col("ts").desc(), F.col("event_id").desc()
            )
            decay = (
                ev_d.select(
                    "user_id",
                    cents(F.coalesce(F.col("value"), F.lit(0.0))).alias("c"),
                    F.row_number().over(wdec).alias("j"),
                )
                .filter(F.col("j") <= 16)
                .groupBy("user_id")
                .agg(F.sum(F.expr("c * shiftleft(CAST(1 AS BIGINT), 16 - j)")).alias("s"))
            )
            results.setdefault("halflife_decay", {})[n] = run(decay)

        # round-6 shapes: the MG-sketch heavy hitters (candidate
        # shuffle is O(partitions × den) regardless of token volume —
        # must be scan-linear) and the d²-sufficient-statistics gram /
        # PCA (kernel emits O(d²) per partition; combine and eigsolve
        # are data-size-independent).  pca_fit collects partials
        # EAGERLY, so it is timed in a guarded block.
        from week4_musemotion_spark.functions.text import tokens as _tokens
        from week4_musemotion_spark.operators.sketches import heavy_hitters

        hh = heavy_hitters(
            docs.select(F.explode(_tokens(F.col("text"))).alias("term")), "term", den=512
        )
        from week4_musemotion_spark.operators.linalg import gram_exact

        gram = gram_exact(emb.select("embedding"), "embedding")
        if only is None or "pca_fit_moments" in only:
            from week4_musemotion_spark.operators.linalg import pca_fit

            t0 = time.perf_counter()
            pca_fit(emb.select("embedding"), "embedding", k=8)
            results.setdefault("pca_fit_moments", {})[n] = round(
                time.perf_counter() - t0, 2
            )

        # round-6 late shapes: portable-HLL registers (shuffle bounded
        # by m rows/source/partition no matter the stream), bloom-
        # pruned join (constant-size bitmap built eagerly + scan-side
        # filter — timed together, the build is part of the operator),
        # and duplicated-span coverage (gram stream shuffles 8-byte
        # hashes; identical amplified copies make every gram cross-doc
        # so result size stays |sources|).
        from week4_musemotion_spark.functions.text import shingles as _shingles
        from week4_musemotion_spark.operators.sketches import (
            bloom_might_contain,
            build_key_bloom,
            hll_estimate,
            hll_registers,
        )

        sh_stream = docs.select(
            "source", F.explode(_shingles(_tokens(F.col("text")), 3)).alias("s")
        )
        hll = hll_estimate(hll_registers(sh_stream, ["source"], "s"), ["source"])
        from week4_musemotion_spark.operators.sketches import cms_sketch

        cms = cms_sketch(sh_stream.select("s"), [], "s", width=8192, depth=4)
        if only is None or "bloom_pruned_join" in only:
            from week4_musemotion_spark.queries.sketch_quality import _bloom_part_pred

            bdim = part.filter(_bloom_part_pred())
            t0 = time.perf_counter()
            bwords = build_key_bloom(bdim.select("p_partkey"), "p_partkey")
            bl = (
                li.filter(bloom_might_contain(F.col("l_partkey"), bwords))
                .join(F.broadcast(bdim.select("p_partkey", "p_brand")),
                      F.col("l_partkey") == F.col("p_partkey"))
                .groupBy("p_brand")
                .agg(F.sum("l_quantity").alias("q"))
            )
            bl.write.format("noop").mode("overwrite").save()
            results.setdefault("bloom_pruned_join", {})[n] = round(
                time.perf_counter() - t0, 2
            )
        from pyspark.sql.window import Window as _W

        from week4_musemotion_spark.functions.hashing import stable_hash64 as _sh64

        span_gd = (
            docs.select(
                "doc_id", "source",
                F.explode(_shingles(_tokens(F.col("text")), 8)).alias("s"),
            )
            .select("doc_id", "source", _sh64(F.col("s")).alias("h"))
            .groupBy("h", "doc_id", "source")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        span = (
            span_gd.withColumn("nd", F.count(F.lit(1)).over(_W.partitionBy("h")))
            .groupBy("source")
            .agg(
                F.sum("cnt").alias("n_spans"),
                F.sum(F.when(F.col("nd") >= 2, F.col("cnt")).otherwise(F.lit(0))).alias("dup"),
            )
        )

        # round-9 shapes: winnowing selection (posexplode →
        # packed key → ONE window-min + per-doc agg on the same keys
        # — must track the stream linearly with a single keyed
        # shuffle) and the df-capped substring-run join (amplified
        # identical copies push every gram's doc-frequency past
        # _RUN_MAXDF, so the stop-gram filter — not fanout — absorbs
        # the duplication flood; the join must NOT grow
        # quadratically).
        from week4_musemotion_spark.queries.provenance import (
            _H40 as _wH40,
            _POSM as _wPOSM,
            _RUN_MAXDF as _rMAXDF,
            _RUN_N as _rN,
            _WK as _wWK,
            _WW as _wWW,
        )

        wg = docs.select(
            "doc_id", "source",
            F.posexplode(_shingles(_tokens(F.col("text")), _wWK)).alias("pos", "s"),
        )
        wkey = (_sh64(F.col("s")) % F.lit(_wH40)) * F.lit(_wPOSM) + (
            F.lit(_wPOSM - 1) - F.col("pos")
        )
        wwin = _W.partitionBy("doc_id", "source").orderBy("pos").rowsBetween(
            -(_wWW - 1), _W.currentRow
        )
        winnow = (
            wg.select("doc_id", "source", "pos", F.min(wkey).over(wwin).alias("selkey"))
            .groupBy("doc_id", "source")
            .agg(
                (F.max("pos") + 1).alias("n_grams"),
                F.countDistinct(
                    F.when(F.col("pos") >= _wWW - 1, F.col("selkey"))
                ).alias("n_prints"),
            )
            .groupBy("source")
            .agg(F.sum("n_grams").alias("g"), F.sum("n_prints").alias("p"))
        )
        rhx = docs.select(
            "doc_id", F.posexplode(_shingles(_tokens(F.col("text")), _rN)).alias("pos", "s")
        ).select("doc_id", "pos", _sh64(F.col("s")).alias("h"))
        rk = rhx.withColumn(
            "dr", F.dense_rank().over(_W.partitionBy("h").orderBy("doc_id"))
        ).withColumn("nd", F.max("dr").over(_W.partitionBy("h")))
        rkeep = rk.filter((F.col("nd") >= 2) & (F.col("nd") <= _rMAXDF)).select(
            "doc_id", "pos", "h"
        )
        rmt = (
            rkeep.select(F.col("doc_id").alias("doc_a"), F.col("pos").alias("pa"), "h")
            .join(rkeep.select(F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb"), "h"), "h")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("m"))
        )

        # round-10 shapes: fixed-point BM25 (term filter below
        # the tf aggregate — only matching tokens shuffle, so cost
        # tracks the scan) and the effective-token accounting (CC
        # over banded pairs + cluster-size join back; the corpus scan
        # carries the token counting).
        from week4_musemotion_spark.functions.exact import dec as _dec
        from week4_musemotion_spark.functions.exact import int_div_trunc as _idt
        from week4_musemotion_spark.operators.dedup import jaccard_pairs as _jp
        from week4_musemotion_spark.operators.graph import dedup_clusters as _dc
        from week4_musemotion_spark.queries.extensions import (
            JACCARD_THRESHOLD as _JT,
        )
        from week4_musemotion_spark.queries.corpus_accounting import (
            _BM25_B_E3,
            _BM25_K1_E3,
            _BM25_TERMS,
        )

        _terms = _BM25_TERMS
        _btok = docs.select("doc_id", _tokens(F.col("text")).alias("ts"))
        _bdl = _btok.select("doc_id", F.size("ts").cast("long").alias("dl"))
        _bn = _btok.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.size("ts")).cast("long").alias("total_tokens"),
        )
        _bh = _btok.select("doc_id", F.explode("ts").alias("term")).filter(
            F.col("term").isin(*_terms)
        )
        _btf = _bh.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
        _bdf = _bh.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
        _bsc = (
            _btf.join(F.broadcast(_bdf), "term")
            .join(_bdl, "doc_id")
            .join(F.broadcast(_bn))
            .select(
                "doc_id",
                _idt(F.col("n_docs") * 1000, F.col("df")).alias("idf_int"),
                _idt(F.col("dl") * 1000 * F.col("n_docs"), F.col("total_tokens")).alias("r_e3"),
                "tf",
            )
        )
        _bden = F.col("tf") * 1000 + _idt(
            F.lit(_BM25_K1_E3)
            * (F.lit(1000 - _BM25_B_E3) + _idt(F.lit(_BM25_B_E3) * F.col("r_e3"), F.lit(1000))),
            F.lit(1000),
        )
        bm25 = (
            _bsc.select(
                "doc_id",
                _idt(
                    _dec(F.col("idf_int")) * F.col("tf") * (_BM25_K1_E3 + 1000), _bden
                ).alias("c"),
            )
            .groupBy("doc_id")
            .agg(F.sum("c").alias("score"), F.count(F.lit(1)).alias("hits"))
            .orderBy(F.desc("score"), "doc_id")
            .limit(20)
        )
        # CC's pointer-jumping rounds run EAGERLY while dedup_clusters
        # builds its result (driver-coordinated iterations), so this
        # shape times construction + execution together (the pca_fit
        # pattern) — timing only the final plan would hide the CC cost
        if only is None or "effective_tokens_cc_join" in only:
            t0 = time.perf_counter()
            _cl = _dc(_jp(docs, _JT))
            _csz = _cl.groupBy("keep_id").agg(F.count(F.lit(1)).alias("csize"))
            _mem = _cl.join(_csz, "keep_id").select("doc_id", "csize")
            efftok = (
                docs.select(
                    "doc_id", "source", F.size(_tokens(F.col("text"))).cast("long").alias("nt")
                )
                .join(_mem, "doc_id", "left")
                .select("source", "nt", F.coalesce("csize", F.lit(1)).alias("cs"))
                .groupBy("source")
                .agg(
                    F.sum(_idt(_dec(F.col("nt")) * 1_000_000, F.col("cs"))).alias("eff"),
                    F.sum("nt").alias("raw"),
                )
            )
            efftok.write.format("noop").mode("overwrite").save()
            results.setdefault("effective_tokens_cc_join", {})[n] = round(
                time.perf_counter() - t0, 2
            )

        # round-7 shapes: the log-bucket quantile sketch (corpus
        # collapses to <= ~260 bucket rows per group in ONE grouped
        # count — must be scan-linear with a flat readout) and the
        # source TV-distance (count-table self-join on term: per-term
        # fanout is sources^2, so growth must track token volume,
        # never corpus^2).
        from week4_musemotion_spark.operators.qsketch import (
            bucket_counts as _qbc,
            quantiles_from_counts as _qfc,
        )

        qsk = _qfc(
            _qbc(docs.select("source", F.length("text").alias("v")), ["source"], "v"),
            ["source"],
        )
        _tvt = docs.select("source", F.explode(_tokens(F.col("text"))).alias("term"))
        _tvc = _tvt.groupBy("source", "term").agg(F.count(F.lit(1)).alias("cnt"))
        _tvc = _tvc.localCheckpoint(eager=False)
        _tvn = _tvc.groupBy("source").agg(F.sum("cnt").alias("nn"))
        tvd = (
            _tvc.select(F.col("source").alias("sa"), "term", F.col("cnt").alias("ca"))
            .join(
                _tvc.select(F.col("source").alias("sb"), "term", F.col("cnt").alias("cb")),
                "term",
            )
            .filter(F.col("sa") < F.col("sb"))
            .join(F.broadcast(_tvn.select(F.col("source").alias("sa"), F.col("nn").alias("na"))), "sa")
            .join(F.broadcast(_tvn.select(F.col("source").alias("sb"), F.col("nn").alias("nb"))), "sb")
            .groupBy("sa", "sb")
            .agg(F.sum(F.abs(_dec(F.col("ca")) * F.col("nb") - _dec(F.col("cb")) * F.col("na"))).alias("sabs"))
        )

        # round-7 late shape: PQ encode+ADC (codes are 32-bit per
        # vector; the search scans codes once with broadcast distance
        # tables — must be corpus-linear).  pq_fit/collects run
        # EAGERLY at build, so the shape is guarded like pca_fit.
        if only is None or "pq_encode_adc" in only:
            from week4_musemotion_spark.operators.pq import (
                adc_topk,
                pq_encode,
                seed_codebooks,
            )

            emb0p = load_table(spark, sf_dir, "embeddings")
            rot_copies = [emb0p]
            for i in range(1, n):
                rot_copies.append(
                    emb0p.select(
                        (F.col("vec_id") + i * 1_000_000).alias("vec_id"),
                        F.concat(
                            F.slice("embedding", i % 63 + 2, 64 - (i % 63 + 1)),
                            F.slice("embedding", 1, i % 63 + 1),
                        ).alias("embedding"),
                        "label",
                    )
                )
            emb_p = reduce(DataFrame.unionByName, rot_copies)
            t0 = time.perf_counter()
            mdl = seed_codebooks(emb0p, m=4, k=8)
            adc = adc_topk(pq_encode(emb_p, mdl), mdl, emb0p.filter(F.col("vec_id") < 5), k=3)
            adc.write.format("noop").mode("overwrite").save()
            results.setdefault("pq_encode_adc", {})[n] = round(time.perf_counter() - t0, 2)

        for shape, df in [
            ("flagship_topk_join", flagship),
            ("group_agg", agg),
            ("window_rank", win),
            ("factfact_join_having", factjoin),
            ("rolling_range_window", rolling),
            ("paragraph_dedup", para),
            ("embed_pairs_exact_blocked", embed_exact),
            ("embed_pairs_lsh", embed_lsh),
            ("fuzzy_edit1_join", fuzzy1),
            ("fuzzy_edit2_join", fuzzy2),
            ("jaccard_prefix_join", jacc),
            ("funnel_staged_joins", funnel),
            ("cohort_retention", cohort),
            ("pagerank_2iter", pranks),
            ("global_cumsum_2pass", cum),
            ("bigram_coverage_join", bcov),
            ("heavy_hitters_sketch", hh),
            ("gram_exact_moments", gram),
            ("hll_registers_sketch", hll),
            ("dup_span_window", span),
            ("cms_cells_sketch", cms),
            ("winnow_select_window", winnow),
            ("substring_runs_dfcap_join", rmt),
            ("bm25_fixed_point", bm25),
            ("qsketch_quantiles", qsk),
            ("tv_distance_pairs", tvd),
        ]:
            if only is not None and shape not in only:
                continue
            results.setdefault(shape, {})[n] = run(df)

    rows = {n: li0.count() * n for n in factors}
    print(json.dumps({"base_rows": li0.count(), "rows": rows, "timings_sec": results}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
