"""Retrieval evaluation of the engine's own rankings.

- q_ndcg_eval — nDCG@20 of the BM25 ranking against a graded
  relevance oracle (rel(doc) = number of distinct query terms the
  document contains), in exact integers: the 1/log2(rank+1)
  discounts are Python-precomputed e9 constants rendered into BOTH
  engines (the RBO coefficient-table pattern — no engine log math),
  so DCG, ideal DCG, and the e6 ratio replay bit-for-bit.  This is
  the eval harness number a retrieval change is judged by, computed
  on the engine's own ranking via the registered q_bm25_topk oracle
  (single-sourced — the ranking and its evaluation can never drift).

Differential evidence: the ``*_matches_oracle`` tests (conftest.oracle_diff
at sf0.001; sf0.01/sf0.1 via ``tools/check_correctness.py``).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from week4_musemotion_spark.functions.exact import dec, int_div_trunc
from week4_musemotion_spark.queries.corpus_accounting import _BM25_TERMS, _BM25_TERMS_SQL
from week4_musemotion_spark.queries.ranking_audits import _ranked_oracle
from week4_musemotion_spark.queries.registry import REGISTRY, query
from week4_musemotion_spark.sources.tables import load_table

#: Evaluation depth and the e9 discount table w_i = round(1e9 /
#: log2(i+1)), i = 1..K — Python-precomputed ONCE and rendered into
#: both engines, so no libm log ever runs engine-side (last-ulp log
#: differences are exactly the class of divergence the integer
#: discipline exists to avoid).
_NDCG_K = 20
_NDCG_W = tuple(round(1_000_000_000 / math.log2(i + 1)) for i in range(1, _NDCG_K + 1))


@query(
    "q_ndcg_eval",
    covers=("X-NDCG",),
    oracle=f"""
    WITH r AS ({_ranked_oracle("q_bm25_topk")}),
    tok2 AS (
        SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'), w -> w != '')) AS term
        FROM documents
    ),
    rel AS (
        SELECT doc_id, CAST(count(DISTINCT term) AS BIGINT) AS rel
        FROM tok2 WHERE term IN ({_BM25_TERMS_SQL}) GROUP BY doc_id
    ),
    w AS (SELECT unnest(range(1, {_NDCG_K + 1})) AS rnk,
                 unnest([{", ".join(map(str, _NDCG_W))}]) AS w),
    dcg AS (
        SELECT sum(COALESCE(rel.rel, 0) * w.w) AS dcg
        FROM r JOIN w ON w.rnk = r.rnk LEFT JOIN rel ON rel.doc_id = r.doc_id
    ),
    ideal AS (
        SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id) AS rnk FROM rel
    ),
    idcg AS (SELECT sum(rel * w.w) AS idcg FROM ideal JOIN w ON w.rnk = ideal.rnk)
    SELECT CAST({_NDCG_K} AS BIGINT) AS k,
           CAST(dcg.dcg AS BIGINT) AS dcg_e9,
           CAST(idcg.idcg AS BIGINT) AS idcg_e9,
           CAST(CASE WHEN idcg.idcg > 0
                     THEN CAST(dcg.dcg AS HUGEINT) * 1000000 // idcg.idcg END AS BIGINT)
               AS ndcg_e6
    FROM dcg CROSS JOIN idcg
    """,
)
def q_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@20 of the engine's BM25 ranking, exact to the e6 digit:
    graded relevance = distinct query terms contained (0..3 — crude
    but DETERMINISTIC, which is what an engine-eval needs; swap in
    human labels at will), discounts from the precomputed e9 table,
    ideal ranking = corpus docs by (rel desc, doc_id).  The ranking
    under evaluation is the REGISTERED q_bm25_topk — builder on the
    Spark side, its oracle wrapped as a CTE on the DuckDB side — so
    the eval can never drift from the thing it evaluates.

    Scale shape: the ranking is top-k (tiny); relevance is one
    term-filtered aggregate (only matching tokens shuffle, same
    prune as BM25 itself); the ideal ranking sorts |rel>0 docs| ≤
    df(terms) rows.  Everything after the scans is joins of ≤ k-row
    and ≤ df-row frames."""
    from week4_musemotion_spark.functions.text import tokens

    bm = REGISTRY["q_bm25_topk"].builder(spark, sf_dir)
    r = bm.select(
        "doc_id",
        F.row_number().over(Window.orderBy(F.desc("score"), "doc_id")).alias("rnk"),
    )
    d = load_table(spark, sf_dir, "documents")
    rel = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id")
        .agg(F.countDistinct("term").cast("long").alias("rel"))
    ).localCheckpoint(eager=False)  # feeds DCG and the ideal ranking
    wtab = spark.createDataFrame(
        [(i + 1, w) for i, w in enumerate(_NDCG_W)], "rnk int, w long"
    )
    dcg = (
        r.join(F.broadcast(wtab), "rnk")
        .join(rel, "doc_id", "left")
        .agg(F.sum(F.coalesce(F.col("rel"), F.lit(0)) * F.col("w")).alias("dcg"))
    )
    # Only ranks 1..K carry nonzero nDCG weight (the wtab join drops
    # the rest), so take the top K FIRST — orderBy().limit() compiles
    # to a distributed TakeOrderedAndProject, leaving the one
    # single-partition row_number frame constant-size (K rows) at any
    # corpus scale instead of df(terms)-dependent.
    ideal = (
        rel.orderBy(F.desc("rel"), "doc_id")
        .limit(_NDCG_K)
        .select(
            "rel",
            F.row_number().over(Window.orderBy(F.desc("rel"), "doc_id")).alias("rnk"),
        )
    )
    idcg = ideal.join(F.broadcast(wtab), "rnk").agg(
        F.sum(F.col("rel") * F.col("w")).alias("idcg")
    )
    return (
        dcg.crossJoin(idcg)
        .select(
            F.lit(_NDCG_K).cast("long").alias("k"),
            F.col("dcg").cast("long").alias("dcg_e9"),
            F.col("idcg").cast("long").alias("idcg_e9"),
            F.when(
                F.col("idcg") > 0,
                int_div_trunc(dec(F.col("dcg")) * 1_000_000, F.col("idcg")),
            ).alias("ndcg_e6"),
        )
    )
