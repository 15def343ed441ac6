"""Plan-quality tests: the optimizer properties that matter at scale
must hold on the real queries (SURVEY.md §4)."""

from __future__ import annotations

from tests.conftest import SF_SMOKE


def _q(name):
    from week4_musemotion_spark.queries import REGISTRY

    return REGISTRY[name].builder


def test_point_lookup_pushes_filter_and_prunes(spark):
    from tests.plan_asserts import assert_column_pruned, assert_filter_pushed

    df = _q("q_point_lookup")(spark, SF_SMOKE)
    assert_filter_pushed(df, "o_orderkey")
    assert_column_pruned(df, "o_orderdate")  # unselected column never read


def test_projection_prunes_scan(spark):
    from tests.plan_asserts import assert_column_pruned

    df = _q("q_read_limit")(spark, SF_SMOKE)
    assert_column_pruned(df, "l_extendedprice" + "x")  # sanity: never fails on absent col
    assert_column_pruned(df, "l_shipdate")
    assert_column_pruned(df, "l_partkey")


def test_flagship_broadcasts_and_fuses_topk(spark):
    from tests.plan_asserts import assert_broadcast_join, assert_top_k_fused

    df = _q("q_cte_topk_join")(spark, SF_SMOKE)
    assert_broadcast_join(df)
    assert_top_k_fused(df)


def test_dim_joins_broadcast(spark):
    from tests.plan_asserts import assert_broadcast_join

    for name in ("q_inner_join", "q_multi_dim_join"):
        assert_broadcast_join(_q(name)(spark, SF_SMOKE))


def test_filter_sort_uses_topk(spark):
    from tests.plan_asserts import assert_top_k_fused

    assert_top_k_fused(_q("q_filter_sort")(spark, SF_SMOKE))


def test_groupby_partial_aggregation(spark):
    from tests.plan_asserts import assert_partial_aggregation

    for name in ("q_count_by_group", "q_having_avg", "q_stats_agg"):
        assert_partial_aggregation(_q(name)(spark, SF_SMOKE))


def test_cleaning_pipeline_is_single_stage(spark, reference_csv):
    """The ETL chain must stay shuffle-free (narrow transforms only)."""
    from week4_musemotion_spark.operators.etl import clean_musemotion
    from tests.plan_asserts import count_shuffles
    from week4_musemotion_spark.sources.csv import read_headerless_csv

    df = clean_musemotion(read_headerless_csv(spark, reference_csv))
    assert count_shuffles(df) == 0


def test_cleaning_plan_has_no_regex_trim_and_no_shuffle(spark, tmp_path):
    """The clean trims with builtin ``btrim``: no ``regexp_replace``
    in its optimized plan, and no exchange."""
    from tests.plan_asserts import count_shuffles
    from week4_musemotion_spark.operators.etl import clean_musemotion
    from week4_musemotion_spark.sources.csv import read_headerless_csv

    path = tmp_path / "batch.csv"
    path.write_text("VIN1, Seattle ,2020,TESLA,MODEL Y,BEV,e,10,1,POINT (-122.3 47.6),PSE\n")
    df = clean_musemotion(read_headerless_csv(spark, str(path)))
    assert "regexp_replace" not in df._jdf.queryExecution().optimizedPlan().toString()
    assert count_shuffles(df) == 0


def test_scan_speed_queries_whole_stage_codegen(spark):
    from tests.plan_asserts import assert_whole_stage_codegen

    for name in ("q_trim_nullify", "q_safe_cast", "q_regex_extract_point", "q_text_quality"):
        assert_whole_stage_codegen(_q(name)(spark, SF_SMOKE))


def test_runtime_bloom_filter_join_pruning(spark):
    """At 100 TB, a selective dim-side filter should prune the fact
    scan via a runtime Bloom filter when the join can't broadcast.
    Size thresholds hide the rewrite at test scale — lower them to
    observe the plan Spark would produce on real volumes."""
    from pyspark.sql import functions as F

    from week4_musemotion_spark.plans.audit import plan_string
    from week4_musemotion_spark.sources.tables import load_table

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        li = load_table(spark, SF_SMOKE, "lineitem")
        o = load_table(spark, SF_SMOKE, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).select(
            "l_orderkey", "l_extendedprice", "o_totalprice"
        )
        assert "bloom" in plan_string(j, "extended").lower()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_vocab_oov_broadcasts_vocab_and_fuses_topv(spark):
    """The induced vocab must reach the token stream as a broadcast
    (it is top-V, always small) and the top-V itself must fuse to
    TakeOrderedAndProject — no sort of the full token-count table."""
    from week4_musemotion_spark.plans.audit import plan_string
    from week4_musemotion_spark.queries import REGISTRY

    plan = plan_string(REGISTRY["q_vocab_oov"].builder(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_incremental_dedup_plans_anti_join(spark):
    """Batch-vs-corpus dedup must be a hash anti-join on the content
    hash, never any text-vs-text comparison."""
    from week4_musemotion_spark.plans.audit import plan_string
    from week4_musemotion_spark.queries import REGISTRY

    plan = plan_string(REGISTRY["q_dedup_incremental"].builder(spark, SF_SMOKE))
    assert "LeftAnti" in plan


def test_no_cartesian_in_similarity_and_fuzzy_joins(spark):
    """The round-3 similarity/entity-resolution joins must plan as
    EQUI-joins (hash/sort-merge on blocking keys), never cartesian —
    the defining property that keeps them sub-quadratic at scale."""
    for name in ("q_fuzzy_join", "q_fuzzy_join_tau2", "q_jaccard_simjoin",
                 "q_basket_affinity", "q_cooccur_lift"):
        plan = _q(name)(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
        if name != "q_cooccur_lift":  # its only BNLJ is the 1-row scalar attach
            assert "BroadcastNestedLoopJoin" not in plan, f"{name} plans a nested-loop join"


def test_basket_affinity_broadcasts_dims_and_fuses_topk(spark):
    from tests.plan_asserts import assert_broadcast_join, assert_top_k_fused

    df = _q("q_basket_affinity")(spark, SF_SMOKE)
    assert_broadcast_join(df, forbid_sort_merge=False)  # part dims broadcast
    assert_top_k_fused(df)  # LIMIT 25 fuses to TakeOrdered


def test_zscore_outliers_broadcasts_moments(spark):
    from tests.plan_asserts import assert_broadcast_join

    # the 5-row per-type moment table must broadcast back over the scan
    assert_broadcast_join(_q("q_zscore_outliers")(spark, SF_SMOKE))


def test_lifecycle_queries_stay_equi_join_shaped(spark):
    """Funnel, cohort, and PageRank must plan every join as an
    equi-join (hash/sort-merge/broadcast on a key) — never cartesian
    or nested-loop: the property that keeps the staged funnel and the
    Pregel join+agg loop linear in |events| / |edges| at scale."""
    for name in ("q_funnel_conversion", "q_cohort_retention", "q_pagerank_parts"):
        plan = _q(name)(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
        assert "BroadcastNestedLoopJoin" not in plan, f"{name} plans a nested-loop join"


def test_mad_outliers_broadcasts_group_stats(spark):
    from tests.plan_asserts import assert_broadcast_join

    # the per-flag median / MAD tables are tiny and must broadcast
    # back over the stream — the stream itself is never sorted
    assert_broadcast_join(_q("q_mad_outliers")(spark, SF_SMOKE))


def test_morton_tiles_single_scan_partial_agg(spark):
    from tests.plan_asserts import assert_column_pruned, assert_partial_aggregation

    df = _q("q_morton_tiles")(spark, SF_SMOKE)
    assert_partial_aggregation(df)  # 64-key agg combines map-side
    assert_column_pruned(df, "o_totalprice")  # scan reads only key cols


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """Writing the fact partitioned by its join/filter key lets
    Catalyst inject a dynamic-pruning subquery: the fact scan reads
    only partitions whose keys survive the dim filter — at 100 TB the
    difference between scanning one priority's files and all of them."""
    from pyspark.sql import functions as F

    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    fact = str(tmp_path / "orders_part")
    o.write.partitionBy("o_orderpriority").parquet(fact)
    dim = (
        o.select("o_orderpriority").distinct()
        .withColumn("keep", F.col("o_orderpriority").startswith("1"))
    )
    f = spark.read.parquet(fact)
    joined = f.join(dim.filter("keep"), "o_orderpriority").select("o_orderkey")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:1500]
    # and the result only contains the kept partition's rows
    expect = o.filter(F.col("o_orderpriority").startswith("1")).count()
    assert joined.count() == expect


def test_partitioned_write_prunes_directories(spark):
    """q_partitioned_roundtrip's lang filter must be satisfied by
    partition pruning: the scan's PartitionFilters carry the lang
    predicate, and the selected partition count is 1 of 5."""
    df = _q("q_partitioned_roundtrip")(spark, SF_SMOKE)
    df.collect()  # materialize the fixture, resolve AQE
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the pruning predicate mentions the partition column
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "lang" in m.group(1), plan[:2000]


def test_source_mixture_broadcasts_acceptance(spark):
    """Temperature rebalancing must broadcast the tiny per-group
    acceptance table into the filter — never shuffle the fact side."""
    from tests.plan_asserts import assert_broadcast_join

    df = _q("q_source_mixture")(spark, SF_SMOKE)
    assert_broadcast_join(df)


def test_global_cumsum_has_no_data_sized_global_window(spark):
    """The distributed cumsum's only unpartitioned window runs on the
    P-row offset table: the executed plan must show a range
    repartition of the data, and any Window with an empty partition
    spec must sit above the tiny per-partition aggregate, not the
    ranged data."""
    from pyspark.sql import functions as F

    from week4_musemotion_spark.operators.ranks import with_global_cumsum
    from week4_musemotion_spark.plans.audit import plan_string

    df = spark.range(0, 10_000).select("id", (F.col("id") % 97).alias("v"))
    out = with_global_cumsum(df, ["id"], "v", "cum", num_partitions=8)
    plan = plan_string(out, mode="simple")
    lines = plan.splitlines()
    singles = [i for i, ln in enumerate(lines) if "Exchange SinglePartition" in ln]
    # exactly one single-partition exchange, and it feeds the P-row
    # per-partition-sum aggregate (the offsets table), never the data
    assert len(singles) == 1, plan
    assert "HashAggregate(keys=[_pid" in lines[singles[0] + 1], plan
    # the data-side running-sum window is keyed by _pid (parallel)
    assert any("Window" in ln and "], [_pid" in ln for ln in lines), plan
    # and the offsets come back via broadcast, not a shuffle join
    assert "BroadcastHashJoin" in plan, plan
