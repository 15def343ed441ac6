"""Session hygiene: a query leaves no cached table or driver temp file
behind.

Operators pin shared subtrees with a lazy ``localCheckpoint``, which
Spark's CacheManager never records or matches across queries.  A
``persist()`` without its ``unpersist`` does register a plan there,
and every later query in the session whose plan matches it reads the
earlier query's work.  Each query below pins at least one table; it
runs at the smoke scale factor through the ``noop`` sink and must
leave the CacheManager as empty as it found it.

A query run a second time in the same session reuses the classes
whole-stage codegen generated for it the first time, instead of
compiling them again.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE

_PINNING_QUERIES = (
    "q_contamination",
    "q_band_tune",
    "q_dedup_minhash",
    "q_dedup_simhash_pairs",
    "q_dedup_embedding_lsh",
    "q_jaccard_simjoin",
    "q_containment_pairs",
    "q_detector_agreement",
    "q_dedup_simhash_ngram",
    "q_detector_agreement_ngram",
    "q_neardup_incremental",
    "q_minhash_fidelity",
)


def _cache_entries(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


@pytest.mark.parametrize("name", _PINNING_QUERIES)
def test_query_leaves_no_cache_entry(spark, name):
    from week4_musemotion_spark.queries.registry import REGISTRY

    # start empty: persisting a plan that is already cached adds no
    # entry, so a table an earlier test left behind would hide a leak
    spark.catalog.clearCache()
    REGISTRY[name].builder(spark, SF_SMOKE).write.format("noop").mode("overwrite").save()
    assert _cache_entries(spark) == 0, f"{name} left {_cache_entries(spark)} cached plan(s)"


#: Queries whose operators carry a driver-side matrix (queries,
#: centroids, codebooks, ADC tables) into their Arrow kernels.
_KERNEL_STATE_QUERIES = ("q_ann_recall_report", "q_hard_negatives", "q_pq_adc_knn")


@pytest.mark.parametrize("name", _KERNEL_STATE_QUERIES)
def test_query_leaves_no_driver_temp_file(spark, name):
    # a SparkContext broadcast writes a driver temp file that only its
    # destroy() removes; state riding in the kernel closure leaves none
    import os

    from week4_musemotion_spark.queries.registry import REGISTRY

    temp_dir = spark.sparkContext._temp_dir
    before = set(os.listdir(temp_dir))
    REGISTRY[name].builder(spark, SF_SMOKE).write.format("noop").mode("overwrite").save()
    left = sorted(set(os.listdir(temp_dir)) - before)
    assert not left, f"{name} left {len(left)} file(s) in the driver temp dir"


#: The benchmark's curation_ops mix (perfbench/workloads.CURATION_MIX).
_CURATION_MIX = (
    "q_dedup_clusters",
    "q_ann_recall_report",
    "q_jaccard_simjoin",
    "q_heavy_hitters",
    "q_pq_distortion",
    "q_fuzzy_join",
    "q_mad_outliers",
    "q_embedding_gram",
)


def test_warm_rerun_reuses_generated_code(spark):
    from week4_musemotion_spark.queries.registry import REGISTRY

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run_mix() -> int:
        before = compiles.getCount()
        for name in _CURATION_MIX:
            REGISTRY[name].builder(spark, SF_SMOKE).write.format("noop").mode("overwrite").save()
        return compiles.getCount() - before

    run_mix()
    # Spark's default 100-entry class cache recompiles about 250 classes
    # here; the residual is AQE renumbering codegenStageId, which is part
    # of the generated class name
    recompiled = run_mix()
    assert recompiled <= 25, f"the warm rerun compiled {recompiled} classes again"
