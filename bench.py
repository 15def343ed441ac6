"""Benchmark harness: runs every registered query end-to-end at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Execution is forced with the noop sink (full computation, zero
collect/serialization cost on the driver), so timings measure the
distributed plan, not result transfer.

Operators pin with lazy ``localCheckpoint``, which no later query can
match, so the timed pass no longer reads tables the warm-up pass left
pinned: pin-heavy queries read slower here than they did while their
pins leaked across queries, and that is a correction to the
measurement, not a regression.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    # Size the local-mode JVM for the battery: local[32] runs every
    # executor thread inside the driver, whose 1g default heap is far
    # below what 32 concurrent sort/join tasks need.  At 237 registered
    # queries the 1g heap degrades the parquet writers ("Total
    # allocation exceeds 95% of heap" + row-group down-scaling); the
    # controlled same-window comparison measured 1g at ~8% slower than
    # 16g (370.9s vs 341.7s — SCALING.md round-9; larger readings that
    # night were host oscillation, not the heap).  A production
    # deployment sizes executor memory for the working set, so the
    # bench does too.  Env-overridable, set before the JVM launches
    # (get_spark reads it at builder time).
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEMORY", "16g")

    from week4_musemotion_spark.queries import REGISTRY
    from week4_musemotion_spark.session import get_spark

    spark = get_spark("bench")

    # warm-up pass: run every query once untimed so the timed pass
    # measures steady-state execution (parquet footer caches, python
    # worker pools), not JIT warmup — per-query numbers then reflect
    # the plan, not JVM startup.  It absorbs whole-stage codegen
    # compiles only because get_spark sizes Spark's generated-class
    # cache to hold the registry; the timed pass's remaining compiles
    # are recorded per query as codegen_compiles.
    t_wall = time.perf_counter()
    for spec in REGISTRY.values():
        spec.builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
    warm_sec = round(time.perf_counter() - t_wall, 3)

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    timings: dict[str, float] = {}
    codegen_compiles: dict[str, int] = {}
    for name, spec in REGISTRY.items():
        c0 = compiles.getCount()
        t0 = time.perf_counter()
        spec.builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
        timings[name] = round(time.perf_counter() - t0, 3)
        codegen_compiles[name] = compiles.getCount() - c0

    total = round(sum(timings.values()), 3)
    try:
        sf = float(os.path.basename(os.path.normpath(sf_dir)).removeprefix("sf"))
    except ValueError:
        sf = None
    result = {
        "metric": "bench_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_queries": len(timings),
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "*"),
        "cold_pass_sec": warm_sec,
    }
    # Full per-query map goes to a file: the driver keeps only the last
    # ~2000 chars of stdout, and the 115-query map alone exceeds that
    # (BENCH_r01 recorded parsed=null because the line was cut mid-JSON).
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json")
    with open(full_path, "w") as fh:
        total_compiles = sum(codegen_compiles.values())
        full = {**result, "codegen_compiles": codegen_compiles, "codegen_compiles_total": total_compiles}
        json.dump(full, fh, indent=1)
    # Final (sole parseable) stdout line: compact summary that fits the
    # tail window — slowest 20 queries inline, full map in queries_file.
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:20])
    print(json.dumps({**result, "queries": slowest, "queries_file": full_path}))
    spark.stop()


if __name__ == "__main__":
    main()
