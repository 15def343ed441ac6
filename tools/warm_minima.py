"""Warm-minima timer: run registry queries R times each in ONE
session and report per-rep seconds + the minimum.

Usage: python tools/warm_minima.py [sf_dir] [--reps N] [--json] q1 q2 ...

The per-query minimum across warm reps in a single session is the
only attributable per-query statistic on this host (SCALING.md
round-10 protocol); battery snapshots carry up to ±50% oscillation.
Each query gets one untimed warm-up rep first (codegen compile,
footer cache), then R timed reps via the noop sink.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> int:
    args = list(sys.argv[1:])
    reps = 3
    as_json = "--json" in args
    if as_json:
        args.remove("--json")
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i : i + 2]
    sf_dir = "/root/testdata/sf0.1"
    given_dir = None
    names: list[str] = []
    for a in args:
        if a.startswith("q_"):
            names.append(a)
        elif os.path.isdir(a):
            if given_dir is not None:
                print(f"error: two sf_dir arguments, {given_dir!r} and {a!r}; pass one", file=sys.stderr)
                return 2
            sf_dir = given_dir = a
        else:
            # a mistyped sf_dir silently falling back to the default
            # would time the WRONG dataset — fail loudly instead
            print(f"error: {a!r} is neither an existing directory nor a q_ name", file=sys.stderr)
            return 2
    if not names:
        print(__doc__)
        return 2

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEMORY", "16g")
    from week4_musemotion_spark.queries import REGISTRY
    from week4_musemotion_spark.session import get_spark

    spark = get_spark("warm-minima")
    out: dict[str, dict] = {}
    for name in names:
        spec = REGISTRY[name]
        spark.sparkContext.setJobDescription(f"warm_minima:{name}")
        spec.builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            spec.builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
            times.append(round(time.perf_counter() - t0, 3))
        out[name] = {"reps": times, "min": min(times)}
        if not as_json:
            print(f"{name:32s} min={min(times):7.3f}  reps={times}")
    if as_json:
        print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
