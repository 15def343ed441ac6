"""Local mimic of the driver's t2 correctness gate.

Runs every query in the registry at a given sf dir on Spark AND its
DuckDB oracle, then compares row count, column names, and
order-insensitive values (sorted row tuples).  Stricter than a hash
compare — if this passes, any reasonable value-hash also matches.

Usage:  python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time

import duckdb


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def _rows(rows, cols):
    # driver sorts columns by name before hashing — do the same
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows),
        key=lambda t: tuple((v is None, str(type(v)), str(v)) for v in t),
    )


def main() -> int:
    import os

    argv = sys.argv[1:]
    # sf_dir is optional BEFORE query names: only an arg that is an
    # actual directory is taken as sf_dir, so omitting it cannot
    # silently consume the first query name as a data path.  An arg
    # that LOOKS like a path but isn't a directory is a loud error —
    # treating a typo'd sf_dir as a query filter would check zero
    # queries and report a false '0 failures'.
    if argv and os.path.isdir(argv[0]):
        sf_dir, only = argv[0], set(argv[1:])
    elif argv and (os.sep in argv[0] or argv[0].startswith(".")):
        print(f"error: sf_dir {argv[0]!r} is not a directory", file=sys.stderr)
        return 2
    else:
        sf_dir, only = "/root/testdata/sf0.01", set(argv)

    # Same local-mode heap sizing as bench.py (SCALING.md round-9):
    # a full-registry battery in ONE session accumulates broadcasts;
    # the 1g default heap OOM'd a late-session broadcast build at
    # sf0.1 (round-12: q_dup_quality_bias failed in the battery,
    # green in isolation).  Env-overridable; must be
    # set before the JVM launches.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEMORY", "16g")

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from week4_musemotion_spark.queries import REGISTRY
    from week4_musemotion_spark.session import get_spark

    spark = get_spark("check-correctness")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    ):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = []
    for name, spec in REGISTRY.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = spec.builder(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            continue
        if spec.oracle is None:
            print(f"rows  {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            ores = con.execute(spec.oracle)
            ocols = [d[0] for d in ores.description]
            orows = ores.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error {type(e).__name__}: {e}")
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} duckdb={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} duckdb={sorted(ocols)}")
        if not problems:
            a, b = _rows(srows, scols), _rows(orows, ocols)
            diff = [i for i, (x, y) in enumerate(zip(a, b)) if x != y]
            if diff:
                i = diff[0]
                problems.append(f"{len(diff)} value mismatches; first@{i}: spark={a[i]} duckdb={b[i]}")
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: " + "; ".join(problems))
        else:
            print(f"ok    {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
