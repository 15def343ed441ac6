"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Runs one workload of ``workloads.py`` in a fresh process on
``local[<cores>]`` and prints, as the last stdout line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The lines before it print every metric by name with its unit, the
failures if any, and the host context.

Everything the run writes — generated inputs, Spark local dirs, the
warehouse and metastore, the event log — lives in a scratch directory
under ``.perfbench/`` in the checkout and is removed at exit; the JVM
is stopped and waited for.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import platform
import resource
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "week4_musemotion_spark"
WORKLOADS = ("curation_ops", "ingest_serve")
#: Set-ups per run; ``setup_s`` is their median.
SETUPS = 8
#: Passes of the traced run: untraced, traced, then untraced again.
TRACE_PASSES = (1, 1, 1)
#: JVM heap.  Local mode runs every task in the one Spark JVM; the
#: inputs are a few MB, so 2g is enough and keeps the run small.
HEAP = "2g"


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _hermetic(scratch: str) -> None:
    """Point every path Spark, the JVM and Python workers write to at
    ``scratch``, and put the package on the workers' path."""
    for sub in ("local", "tmp", "events"):
        os.makedirs(os.path.join(scratch, sub), exist_ok=True)
    tmp = os.path.join(scratch, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files: HotSpot writes them to /tmp whatever java.io.tmpdir says
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    os.environ["SPARK_GRAFT_DRIVER_MEMORY"] = HEAP
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(scratch, 'warehouse')}"),
            "--driver-java-options",
            shlex.quote(f"-Djava.io.tmpdir={tmp} -Dderby.system.home={scratch} -XX:-UsePerfData"),
            "pyspark-shell",
        ]
    )
    # derby.log, metastore_db and spark-warehouse default to the cwd
    os.chdir(scratch)
    sys.path[:0] = [ROOT, HERE]


def _purge_package() -> None:
    for name in [m for m in sys.modules if m == PACKAGE or m.startswith(PACKAGE + ".")]:
        del sys.modules[name]


def setup(n: int):
    """Start the engine session and import the query registry ``n``
    times (the first launches the JVM; later ones stop the session and
    re-import the package into the same JVM).  Returns the last session
    and every set-up time."""
    spark, times = None, []
    for _ in range(n):
        if spark is not None:
            spark.stop()
            _purge_package()
        t0 = time.perf_counter()
        session = importlib.import_module(f"{PACKAGE}.session")
        spark = session.get_spark("perfbench")
        importlib.import_module(f"{PACKAGE}.queries")
        times.append(time.perf_counter() - t0)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, times


def restart_with_event_log(spark, event_log: str):
    """A new session in the same JVM, writing an uncompressed,
    single-file event log to the directory ``event_log``."""
    system = spark.sparkContext._jvm.java.lang.System
    system.setProperty("spark.eventLog.enabled", "true")
    system.setProperty("spark.eventLog.dir", "file://" + event_log)
    system.setProperty("spark.eventLog.compress", "false")
    system.setProperty("spark.eventLog.rolling.enabled", "false")
    spark.stop()
    spark = importlib.import_module(f"{PACKAGE}.session").get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(workload, spark, out) -> None:
    """``workload.WARM_UP_PASSES`` warm passes whose timings are not kept.

    The passes after a cold one still run while the JIT compiles the
    hot paths: each uses less CPU than the one before."""
    for _ in range(workload.WARM_UP_PASSES):
        workload.warm_pass(spark, out)
    out.passes, out.latencies, out.figures = [], {}, {}


def loop(workload, spark, out, seconds: float) -> None:
    """Warm passes until ``seconds`` have passed and at least
    ``workload.MEASURED_PASSES`` have run (a pass that starts in time
    finishes).  A fixed count keeps a fast run and a slow one at the
    same point of the JIT's warm-up."""
    t0 = time.perf_counter()
    while True:
        workload.warm_pass(spark, out)
        if len(out.passes) >= workload.MEASURED_PASSES and time.perf_counter() - t0 >= seconds:
            return


def traced_passes(workload, spark, out):
    """The traced run's measured passes, ``TRACE_PASSES``: drift over the
    run (the JIT still compiling, a session slowing as it runs more jobs)
    then favours neither the untraced nor the traced side.  Returns the
    tracer, the traced passes' wall time and figures, and the untraced
    passes."""
    from spans import Tracer

    before, during, after = TRACE_PASSES
    for _ in range(before):
        workload.warm_pass(spark, out)
    untraced, out.passes, out.figures = out.passes, [], {}
    tracer = Tracer(spark.sparkContext)
    tracer.install()
    t0 = time.perf_counter()
    try:
        for _ in range(during):
            workload.warm_pass(spark, out, tracer)
    finally:
        tracer.uninstall()
    wall = time.perf_counter() - t0
    traced, figures, out.figures = out.passes, out.figures, {}
    out.passes = untraced
    for _ in range(after):
        workload.warm_pass(spark, out)
    untraced, out.passes = out.passes, traced
    return tracer, wall, figures, untraced


def _jvm_proc():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def peak_rss_mb() -> float:
    """Peak resident memory of this Python process plus the Spark JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = _jvm_proc()
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def stop_jvm(spark) -> None:
    """Stop the session and the gateway JVM, and wait for it to exit
    (the JVM exits when its stdin closes; Python workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    proc = _jvm_proc()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _cpu_times() -> list[int]:
    """The machine's CPU time counters (``/proc/stat``), in ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def host_context(spark, load_before, cpu_before: list[int]) -> dict:
    ticks = [b - a for a, b in zip(cpu_before, _cpu_times())]
    return {
        "nproc": _cores(),
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in os.getloadavg()],
        # CPU time the hypervisor gave to other guests while this run
        # was runnable: a slow run with a high share was starved, not slow
        "cpu_steal_share": round(ticks[7] / max(sum(ticks), 1), 4),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "heap": HEAP,
    }


class Phases:
    """Wall time of each phase of a run, for the report."""

    def __init__(self):
        self.spent: dict[str, float] = {}
        self._t = time.perf_counter()

    def mark(self, name: str) -> None:
        now = time.perf_counter()
        self.spent[name] = round(now - self._t, 2)
        self._t = now


def _geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def _median(samples, clock: int) -> float:
    """Median of the wall (``clock`` 0) or CPU (1) side of (wall, CPU) samples."""
    return statistics.median(s[clock] for s in samples)


def end_to_end(out, setups: list[float], rss: float) -> dict[str, tuple[float, str]]:
    """Set-up wall time, the CPU-time metrics and their wall-time twins;
    ``BENCHMARK.json`` declares some of them, the rest are report-only."""
    ops = out.latencies.values()
    return {
        "setup_s": (statistics.median(setups), "s"),
        "cold_pass_cpu_s": (out.cold_pass[1], "s"),
        "pass_cpu_s": (_median(out.passes, 1), "s"),
        "op_cpu_geomean_s": (_geomean([_median(xs, 1) for xs in ops]), "s"),
        "cold_pass_s": (out.cold_pass[0], "s"),
        "pass_s": (_median(out.passes, 0), "s"),
        "op_geomean_s": (_geomean([_median(xs, 0) for xs in ops]), "s"),
        "op_samples": (sum(len(xs) for xs in ops), "count"),
        "peak_rss_mb": (rss, "MB"),
    }


def per_layer(tracer, folded, figures, passes, wall: float, untraced, setups) -> dict:
    """Per-layer figures of the traced phase, per warm pass."""
    from spans import OPERATOR_MODULES

    n = len(passes)
    by_layer = tracer.layer_counters(folded)

    def secs(layer):
        return tracer.totals[layer][0] / n if layer in tracer.totals else 0.0

    def calls(layer):
        return tracer.totals[layer][1] / n if layer in tracer.totals else 0.0

    def count(layer, key="jobs"):
        return by_layer[layer][key] / n if layer in by_layer else 0.0

    m: dict[str, tuple[float, str]] = {
        "session.start_s": (statistics.median(setups), "s"),
        "queries.builder_s": (secs("queries.builder"), "s"),
        "queries.action_s": (secs("queries.action"), "s"),
        "queries.builder_jobs": (count("queries.builder"), "count"),
        "queries.action_jobs": (count("queries.action"), "count"),
    }
    for mod in OPERATOR_MODULES:
        layer = f"operators.{mod}"
        m[f"{layer}.call_s"] = (secs(layer), "s")
        m[f"{layer}.calls"] = (calls(layer), "count")
        m[f"{layer}.jobs"] = (count(layer), "count")
    m["sources.load_table_s"] = (secs("sources.load_table"), "s")
    m["sources.read_csv_s"] = (secs("sources.read_csv"), "s")
    m["sources.write_s"] = (secs("sources.write"), "s")
    m["sources.bytes_written"] = (count("sources.write", "bytes_written"), "bytes")
    # parquet bytes the merges wrote ÷ CSV bytes of the batches they merged
    f = figures
    landed = sum(f.get("landed_input_bytes", []))
    upsert_bytes = by_layer["operators.upsert"]["bytes_written"]
    m["upsert.rewrite_amp"] = (upsert_bytes / landed if landed else 0.0, "ratio")

    traced = [c for gid, c in folded.items() if gid in tracer.groups]

    def total(key):
        return sum(c[key] for c in traced)

    m["scheduler.jobs"] = (total("jobs") / n, "count")
    m["scheduler.stages"] = (total("stages") / n, "count")
    m["scheduler.tasks"] = (total("tasks") / n, "count")
    m["scheduler.scheduler_delay_s"] = (total("scheduler_delay_s") / n, "s")
    m["executor.task_s"] = (total("task_s") / n, "s")
    m["executor.gc_s"] = (total("gc_s") / n, "s")
    m["executor.shuffle_read_mb"] = (total("shuffle_read_mb") / n, "MB")
    m["executor.shuffle_write_mb"] = (total("shuffle_write_mb") / n, "MB")
    m["executor.spill_mb"] = (total("spill_mb") / n, "MB")
    m["executor.peak_exec_mem_mb"] = (max((c["peak_exec_mem_mb"] for c in traced), default=0.0), "MB")
    m["executor.busy_ratio"] = (total("task_s") / (wall * _cores()), "ratio")
    m["python.rows_sent"] = (total("python_rows_sent") / n, "count")
    m["python.rows_received"] = (total("python_rows_received") / n, "count")
    m["python.bytes_sent"] = (total("python_bytes_sent") / n, "bytes")
    m["python.bytes_received"] = (total("python_bytes_received") / n, "bytes")
    m["cache.cached_rdds"] = (max(f.get("cached_rdds", [0])), "count")
    m["cache.cached_mb"] = (max(f.get("cached_mb", [0.0])), "MB")
    m["cache.inmemory_scans"] = (total("inmemory_scans") / n, "count")
    opens = tracer.totals.get("dashboard.open", [0.0, 0])
    options = tracer.totals.get("dashboard.filter_options", [0.0, 0])
    inter = tracer.totals.get("dashboard.interaction", [0.0, 0])
    m["dashboard.open_s"] = (opens[0] / opens[1] if opens[1] else 0.0, "s")
    m["dashboard.filter_options_s"] = (options[0] / options[1] if options[1] else 0.0, "s")
    m["dashboard.interaction_s"] = (inter[0] / inter[1] if inter[1] else 0.0, "s")
    m["dashboard.jobs_per_interaction"] = (
        by_layer["dashboard.interaction"]["jobs"] / inter[1] if inter[1] else 0.0,
        "count",
    )
    for suffix, clock in (("s", 0), ("cpu_s", 1)):
        traced_pass, untraced_pass = _median(passes, clock), _median(untraced, clock)
        m[f"trace.pass_{suffix}"] = (traced_pass, "s")
        m[f"trace.untraced_pass_{suffix}"] = (untraced_pass, "s")
        m[f"trace.overhead_{suffix}"] = (traced_pass - untraced_pass, "s")
    return m


def run(args, scratch: str) -> int:
    _hermetic(scratch)
    import eventlog
    import workloads

    load_before, cpu_before = os.getloadavg(), _cpu_times()
    phases = Phases()
    if args.workload == "ingest_serve":
        wl = workloads.IngestServe(scratch, args.seed)
    else:
        wl = workloads.CurationOps(scratch, args.seed)
    out = workloads.Outcome()
    events = os.path.join(scratch, "events")
    phases.mark("generate")

    spark, setups = setup(SETUPS)
    try:
        if args.trace:
            spark = restart_with_event_log(spark, events)
        phases.mark("setup")
        wl.cold(spark, out)
        phases.mark("cold")
        warm_up(wl, spark, out)
        phases.mark("warm_up")
        if args.trace:
            tracer, wall, traced_figures, untraced = traced_passes(wl, spark, out)
        else:
            loop(wl, spark, out, args.seconds)
        phases.mark("measure")
        wl.check(out)
        phases.mark("check")
        rss = peak_rss_mb()
        host = host_context(spark, load_before, cpu_before)
    finally:
        stop_jvm(spark)
    phases.mark("stop")

    if args.trace:
        folded: dict = {}
        for f in os.listdir(events):
            folded.update(eventlog.fold_file(os.path.join(events, f)))
        shutil.rmtree(events)
        metrics = per_layer(tracer, folded, traced_figures, out.passes, wall, untraced, setups)
    else:
        metrics = {**end_to_end(out, setups, rss), **out.extra}

    failed = len(out.failures)
    for name, (value, unit) in metrics.items():
        print(f"{args.workload:13s} {name:34s} {value:14.6f} {unit}")
    print(f"{args.workload:13s} {'failed_ratio':34s} {failed / max(out.attempted, 1):14.6f} ratio")
    for f in out.failures:
        print(f"FAILED {f}")
    by_op = {k: [round(_median(v, c), 4) for c in (0, 1)] for k, v in sorted(out.latencies.items())}
    print(
        json.dumps(
            {
                "host": host,
                "workload": args.workload,
                "seed": args.seed,
                "passes_wall_cpu_s": [[round(x, 3) for x in p] for p in out.passes],
                **({"untraced_passes_wall_cpu_s": [[round(x, 3) for x in p] for p in untraced]} if args.trace else {}),
                "median_wall_cpu_s_by_op": by_op,
                "phases_s": phases.spent,
            }
        )
    )
    declared = _declared("per_layer" if args.trace else "end_to_end")
    result = {
        "correct": failed == 0,
        "attempted": out.attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k][0], "unit": metrics[k][1]} for k in declared},
    }
    print(json.dumps(result))
    return 0


def _declared(kind: str) -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return [m["name"] for m in json.load(fh)[kind]]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a run stopped from outside still stops the JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"error: the {PACKAGE} package is not in {ROOT}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    scratch = os.path.join(base, f"run-{os.getpid()}")
    try:
        return run(args, scratch)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(scratch, ignore_errors=True)
        if os.path.isdir(base) and not os.listdir(base):
            os.rmdir(base)


if __name__ == "__main__":
    sys.exit(main())
