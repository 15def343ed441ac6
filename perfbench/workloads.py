"""The benchmark's workloads, each a closed loop with one client.

Every operation and pass is timed twice: wall time, and the CPU time of
this process and all its descendants — the Spark JVM and its Python
workers (:func:`cpu_s`).

Every workload runs a *cold pass* in a fresh session, then *warm
passes* until the measuring window closes.  A pass is:

- ``curation_ops``: every query of the mix once, in a seeded order (a fresh permutation per pass).  A query's
  latency is ``builder()`` plus its action.  The cold pass collects
  each query's rows (the correctness check compares those rows
  afterwards, untimed); warm passes execute through the ``noop`` sink,
  as ``bench.py`` does, so they time the plan, not result transfer.
- ``ingest_serve``: one cycle — land a CSV batch (the reference ETL
  for the first batch, an upsert merge for every later one), open a
  ``Dashboard`` on the batch just landed, serve a seeded run of filter
  interactions, unpersist the dashboard's cache.  An interaction's
  latency is ``select`` plus the three widget feeds.

``trace`` (a :class:`spans.Tracer` or ``None``) adds spans around the
calls into each layer; the untraced path makes no tracer calls.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

import gen

#: The two operator-heavy queries behind the open performance
#: regressions — connected components over near-duplicate pairs (graph,
#: dedup; a multi-job iterative chain) and the k-means/IVF/LSH recall
#: report (similarity; Arrow kernels, pins) — then the cheapest
#: registry query that calls each other traced operator module:
#: setjoin, sketches, pq, fuzzy, robust, linalg.
CURATION_MIX = (
    "q_dedup_clusters",
    "q_ann_recall_report",
    "q_jaccard_simjoin",
    "q_heavy_hitters",
    "q_pq_distortion",
    "q_fuzzy_join",
    "q_mad_outliers",
    "q_embedding_gram",
)

#: Row counts of the rows-only queries (no DuckDB oracle): a fixed
#: grid over the five query vectors ``vec_id < 5``.
ROWS_ONLY = {"q_ann_recall_report": 10}

#: Table scale factor, documents and vectors of ``curation_ops``: the
#: largest size that keeps a run inside its time budget.  On a 4-core
#: VM a warm pass of the mix reads 12.7 s here and 16.2 s at sf 0.01
#: with 1500 documents and vectors (cold 30 s and 38 s).
SF, N_DOCS, N_VECS = 0.002, 300, 300

#: ingest_serve: CSV batches, rows per batch, interactions per cycle.
#: With 6 interactions a warm cycle reads 4.3 s at 4000 rows a batch,
#: 8.3 s at 25 000 and 10.0 s at 100 000 (4-core VM); 25 000 leaves
#: room in the budget.  Two measured cycles of 3 interactions cost what
#: one of 6 does, and halve the spread of a cycle's CPU time over seeds.
N_BATCHES, BATCH_ROWS, INTERACTIONS = 4, 25_000, 3

#: clock ticks per second of ``/proc/<pid>/stat``
_HZ = os.sysconf("SC_CLK_TCK")

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant, each with its reaped children: the benchmark, the
    Spark JVM and the JVM's Python workers.

    Unlike wall time, this leaves out the time the hypervisor gives to
    other guests, which on a shared host can stretch a pass by half."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process ended while listing
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        pid = int(entry)
        children.setdefault(int(fields[1]), []).append(pid)
        ticks[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / _HZ


class Stopwatch:
    """Wall and CPU time (:func:`cpu_s`) since it was made."""

    def __init__(self):
        self.wall0, self.cpu0 = time.perf_counter(), cpu_s()

    def read(self) -> tuple[float, float]:
        return time.perf_counter() - self.wall0, cpu_s() - self.cpu0


@dataclass
class Outcome:
    """Timings and checks of one phase of a workload."""

    #: (wall, CPU) seconds of the cold pass and of each warm pass
    cold_pass: tuple[float, float] | None = None
    passes: list[tuple[float, float]] = field(default_factory=list)
    #: warm-pass (wall, CPU) samples, per operation name
    latencies: dict[str, list[tuple[float, float]]] = field(default_factory=dict)
    #: other warm-pass figures, per name: rows landed, and with
    #: tracing on the cache state after each operation and the input
    #: bytes of each landed batch
    figures: dict[str, list[float]] = field(default_factory=dict)
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    #: workload-specific end-to-end figures for the report
    extra: dict[str, tuple[float, str]] = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def sample(self, name: str, clock: Stopwatch) -> None:
        self.latencies.setdefault(name, []).append(clock.read())

    def note(self, name: str, value: float) -> None:
        self.figures.setdefault(name, []).append(value)


@contextlib.contextmanager
def _span(trace, layer: str):
    if trace is None:
        yield
    else:
        with trace.span(layer):
            yield


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def note_cache(spark, out: Outcome) -> None:
    """Record the cached RDDs and the MB they hold in memory and on disk."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    out.note("cached_rdds", len(infos))
    out.note("cached_mb", sum(i.memSize() + i.diskSize() for i in infos) / (1024.0 * 1024.0))


class CurationOps:
    """``curation_ops``: the curation mix of registered queries over
    seeded tables."""

    #: No warm-up: a second warm pass does not fit the time budget, so
    #: the measured pass is the first warm one
    WARM_UP_PASSES = 0
    MEASURED_PASSES = 1

    def __init__(self, root: str, seed: int):
        self.mix = CURATION_MIX
        self.data_dir = os.path.join(root, "tables")
        gen.write_tables(self.data_dir, seed, SF, N_DOCS, N_VECS)
        self.order = np.random.default_rng(seed)
        self.cold_rows: dict[str, tuple[list, list]] = {}

    def _ordered(self) -> list[str]:
        return [self.mix[i] for i in self.order.permutation(len(self.mix))]

    def cold(self, spark, out: Outcome) -> None:
        from week4_musemotion_spark.queries import REGISTRY

        clock = Stopwatch()
        for name in self._ordered():
            out.attempted += 1
            try:
                df = REGISTRY[name].builder(spark, self.data_dir)
                self.cold_rows[name] = (df.columns, [tuple(r) for r in df.collect()])
            except Exception as e:  # noqa: BLE001 - a failing query is a result, not a crash
                out.fail(f"{name}: {type(e).__name__}: {str(e)[:200]}")
        out.cold_pass = clock.read()

    def warm_pass(self, spark, out: Outcome, trace=None) -> None:
        from week4_musemotion_spark.queries import REGISTRY

        pass_clock = Stopwatch()
        for name in self._ordered():
            out.attempted += 1
            clock = Stopwatch()
            try:
                with _span(trace, "queries.builder"):
                    df = REGISTRY[name].builder(spark, self.data_dir)
                with _span(trace, "queries.action"):
                    _noop(df)
            except Exception as e:  # noqa: BLE001
                out.fail(f"{name}: {type(e).__name__}: {str(e)[:200]}")
                continue
            out.sample(name, clock)
            if trace is not None:
                note_cache(spark, out)
        out.passes.append(pass_clock.read())

    def check(self, out: Outcome) -> None:
        """Compare the cold pass's rows with each query's DuckDB oracle
        (row count, column names, order-insensitive values), or with the
        fixed row count of a rows-only query."""
        import duckdb

        from tools.check_correctness import _rows
        from week4_musemotion_spark.queries import REGISTRY

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
            for name, (cols, rows) in self.cold_rows.items():
                oracle = REGISTRY[name].oracle
                if oracle is None:
                    if len(rows) != ROWS_ONLY[name]:
                        out.fail(f"{name}: {len(rows)} rows, expected {ROWS_ONLY[name]}")
                    continue
                res = con.execute(oracle)
                ocols = [d[0] for d in res.description]
                problem = compare(cols, rows, ocols, res.fetchall(), _rows)
                if problem:
                    out.fail(f"{name}: {problem}")
        finally:
            con.close()


def compare(cols, rows, ocols, orows, canon) -> str | None:
    """Why engine rows differ from oracle rows, or None when they match.
    ``canon(rows, cols)`` puts rows in a column- and order-insensitive
    canonical form."""
    if len(rows) != len(orows):
        return f"rowcount {len(rows)} vs oracle {len(orows)}"
    if sorted(cols) != sorted(ocols):
        return f"columns {sorted(cols)} vs oracle {sorted(ocols)}"
    diff = [i for i, (a, b) in enumerate(zip(canon(rows, cols), canon(orows, ocols))) if a != b]
    return f"{len(diff)} value mismatches" if diff else None


def _dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def check_dashboard(got_kpi, got_make, got_city, want: gen.Expect) -> str | None:
    """Why a dashboard interaction's widgets differ from ``want``."""
    if want.total == 0:
        return None if len(got_kpi) == 0 else f"kpi rows {len(got_kpi)} for an empty selection"
    if len(got_kpi) != 1:
        return f"kpi rows {len(got_kpi)}"
    k = got_kpi.iloc[0]
    kpi = (int(k.total_vehicles), _num(k.avg_year), _num(k.avg_electric_range))
    if kpi != (want.total, want.avg_year, want.avg_range):
        return f"kpis {kpi} vs expected {(want.total, want.avg_year, want.avg_range)}"
    if dict(zip(got_make["make"], got_make["count"].astype(int))) != want.by_make:
        return "vehicles_by_make differs"
    if dict(zip(got_city["city"], got_city["count"].astype(int))) != want.by_city:
        return "counts_by_city differs"
    return None


def _num(v) -> float | None:
    return None if v is None or v != v else round(float(v), 6)


class IngestServe:
    """``ingest_serve``: seeded dirty CSV batches landed into a parquet
    snapshot while a dashboard serves each landed batch."""

    WARM_UP_PASSES = 1
    MEASURED_PASSES = 2

    def __init__(self, root: str, seed: int):
        self.batches = gen.musemotion_batches(os.path.join(root, "csv"), seed, N_BATCHES, BATCH_ROWS)
        self.dest = os.path.join(root, "snapshot")
        self.choices = gen.interactions(seed)
        self.applied: list[gen.Batch] = []
        self.cycle = 0

    def _land(self, spark, batch: gen.Batch, out: Outcome, trace, warm: bool) -> None:
        from week4_musemotion_spark.operators.etl import clean_musemotion
        from week4_musemotion_spark.operators.pipeline import run_musemotion_pipeline
        from week4_musemotion_spark.operators.upsert import upsert_parquet_snapshot
        from week4_musemotion_spark.sources.csv import read_headerless_csv

        clock = Stopwatch()
        if not self.applied:
            run_musemotion_pipeline(spark, batch.path, self.dest, dedup_key="vin")
        else:
            updates = clean_musemotion(read_headerless_csv(spark, batch.path))
            upsert_parquet_snapshot(spark, self.dest, updates, ["vin"])
        if warm:
            out.sample("land", clock)
            out.note("landed_rows", len(batch.rows))
        self.applied.append(batch)
        if trace is not None:
            out.note("landed_input_bytes", batch.input_bytes)

    def _serve(self, spark, batch: gen.Batch, out: Outcome, trace, warm: bool) -> None:
        from week4_musemotion_spark.dashboard import FILTER_COLUMNS, Dashboard

        clock = Stopwatch()
        with _span(trace, "dashboard.open"):
            dash = Dashboard(spark, batch.path)
        with _span(trace, "dashboard.filter_options"):
            options = dash.filter_options()
        if warm:
            out.sample("open", clock)
        try:
            out.attempted += 1
            want_opts = {c: sorted({r[i] for r in batch.rows}) for c, i in zip(FILTER_COLUMNS, (1, 5, 3))}
            if options != want_opts:
                out.fail(f"batch {batch.path}: filter options differ")
            for _ in range(INTERACTIONS):
                choice = next(self.choices)
                out.attempted += 1
                clock = Stopwatch()
                try:
                    with _span(trace, "dashboard.interaction"):
                        sel = dash.select(**choice)
                        got = (dash.kpis(sel), dash.vehicles_by_make(sel), dash.counts_by_city(sel))
                except Exception as e:  # noqa: BLE001
                    out.fail(f"interaction {choice}: {type(e).__name__}: {str(e)[:200]}")
                    continue
                if warm:
                    out.sample("interaction", clock)
                rows = [
                    r for r in batch.rows
                    if ("city" not in choice or r[1] in choice["city"])
                    and ("make" not in choice or r[3] in choice["make"])
                ]
                problem = check_dashboard(*got, gen.expect(rows))
                if problem:
                    out.fail(f"interaction {choice}: {problem}")
                if trace is not None:
                    note_cache(spark, out)
        finally:
            dash.df.unpersist()

    def cold(self, spark, out: Outcome) -> None:
        clock = Stopwatch()
        out.attempted += 1
        try:
            self._land(spark, self.batches[0], out, None, warm=False)
            self._serve(spark, self.batches[0], out, None, warm=False)
        except Exception as e:  # noqa: BLE001
            out.fail(f"cold cycle: {type(e).__name__}: {str(e)[:200]}")
        out.cold_pass = clock.read()
        self.cycle = 1

    def warm_pass(self, spark, out: Outcome, trace=None) -> None:
        batch = self.batches[self.cycle % len(self.batches)]
        self.cycle += 1
        clock = Stopwatch()
        out.attempted += 1
        try:
            self._land(spark, batch, out, trace, warm=True)
            self._serve(spark, batch, out, trace, warm=True)
        except Exception as e:  # noqa: BLE001
            out.fail(f"cycle {self.cycle}: {type(e).__name__}: {str(e)[:200]}")
            return
        out.passes.append(clock.read())

    def check(self, out: Outcome) -> None:
        """The snapshot holds exactly the last-landed version of every
        VIN: distinct-key count and KPI row against the generator's.
        Then adds the ingest-side figures to the report."""
        from pyspark.sql import SparkSession

        from week4_musemotion_spark.operators.etl import kpi_summary

        spark = SparkSession.getActiveSession()
        snap = spark.read.parquet(self.dest)
        want = gen.expect(gen.upserted(self.applied))
        n_rows, n_keys = snap.count(), snap.select("vin").distinct().count()
        if (n_rows, n_keys) != (want.total, want.total):
            out.fail(f"snapshot rows {n_rows}, keys {n_keys}, expected {want.total}")
        k = kpi_summary(snap).collect()[0]
        if (_num(k.avg_year), _num(k.avg_electric_range)) != (want.avg_year, want.avg_range):
            got = (k.avg_year, k.avg_electric_range)
            out.fail(f"snapshot kpis {got} vs {(want.avg_year, want.avg_range)}")
        landed = {b.path: b for b in self.applied}.values()
        out.extra["stored_bytes_per_input_byte"] = (
            _dir_bytes(self.dest) / sum(b.input_bytes for b in landed),
            "ratio",
        )
        if out.latencies.get("land"):
            landing_s = sum(wall for wall, _ in out.latencies["land"])
            out.extra["ingest_rows_per_s"] = (sum(out.figures["landed_rows"]) / landing_s, "1/s")
            out.extra["dashboard_open_s"] = (statistics.median(w for w, _ in out.latencies["open"]), "s")
            out.extra["serve_p50_s"] = (statistics.median(w for w, _ in out.latencies["interaction"]), "s")
