"""Unit tests of the benchmark's own logic (no Spark session needed).

Run with ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import os
import pickle
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import eventlog  # noqa: E402
import gen  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


def test_fold_fixture_log():
    folded = eventlog.fold_file(os.path.join(HERE, "fixture_eventlog.jsonl"))
    g = folded["pb1"]
    assert (g["jobs"], g["stages"], g["tasks"]) == (1, 2, 2)
    assert g["scheduler_delay_s"] == pytest.approx(0.1)
    assert g["task_s"] == pytest.approx(0.5)
    assert g["gc_s"] == pytest.approx(0.02)
    assert g["shuffle_read_mb"] == pytest.approx(1.0)
    assert g["shuffle_write_mb"] == pytest.approx(1.0)
    assert g["spill_mb"] == pytest.approx(1.5)
    assert g["peak_exec_mem_mb"] == pytest.approx(2.0)
    assert g["bytes_written"] == 4096
    # both plan versions' Python nodes count, and updates posted outside tasks;
    # rows sent are read from the nearest row-counting descendant
    assert g["python_bytes_sent"] == 1000
    assert g["python_bytes_received"] == 1000
    assert g["python_rows_received"] == 40
    assert g["python_rows_sent"] == 50
    assert g["inmemory_scans"] == 1
    other = folded[""]
    assert (other["jobs"], other["stages"], other["tasks"]) == (1, 1, 1)
    assert other["python_rows_sent"] == 0


class _FakeContext:
    def __init__(self):
        self.props = {}
        self.groups = []

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        self.props[key] = value

    def setJobGroup(self, gid, desc):
        self.groups.append(gid)
        self.props["spark.jobGroup.id"] = gid
        self.props["spark.job.description"] = desc


def test_spans_charge_jobs_to_every_enclosing_layer():
    sc = _FakeContext()
    tracer = spans.Tracer(sc)
    with tracer.span("queries.builder"):
        with tracer.span("operators.graph"):
            with tracer.span("operators.graph"):
                pass
        assert sc.props["spark.jobGroup.id"] == "pb0"
    assert sc.props["spark.jobGroup.id"] is None
    assert tracer.totals["operators.graph"][1] == 1  # re-entry is one call
    folded = {
        "pb0": dict.fromkeys(eventlog.COUNTERS, 0) | {"jobs": 1},
        "pb2": dict.fromkeys(eventlog.COUNTERS, 0) | {"jobs": 3},
        "": dict.fromkeys(eventlog.COUNTERS, 0) | {"jobs": 7},
    }
    by_layer = tracer.layer_counters(folded)
    assert by_layer["queries.builder"]["jobs"] == 4
    assert by_layer["operators.graph"]["jobs"] == 3


def test_traced_function_pickles_as_the_original():
    tracer = spans.Tracer(_FakeContext())
    traced = spans._Traced(gen.expect, "operators.x", tracer)
    assert traced([]).total == 0
    assert pickle.loads(pickle.dumps(traced)) is gen.expect


def test_install_traces_parquet_writes_and_uninstall_restores():
    from pyspark.sql.readwriter import DataFrameWriter

    class _Writer:  # the real parquet() fails on its first use of the writer
        def __getattr__(self, name):
            raise LookupError(name)

    original = DataFrameWriter.parquet
    tracer = spans.Tracer(_FakeContext())
    tracer.install()
    try:
        assert DataFrameWriter.parquet.__wrapped__ is original
        with pytest.raises(LookupError):
            DataFrameWriter.parquet(_Writer(), "out")
    finally:
        tracer.uninstall()
    assert DataFrameWriter.parquet is original
    assert tracer.totals["sources.write"][1] == 1


def test_oracle_compare_catches_a_planted_wrong_value():
    from tools.check_correctness import _rows

    cols, rows, ocols = ["k", "s", "v"], [(1, "a", 2.5), (2, "b", None)], ["v", "s", "k"]
    assert workloads.compare(cols, rows, ocols, [(2.5, "a", 1), (None, "b", 2)], _rows) is None
    wrong = [(2.5, "a", 1), (None, "b", 3)]
    assert "mismatch" in workloads.compare(cols, rows, ocols, wrong, _rows)
    assert "rowcount" in workloads.compare(["k"], [(1,)], ["k"], [], _rows)


def test_dashboard_check_catches_a_planted_wrong_value():
    import pandas as pd

    rows = [("V1", "Seattle", 2020, "TESLA", 0, "MODEL Y"), ("V2", "Tacoma", None, "KIA", 200, "NIRO")]
    want = gen.expect(rows)
    assert (want.total, want.avg_year, want.avg_range) == (2, 2020.0, 100.0)
    kpi = pd.DataFrame({"total_vehicles": [2], "avg_year": [2020.0], "avg_electric_range": [100.0]})
    by_make = pd.DataFrame({"make": ["KIA", "TESLA"], "count": [1, 1]})
    by_city = pd.DataFrame({"city": ["Seattle", "Tacoma"], "count": [1, 1]})
    assert workloads.check_dashboard(kpi, by_make, by_city, want) is None
    planted = gen.Expect(3, want.avg_year, want.avg_range, want.by_make, want.by_city)
    assert workloads.check_dashboard(kpi, by_make, by_city, planted) is not None


def test_cpu_clock_counts_live_and_reaped_descendants():
    import subprocess
    import time

    spin = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass\n"
    before = workloads.cpu_s()
    subprocess.run([sys.executable, "-c", spin], check=True)
    reaped = workloads.cpu_s()
    assert reaped - before >= 0.4
    child = subprocess.Popen([sys.executable, "-c", spin + "time.sleep(30)"])
    try:
        time.sleep(1.5)
        assert workloads.cpu_s() - reaped >= 0.4
    finally:
        child.kill()
        child.wait()


def test_half_up_rounding_matches_spark_round():
    assert gen._round_half_up(2.25, 1) == 2.3
    assert gen._round_half_up(2012.45, 1) == 2012.5
    assert gen._round_half_up(0.125, 2) == 0.13


def test_batches_are_seeded_and_last_landing_wins(tmp_path):
    a = gen.musemotion_batches(str(tmp_path / "a"), 5, 3, 200)
    b = gen.musemotion_batches(str(tmp_path / "b"), 5, 3, 200)
    assert [x.rows for x in a] == [x.rows for x in b]
    for batch in a:
        vins = [r[0] for r in batch.rows]
        assert len(vins) == len(set(vins)) and 0.95 * 200 < len(vins) < 200
    merged = {r[0]: r for r in gen.upserted(a)}
    for r in a[-1].rows:
        assert merged[r[0]] == r
    assert len(merged) == len({r[0] for x in a for r in x.rows})


def test_tables_are_seeded():
    t1, t2 = gen.tables(3, 0.001, 50, 20), gen.tables(3, 0.001, 50, 20)
    assert all(t1[k].equals(t2[k]) for k in t1)
    assert not t1["lineitem"].equals(gen.tables(4, 0.001, 50, 20)["lineitem"])

