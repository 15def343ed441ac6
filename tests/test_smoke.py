"""Driver-contract smoke tests (SURVEY.md §5 item 4)."""

from __future__ import annotations

from tests.conftest import SF_SMOKE


def test_entry_returns_rows(spark):
    import __spark_entry__ as mod

    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["l_orderkey", "l_linenumber", "p_brand", "cnt", "l_quantity"]
    # engine sessions skip PySpark's per-call origin capture
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_registry_contract(spark):
    import __spark_entry__ as mod

    qs = mod.queries()
    oracles = mod.oracle_sql()
    assert qs, "registry must not be empty"
    # every oracle key corresponds to a query
    assert set(oracles) <= set(qs)
    for name, sql in oracles.items():
        assert sql.strip(), name


def test_every_query_module_loads_with_the_package():
    # a query is live exactly when its module is imported, so a module
    # under queries/ that the package does not import is dead code; a
    # fresh interpreter keeps other tests' imports out of the check
    import subprocess
    import sys

    from tests.conftest import REPO_ROOT

    probe = (
        "import pkgutil, sys\n"
        "import week4_musemotion_spark.queries as q\n"
        "names = [m.name for m in pkgutil.iter_modules(q.__path__)]\n"
        "print(sorted(n for n in names if n.startswith('staged_')"
        " or q.__name__ + '.' + n not in sys.modules))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe], cwd=REPO_ROOT, capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "[]", out.stdout


def test_all_queries_run_at_smoke_sf(spark):
    import __spark_entry__ as mod

    for name, builder in mod.queries().items():
        df = builder(spark, SF_SMOKE)
        assert df.count() >= 0, name
