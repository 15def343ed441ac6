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


#: Package modules that no entry point imports, each with the reason it
#: stays.  The guard below fails on an entry that is reached or gone,
#: so this list can only shrink.
UNREACHED_MODULES = {
    "sources/cloud.py": "reference parity: the reference reads Azure Blob paths (pipeline.py)",
    "sources/sql_inserts.py": "reference parity: the reference's INSERT dump "
    "(musemotion-populate-table.sql)",
    "sources/evolution.py": "ROADMAP D4: delete or promote",
    "sources/quarantine.py": "ROADMAP D4: delete or promote",
    "operators/expectations.py": "ROADMAP D4: delete or promote",
    "operators/refresh.py": "ROADMAP D4: delete or promote",
    "operators/stats.py": "ROADMAP D4: delete or promote",
    "operators/versioned.py": "ROADMAP D4: delete or promote",
}


def _unreached_modules(repo) -> list[str]:
    """Package modules (paths under the package) outside the static
    import closure of the entry points: the query registry, the
    dashboard, the driver contract, the benchmarks, the Streamlit
    shell and the tools.  Counts relative and in-function imports;
    importing ``a.b.c`` also reaches ``a`` and ``a.b``."""
    import ast

    pkg = "week4_musemotion_spark"

    def name_of(path):
        parts = list(path.relative_to(repo).with_suffix("").parts)
        return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)

    package = {name_of(p): p for p in (repo / pkg).rglob("*.py")}
    entry = ("__spark_entry__.py", "bench.py", "streamlit_app.py", "perfbench/*.py", "tools/*.py")
    roots = {name_of(p): p for g in entry for p in repo.glob(g)}
    files = {**package, **roots}
    todo = [f"{pkg}.queries", f"{pkg}.dashboard", *roots]
    seen: set[str] = set()
    while todo:
        mod = todo.pop()
        if mod in seen or mod not in files:
            continue
        seen.add(mod)
        here = mod.split(".") if files[mod].name == "__init__.py" else mod.split(".")[:-1]
        for node in ast.walk(ast.parse(files[mod].read_text())):
            if isinstance(node, ast.Import):
                targets = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                base = node.module or ""
                if node.level:
                    base = ".".join(here[: len(here) - node.level + 1] + ([base] if base else []))
                targets = [base] + [f"{base}.{a.name}" for a in node.names]
            else:
                continue
            for t in targets:
                bits = t.split(".")
                todo.extend(".".join(bits[:i]) for i in range(1, len(bits) + 1))
    return sorted(p.relative_to(repo / pkg).as_posix() for m, p in package.items() if m not in seen)


def test_every_package_module_is_reached():
    # the package is what something runs: a module only tests import is
    # dead code unless the allowlist above says why it stays
    from tests.conftest import REPO_ROOT

    unreached = _unreached_modules(REPO_ROOT)
    dead = [p for p in unreached if p not in UNREACHED_MODULES]
    assert not dead, f"no entry point imports {dead}"
    stale = sorted(set(UNREACHED_MODULES) - set(unreached))
    assert not stale, f"allowlisted but reached or gone: {stale}"


def test_all_queries_run_at_smoke_sf(spark):
    import __spark_entry__ as mod

    for name, builder in mod.queries().items():
        df = builder(spark, SF_SMOKE)
        assert df.count() >= 0, name
