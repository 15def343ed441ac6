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


def test_query_catalog_tool_runs_without_pythonpath():
    # the tool's usage line redirects into QUERIES.md, so a failed
    # import would leave the catalog truncated to zero bytes
    import os
    import subprocess
    import sys

    from tests.conftest import REPO_ROOT
    from week4_musemotion_spark.queries import REGISTRY

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "tools/gen_query_catalog.py"],
        cwd=REPO_ROOT,
        env=env,
        capture_output=True,
        text=True,
    )
    assert out.returncode == 0, out.stderr
    lines = out.stdout.splitlines()
    assert lines[0] == "# QUERIES — the named query catalog"
    rows = [line.split("`")[1] for line in lines if line.startswith("| `")]
    assert rows == list(REGISTRY)


#: Files that run the package: the driver contract, the benchmarks, the
#: Streamlit shell and the tools.
ENTRY_POINTS = ("__spark_entry__.py", "bench.py", "streamlit_app.py", "perfbench/*.py", "tools/*.py")

#: Package modules that no entry point imports, each with the reason it
#: stays.  The guard below fails on an entry that is reached or gone,
#: so this list can only shrink.
UNREACHED_MODULES = {
    "sources/cloud.py": "reference parity: the reference reads Azure Blob paths (pipeline.py)",
    "sources/sql_inserts.py": "reference parity: the reference's INSERT dump "
    "(musemotion-populate-table.sql)",
}

#: Top-level functions, classes and module constants of reached
#: package modules that no non-test code names, each with the reason
#: it stays.  Like ``UNREACHED_MODULES``, an entry that is referenced
#: or gone fails the guard, so this list can only shrink.
UNREACHED_FUNCTIONS = {
    "queries/musemotion_sql.py:run_corpus": "reference parity: runs the reference's own "
    "musemotion-queries.sql; only a reference-checkout test can drive it",
}


def _module_name(repo, path) -> str:
    parts = list(path.relative_to(repo).with_suffix("").parts)
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imported(repo, path, tree) -> list[str]:
    """Dotted names a file imports, relative and in-function imports
    included: ``import a.b`` gives ``a.b``, ``from a.b import c`` gives
    ``a.b.c`` (a module, or a name defined in ``a.b``)."""
    import ast

    mod = _module_name(repo, path)
    here = mod.split(".") if path.name == "__init__.py" else mod.split(".")[:-1]
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.extend(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                base = ".".join(here[: len(here) - node.level + 1] + ([base] if base else []))
            out.extend(f"{base}.{a.name}" for a in node.names)
    return out


def _unreached_modules(repo) -> list[str]:
    """Package modules (paths under the package) outside the static
    import closure of the entry points: the query registry, the
    dashboard and ``ENTRY_POINTS``.  Counts relative and in-function
    imports; importing ``a.b.c`` also reaches ``a`` and ``a.b``."""
    import ast

    pkg = "week4_musemotion_spark"
    package = {_module_name(repo, p): p for p in (repo / pkg).rglob("*.py")}
    roots = {_module_name(repo, p): p for g in ENTRY_POINTS for p in repo.glob(g)}
    files = {**package, **roots}
    todo = [f"{pkg}.queries", f"{pkg}.dashboard", *roots]
    seen: set[str] = set()
    while todo:
        mod = todo.pop()
        if mod in seen or mod not in files:
            continue
        seen.add(mod)
        for t in _imported(repo, files[mod], ast.parse(files[mod].read_text())):
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


def _unreferenced_functions(repo) -> list[str]:
    """Top-level ``def``s, ``class``es and module-level assignments
    (``X = ...``, ``X: T = ...``) of reached package modules
    (``module.py:name``), public or ``_``-prefixed, that no other
    top-level statement names as an AST ``Name``, ``Attribute`` or
    import alias; docstrings and comments do not count.  A statement
    of another file counts only when that file imports the name or
    its module from the defining module, so a same-named definition
    elsewhere cannot hide an orphan.  Reached modules and entry points
    are searched.  Dunder names are exempt, and ``@query`` builders are
    reached through the registry."""
    import ast
    from collections import Counter

    pkg = repo / "week4_musemotion_spark"
    unreached = set(_unreached_modules(repo))
    paths = [
        p for p in pkg.rglob("*.py") if p.relative_to(pkg).as_posix() not in unreached
    ] + [p for g in ENTRY_POINTS for p in repo.glob(g)]
    trees = {p: ast.parse(p.read_text()) for p in paths}
    imports = {p: set(_imported(repo, p, tree)) for p, tree in trees.items()}

    def names(stmt) -> set[str]:
        out = set()
        for n in ast.walk(stmt):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.alias):
                out.add(n.name.rsplit(".", 1)[-1])
        return out

    def registered(stmt) -> bool:
        calls = (d.func if isinstance(d, ast.Call) else d for d in stmt.decorator_list)
        return any(getattr(f, "id", getattr(f, "attr", None)) == "query" for f in calls)

    # per file and name: how many top-level statements mention it
    mentions = {p: Counter(n for s in tree.body for n in names(s)) for p, tree in trees.items()}

    def defined(stmt) -> list[str]:
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            return [] if registered(stmt) else [stmt.name]
        if isinstance(stmt, ast.Assign):
            return [t.id for t in stmt.targets if isinstance(t, ast.Name)]
        if isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
            return [stmt.target.id]
        return []

    found = []
    for p, tree in sorted(trees.items()):
        if not p.is_relative_to(pkg):
            continue
        mod = _module_name(repo, p)
        for stmt in tree.body:
            for name in defined(stmt):
                if name.startswith("__") and name.endswith("__"):
                    continue
                # statements of its own module other than its own (the
                # assignment target, or the call of a recursive function)
                uses = mentions[p][name] - (name in names(stmt))
                uses += sum(
                    mentions[q][name]
                    for q in trees
                    if q != p and (mod in imports[q] or f"{mod}.{name}" in imports[q])
                )
                if not uses:
                    found.append(f"{p.relative_to(pkg).as_posix()}:{name}")
    return found


def test_every_public_function_is_referenced():
    # the package is what something runs, name by name: a function,
    # class or constant (public or private) only tests use is dead
    # code unless the allowlist above says why it stays
    from tests.conftest import REPO_ROOT

    unreferenced = _unreferenced_functions(REPO_ROOT)
    dead = [f for f in unreferenced if f not in UNREACHED_FUNCTIONS]
    assert not dead, f"no non-test code names {dead}"
    stale = sorted(set(UNREACHED_FUNCTIONS) - set(unreferenced))
    assert not stale, f"allowlisted but referenced or gone: {stale}"


def test_name_guard_counts_only_imported_mentions(tmp_path):
    # a same-named definition in another module must not hide an
    # orphan: b's own UTIL is used, a's UTIL is not
    files = {
        "week4_musemotion_spark/__init__.py": "",
        "week4_musemotion_spark/queries/__init__.py": (
            "from week4_musemotion_spark import b\nfrom week4_musemotion_spark.a import f\n"
            "b.g(f())\n"
        ),
        "week4_musemotion_spark/a.py": "UTIL = 1\n\ndef f():\n    return 0\n",
        "week4_musemotion_spark/b.py": "UTIL = 2\n\ndef g(x):\n    return UTIL + x\n",
    }
    for rel, text in files.items():
        (tmp_path / rel).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / rel).write_text(text)
    assert _unreferenced_functions(tmp_path) == ["a.py:UTIL"]


def test_no_package_module_calls_sparkcontext_broadcast():
    # a SparkContext broadcast outlives the query that made it: its
    # driver temp file goes only with destroy().  Operator state rides
    # in the kernel closure instead, which the plan owns.
    import ast

    from tests.conftest import REPO_ROOT

    calls = []
    for p in sorted((REPO_ROOT / "week4_musemotion_spark").rglob("*.py")):
        for node in ast.walk(ast.parse(p.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "broadcast"
                and getattr(node.func.value, "attr", getattr(node.func.value, "id", None))
                in ("sparkContext", "sc")
            ):
                calls.append(f"{p.relative_to(REPO_ROOT)}:{node.lineno}")
    assert not calls, f"sparkContext.broadcast called at {calls}"


def test_renames_go_through_publish_and_tempdirs_through_cached_fixture():
    # one commit protocol and one fixture cache: a rename anywhere else
    # brings its own crash rules, a tempdir anywhere else its own key
    import ast

    from tests.conftest import REPO_ROOT

    owner = {
        "os.rename": "publish",
        "os.replace": "publish",
        "shutil.move": "publish",
        "tempfile.gettempdir": "cached_fixture",
    }
    pkg = REPO_ROOT / "week4_musemotion_spark"
    found = []
    for p in sorted(pkg.rglob("*.py")):
        rel = p.relative_to(pkg).as_posix()
        for stmt in ast.parse(p.read_text()).body:
            for node in ast.walk(stmt):
                if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
                    used = [f"{node.value.id}.{node.attr}"]
                elif isinstance(node, ast.ImportFrom):
                    used = [f"{node.module}.{a.name}" for a in node.names]
                else:
                    continue
                for name in used:
                    if name in owner and (rel, getattr(stmt, "name", None)) != (
                        "sources/sinks.py",
                        owner[name],
                    ):
                        found.append(f"{rel}:{node.lineno} {name}")
    assert not found, f"outside sinks.publish / sinks.cached_fixture: {found}"


def test_all_queries_run_at_smoke_sf(spark):
    import __spark_entry__ as mod

    for name, builder in mod.queries().items():
        df = builder(spark, SF_SMOKE)
        assert df.count() >= 0, name
