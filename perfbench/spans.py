"""Spans around calls into the program's layers, one Spark job group each.

A span records its wall time and opens a fresh job group, so that the
event log can later charge every Spark job to the innermost span that
issued it (``eventlog.fold``) and, through the span's ancestry, to
every enclosing layer as well.  Span times are inclusive and counted
once per outermost entry into a layer: a public operator function that
calls another public function of the same module is one call.

Operator modules are traced by swapping their public functions for a
tracing callable in every program module that holds a reference to
them (``from … import f`` binds the function into the importer's
namespace); :meth:`Tracer.uninstall` puts the originals back.  The
tracing callable pickles as the function it wraps, so nothing of the
tracer reaches a Python worker.  Parquet writes are traced at
``DataFrameWriter.parquet``, which every writing path of the program
ends in (``sinks.write_parquet``, the upsert's staging write).
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import operator
import sys
import time
import types
from collections import defaultdict

PACKAGE = "week4_musemotion_spark"

#: Operator modules whose public functions are traced, per the layer map.
OPERATOR_MODULES = (
    "dedup",
    "similarity",
    "graph",
    "setjoin",
    "sketches",
    "pq",
    "fuzzy",
    "robust",
    "linalg",
    "etl",
    "upsert",
)

#: (module, function, layer) for the single source entry points traced.
SOURCE_FUNCTIONS = (
    ("sources.tables", "load_table", "sources.load_table"),
    ("sources.csv", "read_headerless_csv", "sources.read_csv"),
)


class _Traced:
    """Callable standing in for a traced function."""

    def __init__(self, fn, layer: str, tracer: "Tracer"):
        functools.update_wrapper(self, fn)
        self._fn, self._layer, self._tracer = fn, layer, tracer

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._layer):
            return self._fn(*args, **kwargs)

    def __reduce__(self):
        return (operator.itemgetter(0), ((self._fn,),))


class Tracer:
    """Span recorder bound to one SparkContext."""

    def __init__(self, sc):
        self.sc = sc
        #: layer -> [inclusive seconds, outermost calls]
        self.totals: dict[str, list] = defaultdict(lambda: [0.0, 0])
        #: job group id -> layers on the span stack when it opened
        self.groups: dict[str, tuple[str, ...]] = {}
        self._stack: list[str] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, layer: str):
        gid = f"pb{len(self.groups)}"
        self._stack.append(layer)
        self.groups[gid] = tuple(self._stack)
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobGroup(gid, layer)
        outermost = layer not in self._stack[:-1]
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            self.sc.setLocalProperty("spark.job.description", prev_desc)
            if outermost:
                rec = self.totals[layer]
                rec[0] += dt
                rec[1] += 1

    def _traced_method(self, fn, layer: str):
        @functools.wraps(fn)
        def method(*args, **kwargs):
            with self.span(layer):
                return fn(*args, **kwargs)

        return method

    def install(self) -> None:
        """Trace every public function of the operator modules and the
        source entry points, wherever the program has bound them, and
        every parquet write."""
        from pyspark.sql.readwriter import DataFrameWriter

        self._patched.append((DataFrameWriter, "parquet", DataFrameWriter.parquet))
        DataFrameWriter.parquet = self._traced_method(DataFrameWriter.parquet, "sources.write")
        targets: dict[int, tuple[object, str]] = {}
        for name in OPERATOR_MODULES:
            mod = importlib.import_module(f"{PACKAGE}.operators.{name}")
            for attr, fn in vars(mod).items():
                public = not attr.startswith("_")
                if public and isinstance(fn, types.FunctionType) and fn.__module__ == mod.__name__:
                    targets[id(fn)] = (fn, f"operators.{name}")
        for modname, attr, layer in SOURCE_FUNCTIONS:
            fn = getattr(importlib.import_module(f"{PACKAGE}.{modname}"), attr)
            targets[id(fn)] = (fn, layer)
        wrappers = {key: _Traced(fn, layer, self) for key, (fn, layer) in targets.items()}
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname == PACKAGE or modname.startswith(PACKAGE + ".")):
                continue
            for attr, value in list(vars(mod).items()):
                wrapper = wrappers.get(id(value))
                if wrapper is not None and value is wrapper._fn:
                    self._patched.append((mod, attr, value))
                    setattr(mod, attr, wrapper)

    def uninstall(self) -> None:
        for mod, attr, value in reversed(self._patched):
            setattr(mod, attr, value)
        self._patched.clear()

    def layer_counters(self, folded: dict[str, dict[str, float]]) -> dict[str, dict[str, float]]:
        """Event-log counters per layer, inclusive of nested spans.

        ``folded`` is :func:`eventlog.fold` output keyed by job group;
        each group's counters are charged once to every distinct layer
        on its span stack."""
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for gid, counters in folded.items():
            for layer in set(self.groups.get(gid, ())):
                for k, v in counters.items():
                    out[layer][k] += v
        return out
