"""Fold a Spark event log into per-job-group layer counters.

The traced run sets one job group per span (see ``spans.py``) and
writes an uncompressed, non-rolling event log.  :func:`fold` reads it
once and returns, per job group:

- scheduler: jobs, stages, tasks, scheduler delay (task wall time not
  spent deserializing, running or serializing the result);
- executor: task run time, JVM GC time, shuffle read/write bytes,
  spill bytes, peak execution memory of any one task, and the bytes
  tasks wrote to output files;
- python: rows and bytes into and out of Python-worker plan nodes
  (``MapInPandas``, ``ArrowEvalPython`` …), from their SQL metrics;
- cache: ``InMemoryTableScan`` nodes in the final plan of each SQL
  execution.

Jobs outside any job group are folded under ``""``.
"""

from __future__ import annotations

import json
from collections import defaultdict

#: Plan nodes that ship rows to Python workers.
PYTHON_NODES = (
    "MapInPandas",
    "MapInArrow",
    "PythonMapInArrow",
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas",
    "FlatMapCoGroupsInArrow",
    "AggregateInPandas",
    "WindowInPandas",
    "ArrowWindowPython",
)

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "scheduler_delay_s",
    "task_s",
    "gc_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "peak_exec_mem_mb",
    "bytes_written",
    "python_rows_sent",
    "python_rows_received",
    "python_bytes_sent",
    "python_bytes_received",
    "inmemory_scans",
)

_MB = 1024.0 * 1024.0


def _is_python(node_name: str) -> bool:
    return any(node_name.startswith(p) for p in PYTHON_NODES)


def _metric(node: dict, name: str) -> int | None:
    for m in node.get("metrics", ()):
        if m["name"] == name:
            return m["accumulatorId"]
    return None


def _input_rows_metric(node: dict) -> int | None:
    """Accumulator counting the rows a Python node receives: the
    nearest descendant that counts output rows (the nodes between —
    projections, codegen adapters, exchanges — keep the row count)."""
    stack = list(node.get("children", ()))
    while stack:
        child = stack.pop(0)
        acc = _metric(child, "number of output rows")
        if acc is not None:
            return acc
        stack = list(child.get("children", ())) + stack
    return None


def _walk(node: dict):
    yield node
    for child in node.get("children", ()):
        yield from _walk(child)


def fold(lines) -> dict[str, dict[str, float]]:
    """Per-job-group counters from an iterable of event-log lines."""
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    exec_plan: dict[int, dict] = {}
    # accumulator id -> counter it feeds, and -> its SQL execution
    python_acc: dict[int, str] = {}
    acc_exec: dict[int, int] = {}
    acc_sum: dict[int, int] = defaultdict(int)
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))

    def note_plan(eid: int, plan: dict) -> None:
        exec_plan[eid] = plan
        for node in _walk(plan):
            if not _is_python(node["nodeName"]):
                continue
            for counter, acc in (
                ("python_bytes_sent", _metric(node, "data sent to Python workers")),
                ("python_bytes_received", _metric(node, "data returned from Python workers")),
                ("python_rows_received", _metric(node, "number of output rows")),
                ("python_rows_sent", _input_rows_metric(node)),
            ):
                if acc is not None:
                    python_acc[acc] = counter
                    acc_exec[acc] = eid

    for line in lines:
        line = line.strip()
        if not line:
            continue
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            out[group]["jobs"] += 1
            for sid in e.get("Stage IDs", ()):
                stage_group[sid] = group
            eid = props.get("spark.sql.execution.id")
            if eid is not None:
                exec_group.setdefault(int(eid), group)
        elif kind == "SparkListenerStageCompleted":
            sid = e["Stage Info"]["Stage ID"]
            out[stage_group.get(sid, "")]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            group = out[stage_group.get(e["Stage ID"], "")]
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            group["tasks"] += 1
            run_ms = m.get("Executor Run Time", 0)
            busy_ms = run_ms + m.get("Executor Deserialize Time", 0) + m.get("Result Serialization Time", 0)
            wall_ms = info["Finish Time"] - info["Launch Time"]
            group["scheduler_delay_s"] += max(0, wall_ms - busy_ms) / 1000.0
            group["task_s"] += run_ms / 1000.0
            group["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            sr = m.get("Shuffle Read Metrics") or {}
            group["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / _MB
            sw = m.get("Shuffle Write Metrics") or {}
            group["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / _MB
            group["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / _MB
            peak = m.get("Peak Execution Memory", 0) / _MB
            group["peak_exec_mem_mb"] = max(group["peak_exec_mem_mb"], peak)
            group["bytes_written"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            for acc in info.get("Accumulables", ()):
                if acc["ID"] in python_acc:
                    acc_sum[acc["ID"]] += int(acc.get("Update") or 0)
        elif kind.endswith("SQLExecutionStart"):
            eid = e["executionId"]
            if e.get("jobGroupId"):
                exec_group[eid] = e["jobGroupId"]
            note_plan(eid, e["sparkPlanInfo"])
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            note_plan(e["executionId"], e["sparkPlanInfo"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc, value in e.get("accumUpdates", ()):
                if acc in python_acc:
                    acc_sum[acc] += int(value)

    for acc, counter in python_acc.items():
        out[exec_group.get(acc_exec[acc], "")][counter] += acc_sum.get(acc, 0)
    for eid, plan in exec_plan.items():
        scans = sum(1 for n in _walk(plan) if n["nodeName"] == "InMemoryTableScan")
        out[exec_group.get(eid, "")]["inmemory_scans"] += scans
    return dict(out)


def fold_file(path: str) -> dict[str, dict[str, float]]:
    with open(path) as fh:
        return fold(fh)
