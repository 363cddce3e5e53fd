"""Read a plain-JSON Spark event log into per-job-group metrics.

The traced run starts Spark with ``spark.eventLog.compress=false`` and
rolling off, so the log is one JSON event per line. Each job carries its
``spark.jobGroup.id`` in the job-start properties; every task end is joined
to its group through stage -> job. Python-boundary numbers are SQL metrics:
their accumulator ids are found in the plan info of the SQL execution
events (the node that reports "data returned from Python workers" is a
Python node), and their values are summed from the task-end accumulables.
"""

from __future__ import annotations

import json
from collections import defaultdict
from collections.abc import Iterable

# Spark 4.1 SQL metric name -> reported metric
PYTHON_METRICS = {
    "time to run Python workers": "python.total_ms",
    "time to start Python workers": "python.boot_ms",
    "time to initialize Python workers": "python.init_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}
PYTHON_ROWS = "python.rows_received"

METRICS = (
    "tasks",
    "tasks.failed",
    "executor.run_ms",
    "executor.cpu_ms",
    "executor.gc_ms",
    "shuffle.write_bytes",
    "shuffle.read_bytes",
    "shuffle.fetch_wait_ms",
    "spill.memory_bytes",
    "spill.disk_bytes",
    *PYTHON_METRICS.values(),
    PYTHON_ROWS,
)


def _python_node_rows_ids(plan: dict, out: set[int]) -> None:
    """Accumulator ids of "number of output rows" on Python nodes."""
    metrics = {m["name"]: m["accumulatorId"] for m in plan.get("metrics", [])}
    if "data returned from Python workers" in metrics and "number of output rows" in metrics:
        out.add(metrics["number of output rows"])
    for child in plan.get("children", []):
        _python_node_rows_ids(child, out)


def read(lines: Iterable[str]) -> dict[str, dict[str, float]]:
    """Metrics per job group id (jobs without a group are under ``""``)."""
    stage_group: dict[int, str] = {}
    rows_ids: set[int] = set()
    tasks: list[tuple[int, dict]] = []
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            tasks.append((ev["Stage ID"], ev))
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _python_node_rows_ids(ev.get("sparkPlanInfo", {}), rows_ids)

    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(METRICS, 0.0))
    for sid, ev in tasks:
        m = out[stage_group.get(sid, "")]
        info = ev.get("Task Info", {})
        m["tasks"] += 1
        if info.get("Failed") or info.get("Killed"):
            m["tasks.failed"] += 1
        tm = ev.get("Task Metrics") or {}
        m["executor.run_ms"] += tm.get("Executor Run Time", 0)
        m["executor.cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
        m["executor.gc_ms"] += tm.get("JVM GC Time", 0)
        m["spill.memory_bytes"] += tm.get("Memory Bytes Spilled", 0)
        m["spill.disk_bytes"] += tm.get("Disk Bytes Spilled", 0)
        sr = tm.get("Shuffle Read Metrics") or {}
        m["shuffle.read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        m["shuffle.fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
        m["shuffle.write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        for acc in info.get("Accumulables", []):
            name = PYTHON_METRICS.get(acc.get("Name"))
            if name is None and acc.get("ID") in rows_ids:
                name = PYTHON_ROWS
            if name is not None:
                m[name] += float(acc.get("Update") or 0)
    return dict(out)


def read_file(path: str) -> dict[str, dict[str, float]]:
    with open(path, encoding="utf-8") as f:
        return read(f)
