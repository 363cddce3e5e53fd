"""Per-layer metrics of a traced run, from its spans and its event log.

Each metric is summed over one pass and reported as the median over the
traced warm passes. Job, stage and task counts come from the status
tracker (attached to each span by ``Tracer.collect_jobs``); executor,
shuffle, spill and Python-worker numbers from the event log, joined to the
spans by job group.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

import eventlog

SELF_LAYERS = (
    "pass", "query", "construct", "read_table", "loop", "plan", "execute",
    "job.run", "read_text", "write_tsv",
)
EXEC_SPANS = ("execute", "write_tsv")  # the spans that force execution


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _pass_metrics(spans: list[dict], events: dict, rec: dict) -> dict[str, float]:
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)

    def subtree(s):
        yield s
        for c in children[s["id"]]:
            yield from subtree(c)

    def named(name):
        return [s for s in spans if s["name"] == name]

    def incl_jobs(name):
        return sum(x["jobs"] for s in named(name) for x in subtree(s))

    total_jobs = sum(s["jobs"] for s in spans)
    m: dict[str, float] = {
        "io.read_table.calls": len(named("read_table")),
        "io.read_table.s": sum(map(_dur, named("read_table"))),
        "io.read_table.jobs": incl_jobs("read_table"),
        "io.read_text.s": sum(map(_dur, named("read_text"))),
        "io.write_tsv.s": sum(map(_dur, named("write_tsv"))),
        "io.write_tsv.bytes": sum(s.get("bytes", 0) for s in named("write_tsv")),
        "queries.construct.s": sum(map(_dur, named("construct"))),
        "queries.construct.jobs": incl_jobs("construct"),
        "queries.construct.job_share": incl_jobs("construct") / total_jobs if total_jobs else 0.0,
        "loop.calls": len(named("loop")),
        "loop.s": sum(map(_dur, named("loop"))),
        "loop.jobs": incl_jobs("loop"),
        "plan.s": sum(map(_dur, named("plan"))),
        "jobs.total": total_jobs,
    }
    ex = [s for s in spans if s["name"] in EXEC_SPANS]
    m["exec.s"] = sum(map(_dur, ex))
    for k in ("jobs", "stages", "tasks"):
        m[f"exec.{k}"] = sum(s[k] for s in ex)
    for job in ("wordcount", "wordlength"):
        m[f"job.run.{job}.s"] = sum(_dur(s) for s in named("job.run") if s.get("job") == job)

    ev = dict.fromkeys(eventlog.METRICS, 0.0)
    for s in spans:
        for k, v in events.get(s["group"], {}).items():
            ev[k] += v
    for k in ("executor.run_ms", "executor.cpu_ms", "executor.gc_ms", "tasks.failed",
              "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_ms",
              "spill.memory_bytes", "spill.disk_bytes", *eventlog.PYTHON_METRICS.values(),
              eventlog.PYTHON_ROWS):
        m[k] = ev[k]
    m["executor.cpu_share"] = ev["executor.cpu_ms"] / ev["executor.run_ms"] if ev["executor.run_ms"] else 0.0

    self_s = dict.fromkeys(SELF_LAYERS, 0.0)
    for s in spans:
        if s["name"] in self_s:
            self_s[s["name"]] += _dur(s) - sum(map(_dur, children[s["id"]]))
    for k, v in self_s.items():
        m[f"self.{k}_s"] = v
    m["cache.rdds_alive"] = rec["rdds_alive"]
    m["cache.storage_mb"] = rec["storage_mb"]
    return m


UNITS = {
    ".calls": "count", ".jobs": "count", ".stages": "count", ".tasks": "count",
    "tasks.failed": "count", "jobs.total": "count", "rdds_alive": "count",
    "_bytes": "B", ".bytes": "B", "bytes_sent": "B", "bytes_received": "B",
    "rows_received": "rows", "_ms": "ms", "_s": "s", ".s": "s", "_share": "1", "_mb": "MB",
}


def unit(name: str) -> str:
    return next(u for suffix, u in UNITS.items() if name.endswith(suffix))


def metrics(spans: list[dict], passes: list[dict], log_path: str):
    """(per-layer metrics as {name: (value, unit)}, per-pass detail)."""
    events = eventlog.read_file(log_path)
    by_pass = defaultdict(list)
    for s in spans:
        by_pass[s["pass"]].append(s)
    per_pass = {p["index"]: _pass_metrics(by_pass[p["index"]], events, p) for p in passes if p["traced"]}
    warm = [m for i, m in per_pass.items() if i > 0]
    out = {k: statistics.median(m[k] for m in warm) for k in warm[0]}
    out["first_pass.python.boot_ms"] = per_pass[0]["python.boot_ms"]
    out["first_pass.jobs.total"] = per_pass[0]["jobs.total"]
    # warm passes alternate untraced/traced and end untraced, so each traced
    # pass is compared with the mean of its two neighbours: a pass-to-pass
    # drift (JIT still warming) cancels out of the difference
    s = [p["s"] for p in passes]
    traced = [i for i, p in enumerate(passes) if i > 0 and p["traced"]]
    out["trace.pass_s"] = statistics.median(s[i] for i in traced)
    out["trace.untraced_pass_s"] = statistics.median((s[i - 1] + s[i + 1]) / 2 for i in traced)
    out["trace.overhead_s"] = statistics.median(s[i] - (s[i - 1] + s[i + 1]) / 2 for i in traced)
    return {k: (v, unit(k)) for k, v in out.items()}, {str(i): m for i, m in per_pass.items()}
