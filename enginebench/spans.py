"""Spans for the traced run, taken from outside the package.

Nothing inside ``map_reduce_engine_spark`` is changed: ``instrument`` wraps
the package's public layer functions (``io.read_table``/``read_text``/
``write_tsv``, ``job.Job.run`` and the loop operators) in every loaded
module that bound them, and the benchmark opens the query-level spans
(construct, plan, execute) itself. Every span sets its own Spark job group,
so the jobs Spark ran inside it -- and, through the event log, their task
metrics -- join back to the span.
"""

from __future__ import annotations

import functools
import os
import sys
import time
from contextlib import contextmanager

# (module, attribute, span name): the layer entry points the traced run times
LAYER_FUNCTIONS = (
    ("map_reduce_engine_spark.io", "read_table", "read_table"),
    ("map_reduce_engine_spark.io", "read_text", "read_text"),
    ("map_reduce_engine_spark.io", "write_tsv", "write_tsv"),
    ("map_reduce_engine_spark.operators.graph", "pagerank", "loop"),
    ("map_reduce_engine_spark.operators.bpe", "bpe_train", "loop"),
    ("map_reduce_engine_spark.operators.unigram_lm", "unigram_train", "loop"),
)


class Tracer:
    """In-memory span recorder. Spans nest through a stack; each one has a
    name, start, end, parent, the run id and its own job group id."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.enabled = False
        self.pass_index = -1

    def _set_group(self) -> None:
        if self.stack:
            rec = self.spans[self.stack[-1]]
            self.sc.setJobGroup(rec["group"], rec["name"], False)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self.stack[-1] if self.stack else None,
            "name": name,
            "run": self.run_id,
            "group": f"{self.run_id}/{sid}",
            "pass": self.pass_index,
            **attrs,
        }
        self.spans.append(rec)
        self.stack.append(sid)
        self._set_group()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.stack.pop()
            self._set_group()

    def collect_jobs(self) -> None:
        """Attach the jobs, stages and tasks Spark ran under each span's own
        group (not its children's) from the status tracker."""
        st = self.sc.statusTracker()
        for rec in self.spans:
            jobs = stages = tasks = 0
            for jid in st.getJobIdsForGroup(rec["group"]):
                jobs += 1
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    s = st.getStageInfo(sid)
                    ran = (s.numCompletedTasks + s.numFailedTasks) if s else 0
                    if ran:
                        stages += 1
                        tasks += ran
            rec.update(jobs=jobs, stages=stages, tasks=tasks)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def _wrap(tracer: Tracer, fn, name: str):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        if not tracer.enabled:
            return fn(*args, **kwargs)
        with tracer.span(name, fn=fn.__name__) as rec:
            out = fn(*args, **kwargs)
            if name == "write_tsv":
                rec["bytes"] = _dir_bytes(args[1] if len(args) > 1 else kwargs["path"])
            return out

    return traced


def instrument(tracer: Tracer) -> None:
    """Wrap the layer functions wherever the package bound them, and
    ``Job.run``. The wrappers pass straight through while the tracer is
    disabled."""
    import importlib

    from map_reduce_engine_spark import job

    for mod_name, attr, span_name in LAYER_FUNCTIONS:
        fn = getattr(importlib.import_module(mod_name), attr)
        traced = _wrap(tracer, fn, span_name)
        for name, mod in list(sys.modules.items()):
            if name.startswith("map_reduce_engine_spark") and getattr(mod, attr, None) is fn:
                setattr(mod, attr, traced)
    run = job.Job.run

    @functools.wraps(run)
    def traced_run(self, spark, *args, **kwargs):
        if not tracer.enabled:
            return run(self, spark, *args, **kwargs)
        with tracer.span("job.run", job=self.name):
            return run(self, spark, *args, **kwargs)

    job.Job.run = traced_run
