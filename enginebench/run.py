#!/usr/bin/env python3
"""Engine benchmark: run one workload, check its outputs, print metrics.

Usage (from anywhere; see README.md):
  python3 enginebench/run.py --workload adhoc|iterative|bulk --seed N
                             --seconds S --trace 0|1

One closed-loop client in one process on ``local[<cores / 2>]``. A run
generates its inputs from the seed, sets up the package and a session,
runs a first pass (every query once, in a seed-permuted order), checks
every output against DuckDB, then runs warm passes until ``--seconds``
have been measured (at least ``workloads.MIN_WARM_PASSES``). ``--trace 1``
records spans and a Spark event log and reports per-layer metrics instead
of the end-to-end ones.

The last stdout line is the result object; the line before it is a
report with the per-query timings and everything the result leaves out.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = ROOT / "map_reduce_engine_spark"


class PeakRss(threading.Thread):
    """Samples the resident memory of this process and all its descendants
    (the JVM and its Python workers) and keeps the peak."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval, self.peak_mb = interval, 0.0
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        parent: dict[int, int] = {}
        for p in os.listdir("/proc"):
            if p.isdigit():
                try:
                    with open(f"/proc/{p}/stat") as f:
                        parent[int(p)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    pass
        tree, frontier = set(), [os.getpid()]
        while frontier:
            pid = frontier.pop()
            tree.add(pid)
            frontier += [c for c, pp in parent.items() if pp == pid and c not in tree]
        pages = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    pages += int(f.read().split()[1])
            except (OSError, IndexError, ValueError):
                pass
        return pages * self._page

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak_mb = max(self.peak_mb, self._tree_rss() / 2**20)
            self._stop_evt.wait(self.interval)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak_mb


def _steal_total() -> tuple[int, int]:
    """(steal, all) CPU ticks of the host so far, from /proc/stat. Steal is
    time the hypervisor gave this VM's CPUs to someone else: a run that saw
    much of it ran slow for reasons outside the engine."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _session(work: Path, cpus: int, trace: bool):
    from map_reduce_engine_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    return get_spark(app_name="enginebench", cpus=cpus, extra_conf=conf)


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_pass(items: dict, order: list[str], tracer, index: int, traced: bool, failures: dict):
    """Run every query once; returns (pass seconds, {query: seconds}, handles)."""
    tracer.enabled, tracer.pass_index = traced, index
    lat, handles = {}, {}
    t0 = time.perf_counter()
    with tracer.span("pass", index=index):
        for name in order:
            q0 = time.perf_counter()
            try:
                with tracer.span("query", query=name):
                    handles[name] = items[name].run()
            except Exception as e:  # counted as failed, never dropped
                failures.setdefault(name, f"pass {index}: {type(e).__name__}: {e}"[:500])
            else:
                lat[name] = time.perf_counter() - q0
    total = time.perf_counter() - t0
    tracer.enabled = False
    return total, lat, handles


def _cache_state(spark) -> tuple[int, float]:
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    mb = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
    return jsc.getPersistentRDDs().size(), mb


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("adhoc", "iterative", "bulk"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (PACKAGE / "queries").is_dir():
        print(f"enginebench: the engine package is missing next to {HERE.name}/", file=sys.stderr)
        return 2
    # Python workers import the package from their working directory, which
    # they inherit from this process through the JVM: pin it to the root.
    os.chdir(ROOT)
    sys.path.insert(0, str(ROOT))

    import datagen
    import spans
    import workloads

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    base = ROOT / ".bench_build" / "enginebench"
    work = base / run_id
    for d in ("tmp", "local", "eventlog", "out"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    steal0 = _steal_total()
    rss = PeakRss()
    rss.start()
    spark = None
    try:
        gen = datagen.bulk if args.workload == "bulk" else datagen.tables
        phase = {"gen_s": time.perf_counter()}
        sf_dir = gen(work / "data", args.seed)
        phase["gen_s"] = time.perf_counter() - phase["gen_s"]

        t0 = time.perf_counter()
        import map_reduce_engine_spark.job  # noqa: F401
        import map_reduce_engine_spark.queries  # noqa: F401

        import_s = time.perf_counter() - t0
        # Tasks get half the cores. The other half is left to the Python
        # client, the JVM's JIT and GC threads and the Python workers, so
        # that a run measures the engine rather than the host's scheduler:
        # on 4 cores, local[4] adhoc passes spread about 3x wider across
        # runs than local[2] ones taken alongside them.
        cpus = max(1, len(os.sched_getaffinity(0)) // 2)
        spark = _session(work, cpus, bool(args.trace))
        setup_s = time.perf_counter() - t0

        tracer = spans.Tracer(spark, run_id)
        if args.trace:
            spans.instrument(tracer)
        ctx = workloads.Context(spark, sf_dir, work / "out", tracer)
        items = {it.name: it for it in workloads.items(args.workload, ctx)}
        names = list(items)
        failures: dict[str, str] = {}
        passes: list[dict] = []

        def one(index: int, traced: bool):
            total, lat, handles = run_pass(
                items, workloads.pass_order(names, args.seed, index), tracer, index, traced, failures
            )
            rec = {"index": index, "traced": traced, "s": total, "lat": lat}
            if args.trace:
                rec["rdds_alive"], rec["storage_mb"] = _cache_state(spark)
            passes.append(rec)
            return handles

        tracer.enabled = bool(args.trace)
        with tracer.span("run", workload=args.workload, seed=args.seed):
            handles = one(0, bool(args.trace))
            phase["check_s"] = time.perf_counter()
            for name, handle in handles.items():  # the output check, untimed
                try:
                    reason = items[name].check(handle)
                except Exception as e:
                    reason = f"{type(e).__name__}: {e}"
                if reason:
                    failures.setdefault(name, f"check: {reason}"[:500])
            del handles
            phase["check_s"] = time.perf_counter() - phase["check_s"]

            measured, index = 0.0, 0
            while True:
                index += 1
                # traced runs alternate untraced and traced warm passes, so the
                # tracing overhead is measured inside one run, against the
                # untraced passes on either side
                traced = bool(args.trace) and index % 2 == 0
                one(index, traced)
                measured += passes[-1]["s"]
                if args.trace:
                    # every traced pass sits between two untraced ones; the
                    # per-layer metrics have no bound, so one traced pass
                    # is enough
                    enough = index >= 3 and not traced
                else:
                    enough = index >= workloads.MIN_WARM_PASSES[args.workload]
                if measured >= args.seconds and enough:
                    break

        if args.trace:
            tracer.collect_jobs()
        phase["stop_s"] = time.perf_counter()
        _stop(spark)
        spark = None
        phase["stop_s"] = time.perf_counter() - phase["stop_s"]
        peak_mb = rss.stop()
        steal1 = _steal_total()

        untraced = [p for p in passes[1:] if not p["traced"]]
        samples = [s for p in untraced for s in p["lat"].values()]
        per_query = {
            n: statistics.median(p["lat"][n] for p in untraced if n in p["lat"])
            for n in names
            if any(n in p["lat"] for p in untraced)
        }
        e2e = {
            "setup_s": (setup_s, "s"),
            "first_pass_s": (passes[0]["s"], "s"),
            "pass_s": (statistics.median(p["s"] for p in untraced), "s"),
            "query_p50_s": (statistics.median(samples), "s"),
            "query_tail_s": (max(per_query.values()), "s"),
            "peak_rss_mb": (peak_mb, "MB"),
            "failed_frac": (len(failures) / len(names), "1"),
        }
        report = {
            "workload": args.workload,
            "seed": args.seed,
            "run_id": run_id,
            "cpus": cpus,
            "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
            "import_s": import_s,
            "query_tail": {"definition": "slowest per-query median warm latency",
                           "query": max(per_query, key=per_query.get), "samples": len(samples)},
            "warm_pass_s": [p["s"] for p in untraced],
            "phases": phase,
            "host_steal_frac": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
            "per_query_s": per_query,
            "first_pass_query_s": passes[0]["lat"],
            "failures": failures,
        }
        if args.trace:
            import layers

            log = next((work / "eventlog").iterdir())
            per_layer, detail = layers.metrics(tracer.spans, passes, str(log))
            report["layers"] = detail
            trace_dir = base / "traces"
            trace_dir.mkdir(exist_ok=True)
            (trace_dir / f"{run_id}.json").write_text(json.dumps({"spans": tracer.spans}))
            report["spans_file"] = str((trace_dir / f"{run_id}.json").relative_to(ROOT))
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()}
        else:
            gated = ("setup_s", "first_pass_s", "pass_s", "query_tail_s")
            metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in gated}
        for name, why in failures.items():
            print(f"enginebench: FAILED {name}: {why}", file=sys.stderr)
        print(json.dumps(report))
        print(json.dumps({
            "correct": not failures,
            "attempted": len(names),
            "failed": len(failures),
            "metrics": metrics,
        }))
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        if rss.is_alive():
            rss.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
