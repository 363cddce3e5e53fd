#!/usr/bin/env python3
"""Steadiness record: run each workload once per seed and summarize every
end-to-end metric of the report as median, quartiles and spread (IQR /
median, the figure compared with the bound of each metric BENCHMARK.json
gates; ``bound`` is null for the report-only ones), each run's wall time
and the share of CPU time the host stole from it.

Usage: python3 enginebench/steadiness.py [--workloads adhoc iterative bulk]
           [--seeds 1 2 ...] [--out enginebench/STEADINESS.json]
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None,
            "values": values}


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seeds", type=int, nargs="*", default=list(range(1, 11)))
    ap.add_argument("--out", default=str(HERE / "STEADINESS.json"))
    args = ap.parse_args()

    record = {
        "host": {"cpus": len(os.sched_getaffinity(0)), "machine": platform.machine(),
                 "python": platform.python_version()},
        "seeds": args.seeds,
        "run_seconds": bench["run_seconds"],
        "workloads": {},
    }
    for w in args.workloads:
        runs, walls, steal, failures = [], [], [], {}
        for seed in args.seeds:
            t0 = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, str(HERE / "run.py"), "--workload", w, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True,
            )
            walls.append(time.perf_counter() - t0)
            *_, report, result = (json.loads(line) for line in proc.stdout.splitlines()[-2:])
            runs.append((report["end_to_end"], result["correct"]))
            if report["failures"]:
                failures[seed] = report["failures"]
            steal.append(report["host_steal_frac"])
            print(w, seed, result["correct"],
                  {k: round(v["value"], 3) for k, v in report["end_to_end"].items()}, flush=True)
        bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
        record["workloads"][w] = {
            "correct": all(ok for _, ok in runs),
            "failures": failures,
            "run_wall_s": summarize(walls),
            "host_steal_frac": summarize(steal),
            "metrics": {
                name: {**summarize([e2e[name]["value"] for e2e, _ in runs]),
                       "bound": bounds.get(name)}
                for name in runs[0][0]
            },
        }
    Path(args.out).write_text(json.dumps(record, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
