"""Tests of the benchmark itself: seeded inputs, the event-log reader, the
pinned working directory and the refusal outside a full checkout, plus the
known engine failure that keeps q13 out of the adhoc workload.

Run: python -m pytest enginebench/test_enginebench.py -q -p no:cacheprovider
(the foreign-directory test runs the adhoc workload twice, about
two minutes).
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

import datagen
import eventlog
import spans
import workloads

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
RECORDED_LOG = HERE / "testdata" / "eventlog_small.jsonl"


def test_one_seed_gives_identical_inputs_and_order(tmp_path):
    for name, gen in (("tables", datagen.tables), ("bulk", datagen.bulk)):
        a = datagen.digests(gen(tmp_path / f"{name}-a", 7))
        b = datagen.digests(gen(tmp_path / f"{name}-b", 7))
        c = datagen.digests(gen(tmp_path / f"{name}-c", 8))
        assert a == b
        assert a.keys() == c.keys()
        # every seeded file differs; region and nation are constant tables
        assert {k for k in a if a[k] == c[k]} == {"region.parquet", "nation.parquet"}
    names = list(workloads.ADHOC)
    for p in range(3):
        assert workloads.pass_order(names, 7, p) == workloads.pass_order(names, 7, p)
    assert [workloads.pass_order(names, 7, p) for p in range(3)] != [
        workloads.pass_order(names, 8, p) for p in range(3)
    ]


def test_event_log_reader_on_recorded_log():
    """The recorded log holds one Python map/reduce job (group ``udf``:
    WordCount over 2 lines, 4 distinct words) and one native aggregate
    (group ``agg``, one stage), both on local[1]."""
    groups = eventlog.read_file(str(RECORDED_LOG))
    udf, agg = groups["udf"], groups["agg"]
    assert udf["tasks"] == 2 and agg["tasks"] == 1
    assert udf["tasks.failed"] == 0 and agg["tasks.failed"] == 0
    # the mapper returns one row per token (7), the reducer one per word (4)
    assert udf["python.rows_received"] == 7 + 4
    assert udf["python.boot_ms"] > 0 and udf["python.total_ms"] > 0
    assert udf["python.bytes_sent"] > 0 and udf["python.bytes_received"] > 0
    assert agg["python.total_ms"] == 0 and agg["python.rows_received"] == 0
    assert udf["shuffle.write_bytes"] == udf["shuffle.read_bytes"] > 0
    assert agg["shuffle.write_bytes"] == agg["shuffle.read_bytes"] == 0
    for g in (udf, agg):
        assert 0 < g["executor.cpu_ms"] <= g["executor.run_ms"]
    # exact sums, re-read from the raw task ends of the recorded log
    raw = [json.loads(line) for line in RECORDED_LOG.read_text().splitlines()]
    ends = [e for e in raw if e["Event"] == "SparkListenerTaskEnd"]
    run_ms = sum(e["Task Metrics"]["Executor Run Time"] for e in ends)
    assert udf["executor.run_ms"] + agg["executor.run_ms"] == run_ms


def test_foreign_working_directory_gives_same_failed(tmp_path):
    """q19 (mapInPandas) pickles package functions by reference; its Python
    workers find the package only because the benchmark pins its working
    directory to the repo root. The whole adhoc workload, launched from the
    root and from a foreign directory, fails the same queries."""
    results = []
    for cwd in (ROOT, tmp_path):
        proc = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", "adhoc", "--seed", "1",
             "--seconds", "0", "--trace", "0"],
            cwd=cwd, capture_output=True, text=True, timeout=600,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        results.append(json.loads(proc.stdout.splitlines()[-1]))
    assert [(r["failed"], r["attempted"]) for r in results] == [
        (0, len(workloads.ADHOC))
    ] * 2


def test_refuses_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / HERE.name, ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, f"{HERE.name}/run.py", "--workload", "bulk", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


@pytest.mark.xfail(strict=True, raises=AssertionError,
                   reason="known engine failure: q9_product_profit rounds a DOUBLE")
def test_q13_matches_its_oracle_on_seed_4(tmp_path):
    """q13 (q9_product_profit) is left out of adhoc: on seed 4's tables one
    group's profit sum falls on a rounding midpoint, and Spark and DuckDB
    round the DOUBLE it is cast to apart (570658.32 vs .31). Once the engine
    rounds in DECIMAL this passes, the strict xfail fails, and q13 goes back
    into ``workloads.ADHOC``."""
    sys.path.insert(0, str(ROOT))
    import run

    for d in ("tmp", "local"):
        (tmp_path / d).mkdir()
    spark = run._session(tmp_path, 2, False)
    try:
        ctx = workloads.Context(spark, datagen.tables(tmp_path / "data", 4), tmp_path / "out",
                                spans.Tracer(spark, "q13"))
        item = workloads.registry_item(ctx, "q13_tpch_q9", "q9_product_profit")
        assert item.check(item.run()) is None
    finally:
        run._stop(spark)
