"""The three workloads: what one pass runs and how each output is checked.

- ``adhoc``: 9 one-shot registry queries (the bench.py names), where the
  time is fixed per-query overhead -- schema-inference reads, planning,
  job scheduling.
- ``iterative``: 3 driver-loop queries, where building the DataFrame
  (many small loop jobs) is almost the whole query.
- ``bulk``: the reference's WordCount/WordLength as real ``Job.run``
  submissions through the Python map/reduce UDFs, their native twins on the
  same corpus, and the pricing aggregate and customer-revenue join over
  replicated lineitem/orders: executor compute, shuffle, the Python-worker
  boundary and the TSV write path.

Every item's output is checked once, outside the timed passes, against
DuckDB: registry queries against their own oracle SQL with the strict
multiset normalization of tests/test_oracle_parity.py, the two ``Job.run``
TSV outputs against token counts over the generated corpus.

README.md lists the bench.py queries left out and why. q13
(``q9_product_profit``) is one of them: on some seeds its output differs
from its oracle's in the last digit (README.md, "Known engine failure"), and
the benchmark runs only queries that are correct on every seed.
``test_enginebench.py`` keeps that failure in view.
"""

from __future__ import annotations

import random
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

# bench.py name -> registry name
ADHOC = {
    "q1_wordcount": "wordcount",
    "q3_filter_project": "filter_project",
    "q4_group_agg": "q1_pricing_summary",
    "q5_join_revenue": "join_customer_revenue",
    "q6_topk_per_nation": "window_topk_per_nation",
    "q10_sessionization": "events_sessionization",
    "q15_bm25": "bm25_doc_scores",
    "q19_pareto": "pareto_frontier_parts",
    "q21_total_order_rank": "total_order_rank",
}
ITERATIVE = {
    "q11_pagerank": "pagerank_customer_supplier",
    "q14_bpe_train": "bpe_train_merges",
    "q23_unigram_train": "unigram_lm_vocab",
}
BULK_QUERIES = {
    "native_wordcount": "wordcount",
    "native_wordlength": "wordlength",
    "replicated_pricing_summary": "q1_pricing_summary",
    "replicated_customer_revenue": "join_customer_revenue",
}
BULK_JOBS = {
    "job_wordcount": "map_reduce_engine_spark.examples.wordcount_job",
    "job_wordlength": "map_reduce_engine_spark.examples.wordlength_job",
}
# DuckDB twins of the two Job.run outputs: same whitespace tokenization as
# the mappers' str.split(), over every corpus file
_CORPUS_TOKENS = "SELECT unnest(string_split_regex(trim(content), '\\s+')) AS w FROM read_text('{glob}')"
JOB_ORACLES = {
    "job_wordcount": "SELECT w, count(*) FROM ({tokens}) WHERE w <> '' GROUP BY w",
    "job_wordlength": "SELECT length(w), count(*) FROM ({tokens}) WHERE w <> '' GROUP BY 1",
}

WORKLOADS = ("adhoc", "iterative", "bulk")
# Warm passes a run makes at the least, whatever --seconds asks, so that
# pass_s and query_tail_s are medians, not single passes. Across seeds, one
# adhoc pass of many short queries spreads by ~25% (IQR / median) and the
# median of three by 5-15%. One bulk pass (~7 s) spreads by ~18%, and the
# same seed gave 6.4 s and 7.6 s in two runs. The median of two passes is
# their mean, which damps noise about as much as a median of three; the
# run budget (70 runs) has no room for a third pass of iterative (~9 s)
# or bulk (~7 s).
MIN_WARM_PASSES = {"adhoc": 3, "iterative": 2, "bulk": 2}


@dataclass
class Item:
    """One query of a pass. ``run`` is timed and returns what ``check``
    needs; ``check`` returns None when the output matches, else a reason."""

    name: str
    run: Callable[[], object]
    check: Callable[[object], str | None]


def pass_order(names: list[str], seed: int, pass_index: int) -> list[str]:
    """The seed permutes the query order of every pass."""
    order = sorted(names)
    random.Random(f"{seed}/{pass_index}").shuffle(order)
    return order


def _compare(spark_rows, spark_cols, duck_rows, duck_cols) -> str | None:
    from tests.test_oracle_parity import _normalize

    s_cols, s_norm = _normalize(spark_rows, spark_cols)
    d_cols, d_norm = _normalize(duck_rows, duck_cols)
    if s_cols != d_cols:
        return f"columns {s_cols} != {d_cols}"
    if s_norm != d_norm:
        diff = next((a, b) for a, b in zip(s_norm + [None], d_norm + [None]) if a != b)
        return f"{len(s_norm)} vs {len(d_norm)} rows; first difference {diff}"
    return None


class Context:
    """What the items share: the session, the input dir, the tracer and a
    DuckDB connection with one view per generated table."""

    def __init__(self, spark, sf_dir: Path, out_dir: Path, tracer):
        import duckdb

        from map_reduce_engine_spark.session import TABLES

        self.spark, self.sf_dir, self.out_dir, self.tracer = spark, sf_dir, out_dir, tracer
        self.duck = duckdb.connect()
        for t in TABLES:
            self.duck.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")


def registry_item(ctx: Context, name: str, registry_name: str) -> Item:
    from map_reduce_engine_spark.queries import REGISTRY

    q = REGISTRY[registry_name]
    tr = ctx.tracer

    def run():
        with tr.span("construct", registry=registry_name):
            df = q.fn(ctx.spark, str(ctx.sf_dir))
        if tr.enabled:
            with tr.span("plan"):
                df._jdf.queryExecution().executedPlan()
        with tr.span("execute"):
            df.write.format("noop").mode("overwrite").save()
        return df

    def check(df) -> str | None:
        rel = ctx.duck.sql(q.oracle)
        return _compare([tuple(r) for r in df.collect()], df.columns, rel.fetchall(), rel.columns)

    return Item(name, run, check)


def job_item(ctx: Context, name: str, module: str) -> Item:
    from map_reduce_engine_spark.job import Job, load_job_module

    map_fn, reduce_fn, types = load_job_module(module)
    corpus = ctx.sf_dir / "corpus"
    out = ctx.out_dir / name

    def run():
        Job(
            name=name.removeprefix("job_"),
            input_dir=str(corpus),
            output_dir=str(out),
            map_fn=map_fn,
            reduce_fn=reduce_fn,
            **types,
        ).run(ctx.spark)
        return out

    def check(path: Path) -> str | None:
        rows = [
            tuple(line.split("\t"))
            for part in sorted(path.glob("part-*"))
            for line in part.read_text().splitlines()
        ]
        sql = JOB_ORACLES[name].format(tokens=_CORPUS_TOKENS.format(glob=f"{corpus}/*.txt"))
        duck = [(str(k), str(v)) for k, v in ctx.duck.sql(sql).fetchall()]
        return _compare(rows, ["key", "value"], duck, ["key", "value"])

    return Item(name, run, check)


def items(workload: str, ctx: Context) -> list[Item]:
    if workload == "adhoc":
        return [registry_item(ctx, n, r) for n, r in ADHOC.items()]
    if workload == "iterative":
        return [registry_item(ctx, n, r) for n, r in ITERATIVE.items()]
    if workload == "bulk":
        return [job_item(ctx, n, m) for n, m in BULK_JOBS.items()] + [
            registry_item(ctx, n, r) for n, r in BULK_QUERIES.items()
        ]
    raise ValueError(f"unknown workload {workload!r}; choose from {WORKLOADS}")
