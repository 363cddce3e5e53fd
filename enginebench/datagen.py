"""Seeded input generator for the engine benchmark.

Everything the benchmark reads is produced here from ``--seed`` alone, with
numpy and pyarrow (no Spark), so the same seed writes byte-identical files:

- ``tables(out_dir, seed)``: the ten fixture tables (TESTDATA.md layout and
  exact parquet schemas) at the small scale (sf0.002) the ``adhoc`` and
  ``iterative`` workloads run on;
- ``bulk(out_dir, seed)``: the ``bulk`` tier at sf0.01 -- a line-oriented text corpus
  for the reference's WordCount/WordLength jobs, the same corpus as a
  ``documents`` table for their native twins, and ``lineitem``/``orders``
  replicated with shifted order keys (the offline union pattern of
  ``scripts/scale_smoke.py``).

Sizes are fixed per tier; the seed changes values, never row counts.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# TPC-H-ish row counts at sf1 (TESTDATA.md); the corpus tables are fixed
ROWS_SF1 = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}
SMALL_SF = 0.002  # the adhoc and iterative tier
BULK_SF = 0.01  # the bulk tier's base, before replication
N_DOCS = 500
N_EMB = 500
EMB_DIM = 64

# bulk tier
BULK_DOCS = 1200
BULK_VOCAB = 2000
BULK_WORDS = (20, 80)  # tokens per line, uniform
BULK_REPLICAS = 4
ORDERKEY_SHIFT = 10_000_000  # far above any generated order key

DOC_VOCAB = (
    "a the row query stream fast spark line small customer group value hash "
    "batch sort data big filter dup key agg scan slow table part merge window "
    "order column join vector"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]

def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent stream per table, so adding a column to one table
    never shifts another table's values."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _days(rng, start: dt.date, end: dt.date, n: int) -> pa.Array:
    span = (end - start).days
    base = np.datetime64(start, "us")
    days = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(base + days.astype("timedelta64[us]"), pa.timestamp("us"))


def _write(out_dir: Path, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), out_dir / f"{name}.parquet")


def _doc_texts(rng, n: int, vocab: list[str], words: tuple[int, int], p=None) -> list[str]:
    lens = rng.integers(words[0], words[1] + 1, n)
    idx = rng.choice(len(vocab), size=int(lens.sum()), p=p)
    texts, pos = [], 0
    for k in lens:
        texts.append(" ".join(vocab[i] for i in idx[pos : pos + k]))
        pos += k
    return texts


def _documents(rng, texts: list[str]) -> dict:
    n = len(texts)
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    }


def _small_documents(rng) -> dict:
    """Fixture-like corpus: short texts over a ~30-word vocabulary, with
    planted exact duplicates (dedup/components) and one-word edits
    (MinHash near-dups)."""
    texts = _doc_texts(rng, N_DOCS, DOC_VOCAB, (8, 80))
    for i in range(0, N_DOCS, 25):  # exact duplicate of a random earlier doc
        if i:
            texts[i] = texts[int(rng.integers(0, i))]
    for i in range(7, N_DOCS, 40):  # near duplicate: one token replaced
        toks = texts[i - 1].split()
        toks[int(rng.integers(0, len(toks)))] = DOC_VOCAB[int(rng.integers(0, len(DOC_VOCAB)))]
        texts[i] = " ".join(toks)
    return _documents(rng, texts)


def _sizes(sf: float) -> dict[str, int]:
    return {t: max(1, round(n * sf)) for t, n in ROWS_SF1.items()}


def _lineitem_orders(seed: int, sf: float) -> tuple[dict, dict]:
    size = _sizes(sf)
    n_cust, n_supp, n_part, n_ord = (size[t] for t in ("customer", "supplier", "part", "orders"))
    r = _rng(seed, "orders")
    orders = {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array([("F", "O", "P")[i] for i in r.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(r, 1000, 500000, n_ord)),
        "o_orderdate": _days(r, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in r.integers(0, 5, n_ord)]),
    }
    r = _rng(seed, "lineitem")
    n = size["lineitem"]
    lineitem = {
        "l_orderkey": pa.array(r.integers(0, n_ord, n), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(r.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, 900, 105000, n)),
        "l_discount": pa.array(np.round(r.integers(0, 11, n) / 100.0, 2)),
        "l_tax": pa.array(np.round(r.integers(0, 9, n) / 100.0, 2)),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in r.integers(0, 3, n)]),
        "l_linestatus": pa.array([("F", "O")[i] for i in r.integers(0, 2, n)]),
        "l_shipdate": _days(r, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n),
    }
    return lineitem, orders


def tables(out_dir: str | os.PathLike, seed: int, sf: float = SMALL_SF) -> Path:
    """Write the ten fixture tables for ``seed`` at scale ``sf`` under ``out_dir``."""
    size = _sizes(sf)
    n_cust, n_supp, n_part, n_ev = (size[t] for t in ("customer", "supplier", "part", "events"))
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    r = _rng(seed, "customer")
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in r.integers(0, 5, n_cust)]),
    })
    r = _rng(seed, "supplier")
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n_supp)),
    })
    r = _rng(seed, "part")
    keys = np.arange(n_part)
    _write(out, "part", {
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in r.integers(0, 8, (n_part, 2))]),
        "p_brand": pa.array([f"Brand#{i}" for i in r.integers(1, 26, n_part)]),
        "p_type": pa.array([P_TYPES[i] for i in r.integers(0, 6, n_part)]),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) / 10.0, 2)),
    })
    lineitem, orders = _lineitem_orders(seed, sf)
    _write(out, "orders", orders)
    _write(out, "lineitem", lineitem)
    r = _rng(seed, "events")
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(r.integers(0, 30 * 86400 * 10**6, n_ev)).astype("timedelta64[us]")
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(start + offs, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, 150, n_ev), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[i] for i in r.integers(0, 5, n_ev)]),
        "value": pa.array(_money(r, 0.01, 490.0, n_ev)),
        "props": pa.array([f'{{"k": {i}}}' for i in r.integers(0, 100, n_ev)]),
    })
    _write(out, "documents", _small_documents(_rng(seed, "documents")))
    r = _rng(seed, "embeddings")
    labels = r.integers(0, 10, N_EMB)
    centers = r.normal(0.0, 1.0, (10, EMB_DIM))
    vecs = centers[labels] + r.normal(0.0, 0.6, (N_EMB, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(N_EMB), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def _bulk_vocab(rng) -> list[str]:
    """Distinct lowercase pseudo-words of 2-12 letters (WordLength keys)."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < BULK_VOCAB:
        k = int(rng.integers(2, 13))
        words.add("".join(letters[rng.integers(0, 26, k)]))
    return sorted(words)


def bulk(out_dir: str | os.PathLike, seed: int) -> Path:
    """Write the bulk tier for ``seed``: ``corpus/`` (text lines, two
    files), and a table dir with ``documents`` (the same lines) plus every
    other table at BULK_SF, ``lineitem``/``orders`` replicated BULK_REPLICAS
    times with shifted order keys."""
    out = Path(out_dir)
    tables(out, seed, BULK_SF)
    r = _rng(seed, "bulk")
    vocab = _bulk_vocab(r)
    zipf = 1.0 / np.arange(1, BULK_VOCAB + 1) ** 0.8
    texts = _doc_texts(r, BULK_DOCS, vocab, BULK_WORDS, p=zipf / zipf.sum())
    corpus = out / "corpus"
    corpus.mkdir(exist_ok=True)
    half = len(texts) // 2
    for i, chunk in enumerate((texts[:half], texts[half:])):
        (corpus / f"part-{i}.txt").write_text("\n".join(chunk) + "\n")
    _write(out, "documents", _documents(_rng(seed, "bulk-meta"), texts))
    lineitem, orders = _lineitem_orders(seed, BULK_SF)
    for name, cols, keycol in (
        ("lineitem", lineitem, "l_orderkey"),
        ("orders", orders, "o_orderkey"),
    ):
        base = pa.table(cols)
        keys = base.column(keycol).to_numpy()
        copies = [
            base.set_column(
                base.schema.get_field_index(keycol),
                keycol,
                pa.array(keys + i * ORDERKEY_SHIFT, pa.int64()),
            )
            for i in range(BULK_REPLICAS)
        ]
        pq.write_table(pa.concat_tables(copies), out / f"{name}.parquet")
    return out


def digests(root: str | os.PathLike) -> dict[str, str]:
    """sha256 of every generated file under ``root``, by relative path."""
    root = Path(root)
    return {
        str(p.relative_to(root)): hashlib.sha256(p.read_bytes()).hexdigest()
        for p in sorted(root.rglob("*"))
        if p.is_file()
    }
