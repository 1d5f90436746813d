"""Seeded corpus for the llm_curate workload.

Writes the ten tables the registry entries read (``sources.registry.TABLES``)
as single parquet files, with the column names, types and value ranges of
the TPC-H-ish test corpus the package is developed against:

- ``documents``: word-bag texts over a small vocabulary, with planted
  exact and near duplicates (so MinHash and n-gram dedup find pairs);
- ``embeddings``: unit-norm 64-d float32 vectors with labels, with planted
  near-duplicate vectors (so semantic dedup and kNN have close neighbours);
- ``events``: one month of user events (2024-01-01 .. 2024-01-30) with
  microsecond timestamps, five event types and ``{"k": n}`` props;
- ``customer`` / ``orders`` / ``lineitem`` / ``part`` / ``supplier`` /
  ``nation`` / ``region``: a small star schema with valid foreign keys.

Output is cached by (seed, size) like gen_logs.
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the spark query table column row scan filter join agg group sort hash key "
    "value stream batch merge line part order customer vector fast slow big small"
).split()
LANGS = ("en", "en", "en", "zh", "de", "es", "fr")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "FURNITURE", "BUILDING", "HOUSEHOLD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("large", "hot", "small", "red", "steel", "brass", "polished")
PART_NOUN = ("ring", "bolt", "nut", "gear", "pipe", "valve", "spring")
PART_TYPES = ("LARGE", "ECONOMY", "STANDARD", "PROMO", "MEDIUM", "SMALL")
DIM = 64


def _ts(rng, n: int, lo: datetime, hi: datetime, whole_days: bool = False):
    a = int(lo.timestamp() * 1_000_000)
    b = int(hi.timestamp() * 1_000_000)
    v = rng.integers(a, b, size=n)
    if whole_days:
        v -= v % 86_400_000_000
    return pa.array(v, pa.timestamp("us"))


def _documents(rng, n: int) -> pa.Table:
    texts = []
    for _ in range(n):
        k = int(rng.integers(10, 101))
        texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), size=k)))
    # Plant duplicates: 1 % exact copies, 4 % near copies (~10 % of words
    # replaced), each of an earlier document.
    for i in rng.choice(np.arange(1, n), size=max(2, n // 20), replace=False):
        src = texts[int(rng.integers(0, i))]
        if rng.random() < 0.2:
            texts[i] = src
            continue
        words = src.split(" ")
        for j in rng.choice(len(words), size=max(1, len(words) // 10), replace=False):
            words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        texts[i] = " ".join(words)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), size=n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    v = rng.standard_normal((n, DIM)).astype(np.float32)
    for i in rng.choice(np.arange(1, n), size=max(2, n // 25), replace=False):
        v[i] = v[int(rng.integers(0, i))] + 0.05 * rng.standard_normal(DIM)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n), pa.int32()),
    })


def _events(rng, n: int, users: int) -> pa.Table:
    ts = np.sort(rng.integers(int(datetime(2024, 1, 1).timestamp() * 1e6),
                              int(datetime(2024, 1, 31).timestamp() * 1e6), size=n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, size=n), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[j] for j in rng.integers(0, 5, size=n)]),
        "value": pa.array(np.round(rng.gamma(2.0, 30.0, size=n) + 0.01, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
    })


def _star(rng, customers: int) -> dict[str, pa.Table]:
    orders, lines = customers * 10, customers * 40
    parts, suppliers = max(20, customers * 4 // 3), max(10, customers // 15)

    def money(lo, hi, size):
        return np.round(rng.uniform(lo, hi, size=size), 2)

    def names(prefix, size):
        return [f"{prefix}#{i:09d}" for i in range(size)]

    o_keys = np.arange(orders)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array([f"REGION_{i}" for i in range(5)]),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(suppliers), pa.int64()),
            "s_name": pa.array(names("Supplier", suppliers)),
            "s_nationkey": pa.array(rng.integers(0, 25, size=suppliers), pa.int32()),
            "s_acctbal": pa.array(money(-999, 9999, suppliers)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(parts), pa.int64()),
            "p_name": pa.array([f"{PART_ADJ[i % 7]} {PART_NOUN[(i // 7) % 7]}"
                                for i in range(parts)]),
            "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(1, 26, size=parts)]),
            "p_type": pa.array([PART_TYPES[j] for j in rng.integers(0, 6, size=parts)]),
            "p_size": pa.array(rng.integers(1, 51, size=parts), pa.int32()),
            "p_retailprice": pa.array(np.round(900 + np.arange(parts) * 0.1, 2)),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(customers), pa.int64()),
            "c_name": pa.array(names("Customer", customers)),
            "c_nationkey": pa.array(rng.integers(0, 25, size=customers), pa.int32()),
            "c_acctbal": pa.array(money(-999, 9999, customers)),
            "c_mktsegment": pa.array([SEGMENTS[j] for j in rng.integers(0, 5, size=customers)]),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(o_keys, pa.int64()),
            "o_custkey": pa.array(rng.integers(0, customers, size=orders), pa.int64()),
            "o_orderstatus": pa.array([("O", "F", "P")[j] for j in rng.integers(0, 3, size=orders)]),
            "o_totalprice": pa.array(money(1000, 400000, orders)),
            "o_orderdate": _ts(rng, orders, datetime(1995, 1, 1), datetime(2001, 8, 1), True),
            "o_orderpriority": pa.array([PRIORITIES[j] for j in rng.integers(0, 5, size=orders)]),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, orders, size=lines), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, parts, size=lines), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, suppliers, size=lines), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, size=lines), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, size=lines).astype(float)),
            "l_extendedprice": pa.array(money(900, 100000, lines)),
            "l_discount": pa.array(rng.integers(0, 11, size=lines) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, size=lines) / 100.0),
            "l_returnflag": pa.array([("A", "N", "R")[j] for j in rng.integers(0, 3, size=lines)]),
            "l_linestatus": pa.array([("O", "F")[j] for j in rng.integers(0, 2, size=lines)]),
            "l_shipdate": _ts(rng, lines, datetime(1995, 1, 1), datetime(2001, 9, 1), True),
        }),
    }


def generate(out_root: str, seed: int, docs: int = 500, vectors: int = 500,
             events: int = 10_000, customers: int = 1500) -> str:
    """Write the corpus under ``out_root`` and return its directory (the
    ``sf_dir`` the registry entries take)."""
    tag = f"tables-s{seed}-d{docs}-v{vectors}-e{events}-c{customers}"
    out = os.path.join(out_root, tag)
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(seed)
    tables = _star(rng, customers)
    tables["documents"] = _documents(rng, docs)
    tables["embeddings"] = _embeddings(rng, vectors)
    tables["events"] = _events(rng, events, users=max(50, events // 60))
    for name, table in tables.items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out
