"""Seeded analytics tables for the query mix of the traced run.

Same schemas and value domains as the project's TPC-H-ish test tables
(``lineitem``, ``orders``, ``customer``, ``events``, ``documents``,
``embeddings``), generated with NumPy from the seed and written as one
parquet file per table, with the row counts of the 0.1 scale factor
(600k line items, 100k events).

``documents`` carries planted exact duplicates: the near-duplicate pair
list of ``dedup_minhash_lsh_pairs`` must equal :func:`planted_pairs`.
"""

from __future__ import annotations

import os
from itertools import combinations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = (
    "a the spark stream batch query table row column key value hash sort "
    "merge join group agg filter scan window order part line customer data "
    "vector fast slow big small index shard block event topic sink source "
    "plan stage task"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
DUP_SHARE = 0.02


def _ts(days_from: str, days: np.ndarray) -> pa.Array:
    base = np.datetime64(days_from, "D")
    return pa.array((base + days.astype("timedelta64[D]")).astype("datetime64[us]"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int) -> tuple[dict[str, pa.Table], list[tuple[int, int]]]:
    """(tables by name, planted duplicate doc-id groups)."""
    rng = np.random.default_rng(seed)
    n_orders = 150_000
    n_cust = 15_000
    n_events = 100_000

    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    })

    order_days = rng.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)]),
        "o_totalprice": pa.array(_money(rng, 900.0, 500_000.0, n_orders)),
        "o_orderdate": _ts("1995-01-01", order_days),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_orders)]),
    })

    lines_per_order = 1 + rng.poisson(3.07, n_orders)
    okeys = np.repeat(np.arange(n_orders, dtype=np.int64), lines_per_order)
    linenos = np.concatenate([np.arange(1, k + 1) for k in lines_per_order]).astype(np.int32)
    n_li = len(okeys)
    perm = rng.permutation(n_li)
    okeys, linenos = okeys[perm], linenos[perm]
    ship_days = order_days[okeys] + rng.integers(1, 122, n_li)
    lineitem = pa.table({
        "l_orderkey": pa.array(okeys),
        "l_partkey": pa.array(rng.integers(0, 200_000, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 10_000, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(linenos),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts("1995-01-01", ship_days),
    })

    ev_us = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_events))
    events = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array((np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"))),
        "user_id": pa.array(rng.integers(0, 1500, n_events, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)]),
        "value": pa.array(_money(rng, 0.0, 500.0, n_events)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })

    documents, dup_groups = _documents(rng, 5000)

    n_emb, dim = 2000, 64
    vecs = rng.normal(0.0, 1.0, (n_emb, dim)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb, dtype=np.int32)),
    })

    tables = {
        "customer": customer, "orders": orders, "lineitem": lineitem,
        "events": events, "documents": documents, "embeddings": embeddings,
    }
    return tables, dup_groups


def _documents(rng: np.random.Generator, n_docs: int):
    texts: list[str] = []
    groups: dict[int, list[int]] = {}
    for i in range(n_docs):
        if i > 10 and rng.random() < DUP_SHARE:
            src = int(rng.integers(0, i))
            root = next((r for r, g in groups.items() if src in g), src)
            groups.setdefault(root, [root]).append(i)
            # same word sequence, different spacing: identical shingles
            texts.append("  " + texts[src].replace(" ", "   ", 1) + " ")
            continue
        n_words = int(rng.integers(15, 70))
        texts.append(" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), n_words)]))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, 5, n_docs)]),
        "source": pa.array([f"src{i % 5}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    return docs, sorted(groups.values())


def planted_pairs(dup_groups: list[list[int]]) -> list[tuple[int, int]]:
    """Every (a, b), a < b, of docs with identical word sequences."""
    return sorted(p for g in dup_groups for p in combinations(sorted(g), 2))


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
