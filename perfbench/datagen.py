"""Seeded synthetic inputs for the benchmark.

Writes the TPC-H-ish star schema the engine's graph projection reads
(``io.tpch_graph.build_graph``: region, nation, customer, supplier,
part, orders, lineitem) plus the ``documents`` table the curation chain
reads, as parquet files under one directory. Column names and types
match the tables the repository's tests use, so the engine sees the
same shapes; only the values come from ``seed``.

The same ``(seed, scale)`` always writes byte-identical values.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["de", "en", "es", "fr", "zh"]
N_SOURCES = 12
EPOCH = dt.datetime(1995, 1, 1)


@dataclass(frozen=True)
class Scale:
    """Row counts of one generated data set."""

    customers: int
    suppliers: int
    parts: int
    orders: int
    lineitems: int
    documents: int


# The serving projection has the node/edge counts of the sf0.01 tables:
# 78,630 nodes and 196,625 edges.
SERVE = Scale(customers=1500, suppliers=100, parts=2000, orders=15000, lineitems=60000, documents=50)
# The batch inputs are a tenth of that: the four algorithms and the
# eight-stage chain have to fit one bounded run on a small host.
BATCH = Scale(customers=150, suppliers=10, parts=200, orders=1500, lineitems=6000, documents=60)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, n: int, span: int) -> list[dt.datetime]:
    return [EPOCH + dt.timedelta(days=int(d)) for d in rng.integers(0, span, n)]


def tables(seed: int, scale: Scale) -> dict[str, pa.Table]:
    """Build every table in memory (pyarrow), deterministically from ``seed``."""
    rng = np.random.default_rng(seed)
    ts = pa.timestamp("us")
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = scale.customers
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
        }
    )
    ns = scale.suppliers
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = scale.parts
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(range(npart), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2),
        }
    )
    no = scale.orders
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": pa.array(_days(rng, no, 2400), ts),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
        }
    )
    nl = scale.lineitems
    okeys = np.sort(rng.integers(0, no, nl))
    # line numbers count up within each order, so (l_orderkey,
    # l_linenumber) is a true key
    starts = np.r_[0, np.flatnonzero(np.diff(okeys)) + 1]
    run_start = np.repeat(starts, np.diff(np.r_[starts, nl]))
    linenos = np.arange(nl) - run_start + 1
    qty = rng.integers(1, 51, nl).astype(float)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okeys, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(linenos, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, nl)],
            "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, nl)],
            "l_shipdate": pa.array(_days(rng, nl, 2500), ts),
        }
    )
    out["documents"] = documents(rng, scale.documents)
    return out


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents with planted work for every curation stage:
    exact duplicates, near duplicates, PII, short low-quality texts and
    copies of held-out (``doc_id < 5``) 8-grams."""
    texts: list[str] = []
    for i in range(n):
        kind = rng.integers(0, 100)
        if i >= 10 and kind < 4:  # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i >= 10 and kind < 12:  # near duplicate: a few words swapped
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 25)):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
            continue
        n_words = int(rng.integers(4, 90)) if kind < 16 else int(rng.integers(12, 90))
        words = [VOCAB[k] for k in rng.integers(0, len(VOCAB), n_words)]
        if i >= 10 and kind in (20, 21):  # held-out 8-gram leak
            leak = texts[int(rng.integers(0, 5))].split()[:8]
            words[:0] = leak
        if kind in (30, 31):
            words.insert(len(words) // 2, f"user{i}@example.com")
        if kind == 32:
            words.insert(len(words) // 2, f"+1555{i:07d}")
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
            "source": [f"src{i}" for i in rng.integers(0, N_SOURCES, n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write(out_dir: str, seed: int, scale: Scale) -> str:
    """Write every table as ``<out_dir>/<table>.parquet``; returns ``out_dir``.

    A directory that already holds a complete set for the same inputs is
    reused (the ``_SUCCESS`` marker names them)."""
    marker = os.path.join(out_dir, "_SUCCESS")
    tag = f"{seed} {scale}"
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == tag:
                return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    with open(marker, "w") as f:
        f.write(tag)
    return out_dir
