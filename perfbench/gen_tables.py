"""Seeded fixture tables for the query and streaming workloads.

The ten parquet tables the declared queries read (a TPC-H-like star schema
plus ``events``, ``documents`` and ``embeddings``), with the column names,
types and value domains of the engine's sf0.01 test fixtures: the same
31-word document vocabulary with one planted near-duplicate pair per 20
documents, 64-dim ~N(0, 0.125^2) embeddings, a 30-day event window. Every
table is one parquet file with one row group, as the fixtures ship.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# part of the cache key: bump when generated values change
GEN_VERSION = 1

# rows per table at sf0.01, the scale the query and streaming workloads use
ROWS = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500,
}
USERS = 150
EMB_DIM = 64
PLANT_MOD = 20  # doc_id % 20 == 0 is a pair base, == 1 its one-word-longer copy

VOCAB = (
    "a agg batch big column customer data fast filter group hash index join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["blue", "red", "green", "small", "large", "black", "white", "steel", "gold", "pink", "navy", "olive", "plum"]
NOUNS = ["anvil", "ring", "widget", "gear", "spring"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

_US_PER_DAY = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng) -> pa.Table:
    n = ROWS["documents"]
    texts = []
    for i in range(n):
        if i % PLANT_MOD == 1 and texts:  # planted near-dup: base + one word
            texts.append(texts[-1] + " " + VOCAB[rng.integers(len(VOCAB))])
            continue
        k = rng.integers(50, 100) if i % PLANT_MOD == 0 else rng.integers(10, 101)
        texts.append(" ".join(VOCAB[j] for j in rng.integers(len(VOCAB), size=k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[j] for j in rng.choice(len(LANGS), size=n, p=LANG_P)],
        "source": [f"src{j}" for j in rng.integers(20, size=n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def generate(out_dir: str | Path, seed: int) -> dict[str, str]:
    """Write the ten tables as ``<name>.parquet`` under ``out_dir``."""
    rng = np.random.default_rng(seed)
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    i32 = pa.int32()
    nc, ns, np_, no, nl = (ROWS[k] for k in ("customer", "supplier", "part", "orders", "lineitem"))
    ne, nv = ROWS["events"], ROWS["embeddings"]
    tables = {
        "region": pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(25, size=nc), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": [SEGMENTS[j] for j in rng.integers(5, size=nc)],
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(25, size=ns), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(np_), pa.int64()),
            "p_name": [f"{COLORS[rng.integers(len(COLORS))]} {NOUNS[rng.integers(len(NOUNS))]}" for _ in range(np_)],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, size=np_)],
            "p_type": [TYPES[j] for j in rng.integers(len(TYPES), size=np_)],
            "p_size": pa.array(rng.integers(1, 51, size=np_), i32),
            "p_retailprice": np.round(900 + (np.arange(np_) % 1000) / 10, 2),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(nc, size=no), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(3, size=no)],
            "o_totalprice": _money(rng, 1000, 500000, no),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, size=no) * _US_PER_DAY),
            "o_orderpriority": [PRIORITIES[j] for j in rng.integers(5, size=no)],
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(no, size=nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(np_, size=nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(ns, size=nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, size=nl), i32),
            "l_quantity": rng.integers(1, 51, size=nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, nl),
            "l_discount": rng.integers(0, 11, size=nl) / 100,
            "l_tax": rng.integers(0, 9, size=nl) / 100,
            "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(3, size=nl)],
            "l_linestatus": [("F", "O")[j] for j in rng.integers(2, size=nl)],
            "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2499, size=nl) * _US_PER_DAY),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": _ts(_EPOCH_2024 + np.sort(rng.integers(0, 30 * _US_PER_DAY, size=ne))),
            "user_id": pa.array(rng.integers(USERS, size=ne), pa.int64()),
            "event_type": [EVENT_TYPES[j] for j in rng.integers(5, size=ne)],
            "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
            "props": [f'{{"k": {j}}}' for j in rng.integers(100, size=ne)],
        }),
        "documents": _documents(rng),
        "embeddings": pa.table({
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(
                list(rng.normal(0.0, 0.125, (nv, EMB_DIM)).astype(np.float32)),
                pa.list_(pa.float32()),
            ),
            "label": pa.array(rng.integers(10, size=nv), i32),
        }),
    }
    paths = {}
    for name, table in tables.items():
        path = out / f"{name}.parquet"
        pq.write_table(table, path, row_group_size=max(table.num_rows, 1))
        paths[name] = str(path)
    return paths


def cached(cache_root: str | Path, seed: int) -> str:
    """``generate`` behind an on-disk cache keyed by (seed, version);
    returns the fixture directory."""
    d = Path(cache_root) / f"tables_v{GEN_VERSION}_s{seed}"
    if not (d / "done.json").exists():
        tmp = d.with_name(d.name + f".tmp{os.getpid()}")
        generate(tmp, seed)
        (tmp / "done.json").write_text(json.dumps({"seed": seed, "rows": ROWS}))
        os.replace(tmp, d)
    return str(d)
