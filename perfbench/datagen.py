"""Seeded generator for the benchmark's relational and corpus tables.

Writes the ten tables the registered queries read (``region nation customer
supplier part orders lineitem events documents embeddings``), one parquet
file each, with the schema and value distributions of the engine's sf0.1
test tables: a TPC-H-shaped star schema, a month of events, a 30-word
synthetic corpus in which 5% of documents are an earlier document plus the
token ``dup``, and 64-d unit embeddings with 10 labels.

The same seed always gives byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
EVENT_USERS = 1_500
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
US_PER_DAY = 86_400 * 1_000_000
DAY_1995 = 9131  # 1995-01-01 in days since the epoch
DAY_2001_08 = 11535  # 2001-08-01
TS_2024 = 1_704_067_200 * 1_000_000  # 2024-01-01 in microseconds


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _dates(rng, n):
    days = rng.integers(DAY_1995, DAY_2001_08, n)
    return pa.array(days.astype("int64") * US_PER_DAY, pa.timestamp("us"))


def _tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _pick(
            rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc
        ),
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    names = [
        f"{a} {b}"
        for a in ("blue", "cold", "hot", "large", "old", "red", "small", "green")
        for b in ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
    ]
    keys = np.arange(npart, dtype="int64")
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": _pick(rng, names, npart),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], npart),
        "p_type": _pick(
            rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], npart
        ),
        "p_size": rng.integers(1, 51, npart).astype("int32"),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype="int64"),
        "o_custkey": rng.integers(0, nc, no).astype("int64"),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _dates(rng, no),
        "o_orderpriority": _pick(
            rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no
        ),
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype("int64"),
        "l_partkey": rng.integers(0, npart, nl).astype("int64"),
        "l_suppkey": rng.integers(0, ns, nl).astype("int64"),
        "l_linenumber": rng.integers(1, 8, nl).astype("int32"),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _dates(rng, nl),
    })
    ne = n["events"]
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, ne)) + TS_2024
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype="int64"),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, EVENT_USERS, ne).astype("int64"),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })
    nd = n["documents"]
    lengths = rng.integers(10, 101, nd)
    tokens = rng.integers(0, len(WORDS), int(lengths.sum()))
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [
        " ".join(WORDS[w] for w in tokens[bounds[i]:bounds[i + 1]]) for i in range(nd)
    ]
    # 5% near-duplicates: an earlier document's text plus one token
    for i in np.sort(rng.choice(np.arange(1, nd), nd // 20, replace=False)):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype="int64"),
        "text": texts,
        "lang": _pick(rng, ["de", "en", "es", "fr", "zh"], nd,
                      p=[0.15, 0.4, 0.15, 0.15, 0.15]),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": np.array([len(s) for s in texts], dtype="int64"),
    })
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    vecs = rng.normal(0.0, 1.0, (nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype("int32"),
    })
    return t


def generate(out_dir: str, seed: int) -> None:
    """Write the ten tables under ``out_dir`` (``<table>.parquet``)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in _tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
