"""Seeded analytics tables for the query workload.

Writes the ten parquet tables the query registry reads (TPC-H-shaped
region .. lineitem, plus events, documents and embeddings) with the
schemas, key ranges, value distributions and category sets of the
package's fixture tables, scaled by ``sf`` (lineitem ~ 6M * sf rows).
The seed picks the values; the same (sf, seed) gives identical files.

Usage: python3 perfbench/tablegen.py OUT_DIR SEED [SF]
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["O", "P", "F"]
RETURNFLAGS = ["A", "N", "R"]
LINESTATUSES = ["O", "F"]
PTYPES = ["ECONOMY", "LARGE", "STANDARD", "MEDIUM", "SMALL", "PROMO"]
ADJS = ["cold", "hot", "blue", "red", "small", "old", "new", "large"]
NOUNS = ["plate", "gear", "rod", "ring", "anvil", "bolt", "widget"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en"] * 8 + ["de"] * 3 + ["fr"] * 3 + ["es"] * 3 + ["zh"] * 3
VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
DAY_US = 86_400_000_000


def _timestamps(start: str, day_offsets: np.ndarray) -> pa.Array:
    base = np.datetime64(start).astype("datetime64[us]").astype(np.int64)
    return pa.array(base + day_offsets * DAY_US, type=pa.timestamp("us"))


def _span_days(lo: str, hi: str) -> int:
    return int((np.datetime64(hi) - np.datetime64(lo)) / np.timedelta64(1, "D"))


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    # Several row groups per table, so Spark splits fact scans into
    # more than one task, as it would on real files.
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=max(1000, table.num_rows // 64))


def generate(out_dir: str, seed: int, sf: float = 0.001) -> dict[str, int]:
    """Write every table into ``out_dir``; returns row counts by table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2),
    })
    part_names = np.array([f"{a} {n}" for a in ADJS for n in NOUNS])
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(part_names[rng.integers(0, len(part_names), n_part)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(PTYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
    })
    order_days = rng.integers(0, _span_days("1995-01-01", "2001-08-01") + 1, n_ord)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(STATUSES)[rng.integers(0, 3, n_ord)]),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _timestamps("1995-01-01", order_days),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
    })
    # 1-7 lines per order
    lines_per = rng.integers(1, 8, n_ord)
    l_orderkey = np.repeat(np.arange(n_ord), lines_per)
    n_li = len(l_orderkey)
    ship_days = rng.integers(0, _span_days("1995-01-02", "2001-11-04") + 1, n_li)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_orderkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(
            np.concatenate([np.arange(1, k + 1) for k in lines_per]), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": pa.array(np.array(RETURNFLAGS)[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(LINESTATUSES)[rng.integers(0, 2, n_li)]),
        "l_shipdate": _timestamps("1995-01-02", ship_days),
    })
    # events: 30 days of January 2024, sorted by time
    base_us = np.datetime64("2024-01-01").astype("datetime64[us]").astype(np.int64)
    ts = np.sort(base_us + rng.integers(0, 30 * DAY_US, n_evt))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(n_cust, 1), n_evt), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)]),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
    })
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)])
             for k in rng.integers(8, 101, n_doc)]
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n_doc)]),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    # unit-normalized 64-dim gaussians
    x = rng.standard_normal((n_emb, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array([r.tolist() for r in x], pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    for name, table in tables.items():
        _write(out_dir, name, table)
    return {name: t.num_rows for name, t in tables.items()}


if __name__ == "__main__":
    sf = float(sys.argv[3]) if len(sys.argv) > 3 else 0.001
    print(generate(sys.argv[1], int(sys.argv[2]), sf))
