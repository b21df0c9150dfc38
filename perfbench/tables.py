"""Seeded generator for the operator-query input tables.

Writes the TPC-H-ish star schema (`region nation customer supplier part
orders lineitem`) and the `embeddings` table as parquet, with the same
column names, types and value domains as the repository's fixed test
tables (0-based keys, unit-norm 64-dim embeddings). Every value comes
from one `numpy` generator seeded by the benchmark seed, so a seed fixes
the inputs byte for byte.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "red", "small", "green", "tiny"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EMB_DIM = 64
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, lo: int, hi: int, n: int) -> pa.Array:
    us = _EPOCH_1995 + rng.integers(lo, hi, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _pick(rng, values: list[str], n: int) -> list[str]:
    return [values[i] for i in rng.integers(0, len(values), n)]


def _i32(a) -> pa.Array:
    return pa.array(np.asarray(a, dtype=np.int32), pa.int32())


def build_tables(seed: int, n_customers: int, n_embeddings: int) -> dict[str, pa.Table]:
    """Tables scaled from the customer count in TPC-H proportions
    (supplier 1/15, part 4/3, orders 10x, lineitem 40x)."""
    rng = np.random.default_rng(seed)
    n_supp = max(n_customers // 15, 10)
    n_part = n_customers * 4 // 3
    n_orders = n_customers * 10
    n_lines = n_orders * 4
    t = {}
    t["region"] = pa.table({"r_regionkey": _i32(range(5)), "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": _i32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": _i32(np.arange(25) % 5),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_customers, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_customers)],
        "c_nationkey": _i32(rng.integers(0, 25, n_customers)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_customers),
        "c_mktsegment": _pick(rng, SEGMENTS, n_customers),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": _i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(rng, names, n_part),
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": _i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_customers, n_orders),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": _days(rng, 0, 2404, n_orders),
        "o_orderpriority": _pick(rng, PRIORITIES, n_orders),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_orders, n_lines),
        "l_partkey": rng.integers(0, n_part, n_lines),
        "l_suppkey": rng.integers(0, n_supp, n_lines),
        "l_linenumber": _i32(rng.integers(1, 8, n_lines)),
        "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_lines),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_lines),
        "l_linestatus": _pick(rng, ["F", "O"], n_lines),
        "l_shipdate": _days(rng, 1, 2500, n_lines),
    })
    emb = rng.standard_normal((n_embeddings, EMB_DIM))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_embeddings, dtype=np.int64),
        "embedding": pa.array(list(emb.astype(np.float32)), pa.list_(pa.float32())),
        "label": _i32(rng.integers(0, 10, n_embeddings)),
    })
    return t


def write_tables(out_dir: str, tables: dict[str, pa.Table]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
