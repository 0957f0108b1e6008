"""Seeded input generator: TPC-H-shaped star schema plus ``events`` and
``embeddings``, written as one parquet file per table.

The engine reads only the directory this module writes. The tables are
drawn once from a fixed base seed; ``--seed`` then applies a one-to-one
remap of the customer, part and order keys and of the event users. A
remap keeps row counts and degree distributions, so runs with different
seeds do the same amount of work, while hashes, join-key placement and
tie-breaks move. The embeddings are not remapped: Louvain's round count
depends on their ids, and a remap there changed the rebuild pass time by
seed. Column names, types
and value domains follow the engine's source tables
(``sources.tables.TABLES``).
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
P_ADJ = ("small", "large", "red", "blue", "hot", "old", "new", "green")
P_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "nut", "spring")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
EMB_DIM, EMB_ROWS, EMB_LABELS = 64, 500, 10

_DAY_US = 86_400_000_000
_ORDER_EPOCH_US = 788_918_400_000_000  # 1995-01-01
_ORDER_DAYS = 2404  # through 2001-08-01
_EVENT_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01
_EVENT_SPAN_US = 30 * _DAY_US


@dataclass(frozen=True)
class Scale:
    """Row counts. ``customers`` drives the TPC-H ratios (parts 4/3,
    orders 10x, ~4 lineitems per order); events and embeddings are sized
    on their own."""

    customers: int
    events: int

    @property
    def parts(self) -> int:
        return self.customers * 4 // 3

    @property
    def suppliers(self) -> int:
        return max(10, self.customers // 15)

    @property
    def orders(self) -> int:
        return self.customers * 10


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


BASE_SEED = 20240101
EVENT_USERS = 150


def tables(scale: Scale, seed: int) -> dict[str, pa.Table]:
    """Every source table for ``scale``, remapped by ``seed``."""
    rng = np.random.default_rng(BASE_SEED)
    remap = np.random.default_rng(seed)
    c, p, s, o = scale.customers, scale.parts, scale.suppliers, scale.orders
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    cust_key = remap.permutation(c)
    part_key = remap.permutation(p)
    order_key = remap.permutation(o)
    user_key = remap.permutation(EVENT_USERS)

    out["customer"] = pa.table({
        "c_custkey": pa.array(cust_key, pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, len(SEGMENTS), c)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    })
    names = rng.integers(0, len(P_ADJ) * len(P_NOUN), p)
    out["part"] = pa.table({
        "p_partkey": pa.array(part_key, pa.int64()),
        "p_name": [f"{P_ADJ[i // len(P_NOUN)]} {P_NOUN[i % len(P_NOUN)]}" for i in names],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": [P_TYPES[i] for i in rng.integers(0, len(P_TYPES), p)],
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 2),
    })

    order_day = rng.integers(0, _ORDER_DAYS + 1, o)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(order_key, pa.int64()),
        "o_custkey": pa.array(cust_key[rng.integers(0, c, o)], pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, o)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _ts(_ORDER_EPOCH_US + order_day * _DAY_US),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, len(PRIORITIES), o)],
    })

    per_order = np.clip(rng.binomial(13, 0.3, o), 1, 13)
    n = int(per_order.sum())
    l_order = np.repeat(np.arange(o), per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(order_key[l_order], pa.int64()),
        "l_partkey": pa.array(part_key[rng.integers(0, p, n)], pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, n), pa.int64()),
        "l_linenumber": pa.array(np.arange(n) - starts + 1, pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n)],
        "l_shipdate": _ts(
            _ORDER_EPOCH_US + (order_day[l_order] + rng.integers(1, 96, n)) * _DAY_US
        ),
    })

    e = scale.events
    ev_ts = np.sort(rng.integers(0, _EVENT_SPAN_US, e))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": _ts(_EVENT_EPOCH_US + ev_ts),
        "user_id": pa.array(user_key[rng.integers(0, EVENT_USERS, e)], pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, len(EVENT_TYPES), e)],
        "value": _money(rng, 0.01, 490.0, e),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })

    labels = rng.integers(0, EMB_LABELS, EMB_ROWS)
    centroids = rng.normal(0.0, 1.0, (EMB_LABELS, EMB_DIM))
    vecs = centroids[labels] + rng.normal(0.0, 0.6, (EMB_ROWS, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(EMB_ROWS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def write(scale: Scale, seed: int, out_dir: str) -> str:
    """Write every table under ``out_dir`` and return the input hash (a
    digest over each table's name, row count and parquet bytes)."""
    os.makedirs(out_dir, exist_ok=True)
    digest = hashlib.sha256()
    for name, table in tables(scale, seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        digest.update(f"{name}:{table.num_rows}:".encode())
        with open(path, "rb") as fh:
            digest.update(fh.read())
    return digest.hexdigest()


def row_counts(data_dir: str) -> dict[str, int]:
    return {
        f[: -len(".parquet")]: pq.ParquetFile(os.path.join(data_dir, f)).metadata.num_rows
        for f in sorted(os.listdir(data_dir))
        if f.endswith(".parquet")
    }
