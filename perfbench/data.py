"""Deterministic TPC-H-style tables for the benchmark store.

The tables are a function of ``scale`` alone (a fixed data seed), so
every run of every workload queries the same database; the run's
``--seed`` picks the operations and their constants, not the data.
Layout and names follow the catalog's star schema (region, nation,
customer, supplier, orders) plus an ``events`` table whose ids the
graph workload derives its edge lists from.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240917

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
    ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
    ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4),
    ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0),
    ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3),
    ("UNITED KINGDOM", 3), ("UNITED STATES", 1),
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
TABLES = ("region", "nation", "customer", "supplier", "orders", "events")


def sizes(scale: float, graph_nodes: int) -> dict:
    return {
        "customer": max(50, int(150_000 * scale)),
        "supplier": max(10, int(10_000 * scale)),
        "orders": max(500, int(1_500_000 * scale)),
        "events": 4 * graph_nodes,
    }


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    # whole cents, so the literal's lexical form round-trips exactly
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def tables(scale: float, graph_nodes: int) -> dict:
    """Every table as a pyarrow Table."""
    rng = np.random.default_rng(DATA_SEED)
    n = sizes(scale, graph_nodes)
    nc, ns, no = n["customer"], n["supplier"], n["orders"]
    ckeys = np.arange(1, nc + 1, dtype=np.int64)
    skeys = np.arange(1, ns + 1, dtype=np.int64)
    okeys = np.arange(1, no + 1, dtype=np.int64)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [nm for nm, _ in NATIONS],
            "n_regionkey": pa.array([r for _, r in NATIONS], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": ckeys,
            "c_name": [f"Customer#{k:09d}" for k in ckeys],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": _money(rng, nc, -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, nc),
        }),
        "supplier": pa.table({
            "s_suppkey": skeys,
            "s_name": [f"Supplier#{k:09d}" for k in skeys],
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": _money(rng, ns, -999.99, 9999.99),
        }),
        "orders": pa.table({
            "o_orderkey": okeys,
            "o_custkey": rng.integers(1, nc + 1, no).astype(np.int64),
            "o_orderstatus": rng.choice(STATUSES, no),
            "o_totalprice": _money(rng, no, 900.0, 500_000.0),
            "o_orderpriority": rng.choice(PRIORITIES, no),
        }),
        "events": pa.table({
            "event_id": np.arange(n["events"], dtype=np.int64),
        }),
    }


def write(out_dir: str, scale: float, graph_nodes: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(scale, graph_nodes).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
