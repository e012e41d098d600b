"""Build the benchmark's triple store once per engine source tree.

The store is the direct mapping of the generated TPC-H-style tables
(``data.py``), built through public calls only: ``store.rdfize``,
``TripleStore.from_term_structs`` and ``TripleStore.save``.  The cache
directory is keyed by a hash of every ``database_spark/`` source file,
so two versions of the engine never share a layout.  Building is not
part of ``setup_s``; its wall time is kept beside the store and
reported as ``store.ingest_s``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import data

TPCH = "urn:tpch:"
BUCKETS = 16


def mappings():
    from database_spark.store import RdfMapping

    return {
        "region": RdfMapping("r_regionkey", "urn:r:", {"r_name": TPCH + "name"}, TPCH + "Region"),
        "nation": RdfMapping(
            "n_nationkey", "urn:n:",
            {"n_name": TPCH + "name", "n_regionkey": TPCH + "region->urn:r:"},
            TPCH + "Nation",
        ),
        "customer": RdfMapping(
            "c_custkey", "urn:c:",
            {
                "c_name": TPCH + "name",
                "c_acctbal": TPCH + "acctbal",
                "c_mktsegment": TPCH + "mktsegment",
                "c_nationkey": TPCH + "nation->urn:n:",
            },
            TPCH + "Customer",
        ),
        "supplier": RdfMapping(
            "s_suppkey", "urn:s:",
            {
                "s_name": TPCH + "name",
                "s_acctbal": TPCH + "acctbal",
                "s_nationkey": TPCH + "nation->urn:n:",
            },
            TPCH + "Supplier",
        ),
        "orders": RdfMapping(
            "o_orderkey", "urn:o:",
            {
                "o_custkey": TPCH + "customer->urn:c:",
                "o_totalprice": TPCH + "totalprice",
                "o_orderstatus": TPCH + "orderstatus",
                "o_orderpriority": TPCH + "priority",
            },
            TPCH + "Order",
        ),
    }


def source_hash(root: str) -> str:
    """Hash of the engine sources and of the files that shape the store."""
    h = hashlib.sha256()
    here = os.path.dirname(os.path.abspath(__file__))
    files = [os.path.join(here, "data.py"), os.path.join(here, "ingest.py")]
    for dirpath, dirnames, names in os.walk(os.path.join(root, "database_spark")):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        files += [os.path.join(dirpath, n) for n in sorted(names) if n.endswith(".py")]
    for path in files:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


class Paths:
    """Where a given scale's tables and store live under the build dir."""

    def __init__(self, build: str, root: str, scale: float, graph_nodes: int):
        tag = f"sf{scale:g}-g{graph_nodes}"
        self.tables = os.path.join(build, f"tables-{tag}")
        self.store = os.path.join(build, f"store-{source_hash(root)}-{tag}")
        self.meta = os.path.join(self.store, "_perfbench.json")

    def ready(self) -> bool:
        return os.path.isfile(self.meta)

    def ingest_s(self) -> float:
        with open(self.meta) as f:
            return json.load(f)["ingest_s"]


def build(spark, paths: Paths, scale: float, graph_nodes: int) -> None:
    """Write the tables (if missing) and the bucketed store."""
    from database_spark.store import TripleStore, rdfize

    t = time.perf_counter()
    if not os.path.isfile(os.path.join(paths.tables, "events.parquet")):
        data.write(paths.tables, scale, graph_nodes)
    parts = [
        rdfize(spark, spark.read.parquet(os.path.join(paths.tables, f"{name}.parquet")), m)
        for name, m in mappings().items()
    ]
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    tmp = paths.store + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    TripleStore.from_term_structs(spark, union, dedupe=False).save(
        tmp, partition_by_predicate=True, buckets=BUCKETS
    )
    with open(os.path.join(tmp, "_perfbench.json"), "w") as f:
        json.dump({"ingest_s": time.perf_counter() - t, "scale": scale}, f)
    shutil.rmtree(paths.store, ignore_errors=True)
    os.rename(tmp, paths.store)
