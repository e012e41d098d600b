"""The benchmark's workloads.

Each workload turns ``--seed`` into an endless, deterministic stream of
unit ops (``ops``), runs one op against the engine's public surface
(``run``) and, after the timed phase, checks every answer against an
independent model (``check``): DuckDB SQL over the same parquet tables
for SPARQL reads, networkx over the same edge lists for graph programs,
and a Python model of the writes so far for updates.

Why each workload exists, and which layers it stresses, is recorded in
``NOTES.md`` beside this file.
"""

from __future__ import annotations

import os
import random

import data

PREFIX = "PREFIX t: <urn:tpch:>\n"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
RDFS_SUBCLASS = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
WARM_SEED = "perfbench-warm-up"


class Context:
    """What every workload is given: the session, the loaded store, the
    generated tables, and the tracer (a no-op unless ``--trace 1``)."""

    def __init__(self, spark, store, tables: str, scale: float, graph_nodes: int, tracer):
        self.spark = spark
        self.store = store
        self.tables = tables
        self.sizes = data.sizes(scale, graph_nodes)
        self.graph_nodes = graph_nodes
        self.tracer = tracer
        #: Catalyst phase times of every traced SELECT result
        self.catalyst: list = []
        self._db = None

    def table(self, name: str) -> str:
        return os.path.join(self.tables, f"{name}.parquet")

    def sql(self, query: str, *params) -> list:
        """Rows of a DuckDB query; tables are addressed by name."""
        import duckdb

        if self._db is None:
            self._db = duckdb.connect()
            for name in data.TABLES:
                self._db.execute(
                    f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{self.table(name)}')"
                )
        return self._db.execute(query, list(params)).fetchall()

    def select(self, engine, text: str) -> list:
        """Run one SELECT to completion; rows of lexical forms."""
        from database_spark.operators import lifecycle as L

        tracer = self.tracer
        res = engine.select(text)
        with tracer.span("exec"):
            rows = res.df.collect()
        if tracer.enabled:
            self.catalyst.append(tracer.catalyst_phases(res.df))
        with tracer.span("free"):
            L.free(res.df)
        return [tuple(None if v is None else v.lex for v in r) for r in rows]


class Workload:
    name = ""
    #: ops per alternation group: the timed phase stops, and the traced
    #: run switches tracing on or off, only at a group boundary
    group_size = 1
    #: groups every untraced run does, however fast they go
    min_groups = 1
    #: unit ops of the fixed warm-up sequence
    warm_ops = 1
    #: whether set-up loads the TPC-H triple store
    needs_store = True

    def __init__(self, ctx: Context):
        self.ctx = ctx

    def prepare(self) -> None:
        """Derive the workload's inputs (timed as part of set-up)."""

    def ops(self, seed):
        raise NotImplementedError

    def start(self) -> None:
        """Reset state between the warm-up and the timed phase."""

    def warm(self) -> None:
        stream = self.ops(WARM_SEED)
        for _ in range(self.warm_ops):
            self.run(next(stream))
        self.start()

    def run(self, op):
        raise NotImplementedError

    def check(self, ops: list, answers: list) -> list:
        """One bool per op: does the answer match the model?"""
        raise NotImplementedError


# ------------------------------------------------------------------ lookup
class Lookup(Workload):
    """Interactive endpoint: a unit op is one pass of four selective
    SELECTs (subject star, object-bound reverse lookup, two-hop path,
    per-nation top 10), each collected and freed."""

    name = "sparql_lookup"
    warm_ops = 2
    THRESHOLDS = (0, 1000, 2500, 5000)

    def prepare(self):
        from database_spark.sparql.engine import SparqlEngine

        self.engine = SparqlEngine(self.ctx.store)

    def ops(self, seed):
        rng = random.Random(seed)
        n = self.ctx.sizes["customer"]
        while True:
            yield {
                "c": rng.randint(1, n),
                "n": rng.randrange(25),
                "x": rng.choice(self.THRESHOLDS),
            }

    @staticmethod
    def queries(op) -> list:
        c, n, x = op["c"], op["n"], op["x"]
        return [
            PREFIX + f"SELECT ?name ?bal ?seg ?n WHERE {{ <urn:c:{c}> t:name ?name ;"
            f" t:acctbal ?bal ; t:mktsegment ?seg ; t:nation ?n }}",
            PREFIX + f"SELECT ?o WHERE {{ ?o t:customer <urn:c:{c}> }}",
            PREFIX + f"SELECT ?r WHERE {{ <urn:c:{c}> t:nation/t:region ?r }}",
            PREFIX + f"SELECT ?c ?bal WHERE {{ ?c a t:Customer ; t:nation <urn:n:{n}> ;"
            f" t:acctbal ?bal ."
            f" FILTER(?bal > {x}) }} ORDER BY DESC(?bal) ?c LIMIT 10",
        ]

    def run(self, op):
        return [self.ctx.select(self.engine, q) for q in self.queries(op)]

    def _expected(self, op) -> list:
        c, n, x = op["c"], op["n"], op["x"]
        sql = self.ctx.sql
        return [
            sql("SELECT c_name, c_acctbal, c_mktsegment, 'urn:n:' || c_nationkey"
                " FROM customer WHERE c_custkey = ?", c),
            sorted(r[0] for r in sql(
                "SELECT 'urn:o:' || o_orderkey FROM orders WHERE o_custkey = ?", c)),
            sql("SELECT 'urn:r:' || n_regionkey FROM customer JOIN nation"
                " ON c_nationkey = n_nationkey WHERE c_custkey = ?", c),
            sql("SELECT 'urn:c:' || c_custkey AS iri, c_acctbal FROM customer"
                " WHERE c_nationkey = ? AND c_acctbal > ?"
                " ORDER BY c_acctbal DESC, iri LIMIT 10", n, x),
        ]

    def check(self, ops, answers):
        out = []
        for op, ans in zip(ops, answers):
            try:
                star, rev, path, top = ans
                got = [
                    [(a, float(b), s, nat) for a, b, s, nat in star],
                    sorted(r[0] for r in rev),
                    list(path),
                    [(iri, float(b)) for iri, b in top],
                ]
            except (TypeError, ValueError):
                out.append(False)
                continue
            out.append(got == self._expected(op))
        return out


# ------------------------------------------------------------------- graph
class Graph(Workload):
    """Iterative analytics: a unit op is one pass of BFS, weighted SSSP,
    CC, 5-iteration PageRank, fuzzy SSSP, a SPARQL ``+`` path closure
    and an RDFS closure, each run to completion and freed."""

    name = "graph_analytics"
    needs_store = False
    HIERARCHY_CUSTOMERS = 200

    # Edge lists, as functions of the event ids (the catalog's *_large
    # graphs): u -> 4u+r (doubling, diameter ~log4 N); two parity
    # components for CC; a permutation ring u -> u+7 for PageRank.
    @staticmethod
    def edge_lists(nodes: int) -> dict:
        srcs = sorted({i % nodes for i in range(4 * nodes)})
        half = nodes // 2
        return {
            "doubling": sorted({(u, (4 * u + r) % nodes) for u in srcs for r in range(4)}),
            "parity": sorted({(u, (((u // 2) * 2 + r) % half) * 2 + u % 2)
                              for u in srcs for r in range(2)}),
            "ring": sorted({(u, (u + 7) % nodes) for u in srcs}),
        }

    def prepare(self):
        from pyspark.sql import functions as F

        from database_spark import terms as T
        from database_spark.operators import lifecycle as L
        from database_spark.sparql.engine import SparqlEngine
        from database_spark.store import TripleStore

        spark, nodes = self.ctx.spark, self.ctx.graph_nodes
        src = spark.read.parquet(self.ctx.table("events")).select(
            (F.col("event_id") % nodes).alias("src")
        )

        def pin(df):
            return L.protect(L.checkpoint(
                df.select(F.col("src").cast("long"), F.col("dst").cast("long")).dropDuplicates()
            ))

        r4 = F.explode(F.array(*[F.lit(i) for i in range(4)]))
        self.doubling = pin(src.withColumn("r", r4).select(
            "src", ((F.col("src") * 4 + F.col("r")) % nodes).alias("dst")))
        self.weighted = self.doubling.select(
            "src", "dst", (F.lit(1.0) + (F.col("src") % 3).cast("double")).alias("weight"))
        r2 = F.explode(F.array(F.lit(0), F.lit(1)))
        self.parity = pin(src.withColumn("r", r2).select(
            "src",
            ((((F.floor(F.col("src") / 2) * 2 + F.col("r")) % (nodes // 2)) * 2)
             + F.col("src") % 2).alias("dst")))
        self.ring = pin(src.select("src", ((F.col("src") + 7) % nodes).alias("dst")))

        def node(c):
            return T.iri_col(F.concat(F.lit("urn:g:"), F.col(c).cast("string")))

        trips = self.doubling.select(
            node("src").alias("st"),
            T.lit_term(T.Term.iri("urn:tpch:next")).alias("pt"),
            node("dst").alias("ot"),
        )
        path_store = TripleStore.from_term_structs(spark, trips, dedupe=False)
        self.path_engine = SparqlEngine(TripleStore(
            spark, L.protected_checkpoint(path_store.df), has_named=False))

        self.hierarchy = self._hierarchy()
        iri = T.Term.iri
        self.rdfs_store = TripleStore.from_python_triples(
            spark, [tuple(iri(x) for x in t) for t in self.hierarchy])

    def _hierarchy(self) -> list:
        """Customers typed by a per-segment class; segments are
        subclasses of Customer, Customer of Party."""
        rows = self.ctx.sql(
            "SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey <= ?"
            " ORDER BY c_custkey", self.HIERARCHY_CUSTOMERS)
        trips = [("urn:tpch:Customer", RDFS_SUBCLASS, "urn:tpch:Party")]
        trips += [(f"urn:seg:{s}", RDFS_SUBCLASS, "urn:tpch:Customer")
                  for s in data.SEGMENTS]
        trips += [(f"urn:c:{k}", RDF_TYPE, f"urn:seg:{s}") for k, s in rows]
        return trips

    def ops(self, seed):
        rng = random.Random(seed)
        n = self.ctx.graph_nodes
        while True:
            yield {"src": rng.randrange(n), "dst": rng.randrange(n),
                   "path": rng.randrange(n), "band": n // 4}

    def _program(self, name: str, make, cols: tuple):
        from database_spark.operators import lifecycle as L

        with self.ctx.tracer.span(name):
            df = make()
            rows = df.select(*cols).collect()
            L.free(df)
        return rows

    def run(self, op):
        from pyspark.sql import functions as F

        from database_spark.operators import graph as G
        from database_spark.inference.rdfs import rdfs_closure

        spark = self.ctx.spark

        def seed(v):
            return spark.range(1).select(F.lit(v).cast("long").alias("node"))

        prog = self._program
        out = {
            "bfs": dict(prog("graph.bfs", lambda: G.bfs(self.doubling, seed(op["src"])),
                             ("node", "depth"))),
            "sssp": dict(prog("graph.sssp", lambda: G.sssp(self.weighted, seed(op["src"])),
                              ("node", "dist"))),
            "cc": dict(prog("graph.cc", lambda: G.connected_components(self.parity),
                            ("node", "component"))),
            "pagerank": dict(prog("graph.pagerank", lambda: G.pagerank(self.ring, iters=5),
                                  ("node", "rank"))),
            "fuzzy": dict(prog(
                "graph.fuzzy_sssp",
                lambda: G.fuzzy_sssp(self.doubling, [op["src"]], [op["dst"]], n=op["band"]),
                ("node", "depth"))),
        }
        with self.ctx.tracer.span("paths.closure"):
            out["path"] = sorted(r[0] for r in self.ctx.select(
                self.path_engine,
                f"SELECT ?x WHERE {{ <urn:g:{op['path']}> <urn:tpch:next>+ ?x }}"))
        out["rdfs"] = sorted(
            (r["s"], r["p"], r["o"]) for r in prog(
                "rdfs.closure", lambda: rdfs_closure(self.rdfs_store).df,
                (F.col("st.lex").alias("s"), F.col("pt.lex").alias("p"),
                 F.col("ot.lex").alias("o"))))
        return out

    # ------------------------------------------------------------- model
    def _models(self):
        import networkx as nx

        if getattr(self, "_nx", None) is None:
            edges = self.edge_lists(self.ctx.graph_nodes)
            g = nx.DiGraph(edges["doubling"])
            for u, v in g.edges:
                g[u][v]["weight"] = 1.0 + u % 3
            cc = nx.Graph(edges["parity"])
            comp = {v: min(c) for c in nx.connected_components(cc) for v in c}
            self._nx = (g, comp, {v for e in edges["ring"] for v in e})
        return self._nx

    def _fuzzy(self, g, s: int, t: int, band: int) -> dict:
        import networkx as nx

        fwd = nx.single_source_shortest_path_length(g, s)
        if t not in fwd:
            return {}
        bwd = nx.single_source_shortest_path_length(g.reverse(copy=False), t)
        on_path = [v for v in fwd if v in bwd and fwd[v] + bwd[v] == fwd[t]]
        depth = dict.fromkeys(on_path, 0)
        layer, d, total = on_path, 0, len(on_path)
        while layer and total < band:
            d += 1
            nxt = sorted({w for v in layer for w in g.successors(v)} - depth.keys())
            depth.update(dict.fromkeys(nxt, d))
            layer, total = nxt, total + len(nxt)
        return depth

    def _rdfs_expected(self) -> set:
        """Type statements RDFS entails for the hierarchy's customers."""
        supers = {"urn:tpch:Customer": {"urn:tpch:Party"}}
        for s in data.SEGMENTS:
            supers[f"urn:seg:{s}"] = {"urn:tpch:Customer", "urn:tpch:Party"}
        out = set()
        for s, p, o in self.hierarchy:
            if p == RDF_TYPE:
                out |= {(s, p, c) for c in {o} | supers.get(o, set())}
        return out

    def check(self, ops, answers):
        import networkx as nx

        g, comp, ring_nodes = self._models()
        rdfs = self._rdfs_expected()
        out = []
        for op, ans in zip(ops, answers):
            try:
                s = op["src"]
                reach = set()
                for w in g.successors(op["path"]):
                    reach |= {w} | nx.descendants(g, w)
                customer_types = {
                    t for t in ans["rdfs"] if t[1] == RDF_TYPE and t[0].startswith("urn:c:")
                }
                out.append(
                    ans["bfs"] == nx.single_source_shortest_path_length(g, s)
                    and ans["sssp"] == nx.single_source_dijkstra_path_length(g, s)
                    and ans["cc"] == comp
                    and set(ans["pagerank"]) == ring_nodes
                    and all(r == 1.0 for r in ans["pagerank"].values())
                    and ans["fuzzy"] == self._fuzzy(g, s, op["dst"], op["band"])
                    and ans["path"] == sorted(f"urn:g:{v}" for v in reach)
                    and customer_types == rdfs
                )
            except (TypeError, KeyError, AttributeError):
                out.append(False)
        return out


# ------------------------------------------------------------------ update
class Update(Workload):
    """Writes beside reads: a unit op is one ``SparqlEngine.update`` on a
    seeded customer followed by a read-back SELECT of that customer.
    Updates follow ``KINDS``: INSERT DATA of a tag, a DELETE/INSERT
    WHERE that bumps ``acctbal``, and DELETE DATA of the oldest tag
    still present.  Commits stay in memory."""

    name = "sparql_update"
    warm_ops = 1
    #: the fixed pattern of update kinds; a group is one pass of it, so
    #: every group does the same mix of work
    KINDS = ("insert", "bump", "delete", "insert", "bump", "delete", "insert", "delete")
    group_size = len(KINDS)
    # two groups (16 ops) outlast --seconds at the speed this was sized
    # on, so every run does the same ops and, whatever the engine's
    # compaction cadence, the same compactions
    min_groups = 2

    def prepare(self):
        self.start()

    def start(self):
        from database_spark.operators import lifecycle as L
        from database_spark.sparql.engine import SparqlEngine

        engine = getattr(self, "engine", None)
        if engine is not None and engine.store is not self.ctx.store:
            # drop the warm-up's compaction snapshot and delta pins
            L.unprotect_and_free(engine.store.df)
            L.sweep(self.ctx.spark)
        self.engine = SparqlEngine(self.ctx.store)

    def ops(self, seed):
        rng = random.Random(seed)
        n = self.ctx.sizes["customer"]
        inserted = []
        i = 0
        while True:
            kind = self.KINDS[i % len(self.KINDS)]
            if kind == "insert":
                op = {"kind": kind, "c": rng.randint(1, n), "tag": f"tag-{i}"}
                inserted.append(op)
            elif kind == "bump":
                op = {"kind": kind, "c": rng.randint(1, n)}
            else:
                prev = inserted.pop(0)
                op = {"kind": kind, "c": prev["c"], "tag": prev["tag"]}
            yield op
            i += 1

    @staticmethod
    def update_text(op) -> str:
        c = f"<urn:c:{op['c']}>"
        if op["kind"] == "insert":
            return PREFIX + f'INSERT DATA {{ {c} t:tag "{op["tag"]}" }}'
        if op["kind"] == "delete":
            return PREFIX + f'DELETE DATA {{ {c} t:tag "{op["tag"]}" }}'
        return PREFIX + (
            f"DELETE {{ {c} t:acctbal ?b }} INSERT {{ {c} t:acctbal ?nb }}"
            f" WHERE {{ {c} t:acctbal ?b . BIND(?b + 1 AS ?nb) }}"
        )

    def run(self, op):
        tracer = self.ctx.tracer
        with tracer.span("update.commit"):
            self.engine.update(self.update_text(op))
        with tracer.span("update.read"):
            return self.ctx.select(
                self.engine, f"SELECT ?p ?o WHERE {{ <urn:c:{op['c']}> ?p ?o }}")

    def _initial(self, c: int) -> dict:
        name, bal, seg, nation = self.ctx.sql(
            "SELECT c_name, c_acctbal, c_mktsegment, c_nationkey FROM customer"
            " WHERE c_custkey = ?", c)[0]
        return {"bal": bal, "tags": set(), "fixed": {
            (RDF_TYPE, "urn:tpch:Customer"), ("urn:tpch:name", name),
            ("urn:tpch:mktsegment", seg), ("urn:tpch:nation", f"urn:n:{nation}"),
        }}

    def check(self, ops, answers):
        model: dict = {}
        out = []
        for op, ans in zip(ops, answers):
            c = op["c"]
            if c not in model:
                model[c] = self._initial(c)
            m = model[c]
            if op["kind"] == "insert":
                m["tags"].add(op["tag"])
            elif op["kind"] == "delete":
                m["tags"].discard(op["tag"])
            else:
                m["bal"] += 1
            want = m["fixed"] | {("urn:tpch:acctbal", m["bal"])} | {
                ("urn:tpch:tag", t) for t in m["tags"]}
            try:
                got = {(p, float(o) if p == "urn:tpch:acctbal" else o) for p, o in ans}
                out.append(len(got) == len(ans) and got == want)
            except (TypeError, ValueError):
                out.append(False)
        return out


WORKLOADS = {w.name: w for w in (Lookup, Graph, Update)}
