"""The fixpoint loop drivers (``operators/iterate.py``).

* ``fixpoint_rounds`` raises at its cap instead of returning a
  truncated answer, in every loop built on it;
* ``seminaive_fixpoint`` — the append-only driver under the
  bound-endpoint path walk, the RDFS closure and truth maintenance —
  agrees with pure-Python reachability on seeded random graphs, with a
  chain long enough that layer compaction runs, and so does the
  all-pairs doubling closure;
* a loop's result owns every checkpoint the loop kept: freeing it
  leaves no unprotected persistent RDD (local backend) or ``rdd-*``
  dir (reliable backend) behind.
"""

import os
import random

import pytest
from pyspark.sql import functions as F

from database_spark import terms as T
from database_spark.inference.rdfs import rdfs_closure, tm_retract
from database_spark.operators import iterate as I
from database_spark.operators import lifecycle as L
from database_spark.operators.graph import bfs
from database_spark.operators.iterate import fixpoint_rounds
from database_spark.operators.paths import reachable_pairs, transitive_closure
from database_spark.store import TripleStore
from database_spark.terms import RDF, RDFS, Term

N = "urn:n:"
C = "urn:c:"


def _node(c):
    return T.iri_col(F.concat(F.lit(N), F.col(c).cast("string")))


def _pairs(spark, edges):
    """Path step relation (a, b and graph g: term + id each) from
    integer (u, v, g) edges."""
    return (
        spark.createDataFrame(edges, "u long, v long, g long")
        .select(_node("u").alias("a"), _node("v").alias("b"), _node("g").alias("g"))
        .select(
            "a", T.term_id(F.col("a")).alias("a__id"),
            "b", T.term_id(F.col("b")).alias("b__id"),
            "g", T.term_id(F.col("g")).alias("g__id"),
        )
    )


def _seed(v):
    return T.lit_term(Term.iri(f"{N}{v}"))


def _rows(df, cols):
    return {
        tuple(int(r[c]["lex"][len(N):]) for c in cols) for r in df.collect()
    }


def _reach(edges, gcol):
    """(g, u) → nodes reachable from u in ≥1 step; g is None when the
    graphs are merged."""
    adj: dict = {}
    for u, v, g in edges:
        adj.setdefault((g if gcol else None, u), set()).add(v)
    out = {}
    for g, u in {(g if gcol else None, x) for u, v, g in edges for x in (u, v)}:
        seen, todo = set(), [u]
        while todo:
            for v in adj.get((g, todo.pop()), ()):
                if v not in seen:
                    seen.add(v)
                    todo.append(v)
        out[g, u] = seen
    return out


def _graph(rnd):
    """Two random 10-node graphs, plus a chain in graph 0 longer than
    COMPACT_LAYERS, entered from ``head``."""
    edges = {
        (rnd.randrange(10), rnd.randrange(10), g) for g in (0, 1) for _ in range(14)
    }
    head = rnd.randrange(10)
    chain = [head] + list(range(100, 100 + I.COMPACT_LAYERS + 4))
    edges |= {(u, v, 0) for u, v in zip(chain, chain[1:])}
    return sorted(edges), head, chain[-1]


@pytest.mark.parametrize("seed,gcol", [(1, None), (2, "g")])
def test_seminaive_paths_match_python_reachability(spark, monkeypatch, seed, gcol):
    merges = []
    real = I._compact_layers

    def spy(layers):
        out = real(layers)
        if out is not layers:
            merges.append(len(layers))
        return out

    monkeypatch.setattr(I, "_compact_layers", spy)
    edges, head, tail = _graph(random.Random(seed))
    pairs = _pairs(spark, edges)
    reach = _reach(edges, gcol)
    gs = ["g"] if gcol else []

    def key(g, *nodes):
        return (g, *nodes) if gcol else nodes

    got = _rows(
        reachable_pairs(spark, pairs, "a", "b", _seed(head), "a", gcol=gcol),
        gs + ["a", "b"],
    )
    want = {key(g, u, v) for (g, u), vs in reach.items() if u == head for v in vs}
    assert got == want
    # the walk from `head` follows the whole chain: compaction ran
    assert merges

    got = _rows(
        reachable_pairs(spark, pairs, "a", "b", _seed(tail), "b", gcol=gcol),
        gs + ["a", "b"],
    )
    want = {key(g, u, tail) for (g, u), vs in reach.items() if tail in vs}
    assert got == want

    got = _rows(transitive_closure(spark, pairs, "a", "b", gcol=gcol), gs + ["a", "b"])
    want = {key(g, u, v) for (g, u), vs in reach.items() for v in vs}
    assert got == want


def test_fixpoint_rounds_raises_at_cap():
    it = fixpoint_rounds(3, "unit")
    assert [next(it) for _ in range(3)] == [0, 1, 2]
    with pytest.raises(RuntimeError, match="no fixpoint after 3"):
        next(it)


def test_bfs_runs_to_fixpoint_and_raises_on_cap(spark, monkeypatch):
    # 4-node chain 0→1→2→3
    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    out = {r["node"]: r["depth"] for r in bfs(edges, seeds).collect()}
    assert out == {0: 0, 1: 1, 2: 2, 3: 3}
    # the iteration cap only governs the DISTRIBUTED frontier walk —
    # the driver-local small-graph path is exact by construction, so
    # force the distributed path to exercise the truncation guard
    from database_spark.operators import graph as G

    monkeypatch.setattr(G, "SMALL_GRAPH_EDGES", 0)
    with pytest.raises(RuntimeError, match="bfs: no fixpoint"):
        bfs(edges, seeds, max_iter=2)


def _iri(x):
    return Term.iri(x if ":" in x else C + x)


def _trips(*spo):
    return [tuple(_iri(x) for x in t) for t in spo]


SUB, TYPE = RDFS + "subClassOf", RDF + "type"


def _tm_inputs(spark, trips, gone):
    """tm_retract's inputs for retracting the explicit statement
    ``gone``: the closed store without it, the closure's
    justifications, and the deleted terms."""
    closed, justs = rdfs_closure(
        TripleStore.from_python_triples(spark, trips), with_justifications=True
    )
    deleted = TripleStore.from_python_triples(spark, [gone]).df
    after = TripleStore(
        spark, closed.df.join(deleted.select("s", "p", "o"), ["s", "p", "o"], "left_anti")
    )
    return after, justs, deleted.select("st", "pt", "ot")


def test_max_iter_raises_in_every_closure_loop(spark):
    pairs = _pairs(spark, [(i, i + 1, 0) for i in range(6)])
    with pytest.raises(RuntimeError, match="reachable_pairs: no fixpoint after 2"):
        reachable_pairs(spark, pairs, "a", "b", _seed(0), "a", max_iter=2)
    with pytest.raises(RuntimeError, match="transitive_closure: no fixpoint after 1"):
        transitive_closure(spark, pairs, "a", "b", max_iter=1)

    chain = _trips(("C0", SUB, "C1"), ("C1", SUB, "C2"), ("C2", SUB, "C3"), ("x", TYPE, "C0"))
    with pytest.raises(RuntimeError, match="rdfs_closure: no fixpoint after 1"):
        rdfs_closure(TripleStore.from_python_triples(spark, chain), max_iter=1)
    # retracting C0 ⊑ C1 overdeletes over two rounds: (x a C1), (C0 ⊑ C2)
    # in the first, what they support in the next
    store, justs, deleted = _tm_inputs(spark, chain, chain[0])
    with pytest.raises(RuntimeError, match="tm_overdelete: no fixpoint after 1"):
        tm_retract(store, justs, deleted, max_iter=1)
    # retracting an explicit (x a C1) that C0 ⊑ C1 still entails: nothing
    # depends on it, so overdeletion converges at once, and rederiving
    # it takes a round past the cap
    both = _trips(("C0", SUB, "C1"), ("x", TYPE, "C0"), ("x", TYPE, "C1"))
    store, justs, deleted = _tm_inputs(spark, both, both[2])
    with pytest.raises(RuntimeError, match="tm_rederive: no fixpoint after 1"):
        tm_retract(store, justs, deleted, max_iter=1)
    _, (added, removed) = tm_retract(store, justs, deleted, max_iter=2)
    assert added.count() == 1 and removed.count() == 0  # resurrected as inferred


@pytest.fixture(params=["local", "reliable"])
def backend(request, spark, tmp_path):
    """Run one test on each checkpoint backend; restore the session's
    own backend afterwards."""
    sc = spark.sparkContext
    prev_env = os.environ.pop("SPARK_GRAFT_CHECKPOINT_DIR", None)
    prev_dir = sc.getCheckpointDir()
    sc._jsc.sc().setCheckpointDir(None)
    if request.param == "reliable":
        sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        yield request.param
    finally:
        sc._jsc.sc().setCheckpointDir(None)
        if prev_dir:
            sc.setCheckpointDir(prev_dir)
        if prev_env is not None:
            os.environ["SPARK_GRAFT_CHECKPOINT_DIR"] = prev_env


def _unprotected(spark) -> set:
    """Every unprotected checkpoint artifact in the session."""
    sc = spark.sparkContext
    d = sc.getCheckpointDir()
    dirs = L._rdd_dirs(sc, d) - L._PROTECTED_FILES if d else set()
    return (L._ids(sc) - L._PROTECTED) | dirs


def _flat(tm_out):
    justs, (added, removed) = tm_out
    return [justs, added, removed]


def test_freed_loop_results_leave_no_checkpoints(spark, backend):
    edges = [(i, i + 1, i % 2) for i in range(I.COMPACT_LAYERS + 3)]
    pairs = _pairs(spark, edges)
    chain = _trips(("C0", SUB, "C1"), ("C1", SUB, "C2"), ("C2", SUB, "C3"), ("x", TYPE, "C0"))
    rstore = TripleStore.from_python_triples(spark, chain)
    tm_in = _tm_inputs(spark, chain, chain[0])
    runs = {
        "reachable_pairs(a)": lambda: [
            reachable_pairs(spark, pairs, "a", "b", _seed(0), "a")],
        "reachable_pairs(b, g)": lambda: [
            reachable_pairs(spark, pairs, "a", "b", _seed(5), "b", gcol="g")],
        "transitive_closure": lambda: [transitive_closure(spark, pairs, "a", "b")],
        "rdfs_closure": lambda: [rdfs_closure(rstore).df],
        "tm_retract": lambda: _flat(tm_retract(*tm_in)),
    }
    for name, run in runs.items():
        before = _unprotected(spark)
        out = run()
        for df in out:
            df.count()
        L.free(*out)
        assert _unprotected(spark) - before == set(), name
