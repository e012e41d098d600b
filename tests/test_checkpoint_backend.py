"""Cluster-durable checkpoint backend (r11 verdict wrong #1 / next #1).

``lifecycle.checkpoint`` selects its backend from the SparkContext
checkpoint dir: unset ⇒ ``localCheckpoint`` (block manager, the
local-mode default), set ⇒ reliable ``df.checkpoint()`` (files under
the dir — survives executor loss on a real cluster).  These tests pin:

* ownership attribution works for reliable checkpoints (``rdd-*`` dirs
  diffed under the lock, stashed on the DataFrame),
* ``free`` / ``protect`` / ``sweep`` / ``unprotect_and_free`` hold the
  same semantics for both backends,
* a fixpoint operator (BFS — GAS family) produces byte-identical
  results in both modes, with its round state landing under the
  configured dir in reliable mode,
* an engine-level arbitrary-length-path query stays correct in
  reliable mode.
"""

import os

import pytest
from pyspark.sql import functions as F

from database_spark.operators import lifecycle as L


@pytest.fixture()
def reliable_dir(spark, tmp_path):
    """Switch the session to the reliable backend for one test; always
    restore the local backend (and protected-file state) afterwards."""
    d = str(tmp_path / "ckpt")
    sc = spark.sparkContext
    prev_env = os.environ.pop("SPARK_GRAFT_CHECKPOINT_DIR", None)
    sc.setCheckpointDir(d)
    resolved = sc.getCheckpointDir()
    assert resolved and resolved.split(":")[-1].startswith(str(tmp_path))
    try:
        yield resolved
    finally:
        sc._jsc.sc().setCheckpointDir(None)
        assert sc.getCheckpointDir() is None
        L._PROTECTED_FILES.clear()
        if prev_env is not None:
            os.environ["SPARK_GRAFT_CHECKPOINT_DIR"] = prev_env


def _rdd_dirs(d):
    base = d.split(":")[-1] if "://" not in d else None
    assert base is not None  # tests run on the local fs
    if not os.path.isdir(base):
        return set()
    return {n for n in os.listdir(base) if n.startswith("rdd-")}


def test_reliable_ownership_free(spark, reliable_dir):
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    out = L.checkpoint(df)
    files = getattr(out, "_dbspark_ckpt_files", None)
    assert files, "reliable checkpoint must own its rdd-* dirs"
    assert not getattr(out, "_dbspark_ckpt_ids", None)
    assert _rdd_dirs(reliable_dir)
    assert out.count() == 100
    # reading twice works (recomputed from files, not blocks)
    assert out.agg(F.sum("v")).collect()[0][0] == 9900
    L.free(out)
    assert _rdd_dirs(reliable_dir) == set()
    L.free(out)  # idempotent


def test_reliable_forced_eager(spark, reliable_dir):
    # eager=False is honored locally but FORCED eager in reliable mode
    # (lazy would materialize outside the attribution lock and leak)
    out = L.checkpoint(spark.range(10), eager=False)
    assert getattr(out, "_dbspark_ckpt_files", None)
    L.free(out)


def test_reliable_protect_sweep(spark, reliable_dir):
    kept = L.protected_checkpoint(spark.range(5))
    loose = L.checkpoint(spark.range(7))
    assert len(_rdd_dirs(reliable_dir)) >= 2
    L.sweep(spark)
    remaining = _rdd_dirs(reliable_dir)
    assert len(remaining) == 1  # only the protected artifact survives
    assert kept.count() == 5
    # free skips protected artifacts unless de-protected first
    L.free(kept)
    assert _rdd_dirs(reliable_dir) == remaining
    L.unprotect_and_free(kept)
    assert _rdd_dirs(reliable_dir) == set()
    assert loose.columns  # attribute access stays safe after sweep


def test_bfs_identical_across_backends(spark, reliable_dir):
    from database_spark.operators.graph import bfs

    edges = spark.createDataFrame(
        [(i, (i + 7) % 50) for i in range(50)] + [(3, 11), (11, 3)],
        "src long, dst long",
    )
    seeds = spark.createDataFrame([(0,)], "node long")
    # force the distributed fixpoint path (max_iter set ⇒ no local
    # small-graph shortcut), reliable backend active
    want_rows = None
    got = sorted(
        tuple(r) for r in bfs(edges, seeds, max_iter=100).collect()
    )
    # BFS runs on the rewrite driver (iterate.fused_fixpoint), which
    # frees every earlier round's state and the edge checkpoint as it
    # goes: however many rounds ran, the result owns exactly one
    # artifact, its final state checkpoint
    assert len(_rdd_dirs(reliable_dir)) == 1, (
        "a rewrite fixpoint must leave only its result's checkpoint dir"
    )
    L.sweep(spark)
    assert _rdd_dirs(reliable_dir) == set()
    # rerun with the local backend for the byte-identical comparison
    sc = spark.sparkContext
    sc._jsc.sc().setCheckpointDir(None)
    try:
        want_rows = sorted(
            tuple(r) for r in bfs(edges, seeds, max_iter=100).collect()
        )
    finally:
        sc.setCheckpointDir(reliable_dir)
    assert got == want_rows and len(got) == 50


def test_alp_query_reliable_mode(spark, reliable_dir):
    """Engine-level `+` property path (ArbitraryLengthPathOp analog)
    runs green with reliable checkpoints and matches local mode."""
    from database_spark.sparql.engine import SparqlEngine
    from database_spark.store import TripleStore
    from database_spark.terms import Term

    EX = "urn:ex:"
    trips = [
        (Term.iri(EX + f"n{i}"), Term.iri(EX + "next"), Term.iri(EX + f"n{(i + 3) % 12}"))
        for i in range(12)
    ]
    eng = SparqlEngine(TripleStore.from_python_triples(spark, trips))
    q = f"PREFIX ex: <{EX}> SELECT ?x WHERE {{ ex:n0 ex:next+ ?x }}"
    got = sorted(r["x"]["lex"] for r in eng.select(q).df.collect())
    sc = spark.sparkContext
    sc._jsc.sc().setCheckpointDir(None)
    try:
        want = sorted(r["x"]["lex"] for r in eng.select(q).df.collect())
    finally:
        sc.setCheckpointDir(reliable_dir)
    assert got == want and len(got) == 4  # n0->n3->n6->n9->n0 cycle


def test_env_var_configures_reliable_backend(spark, tmp_path):
    d = str(tmp_path / "envckpt")
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    os.environ["SPARK_GRAFT_CHECKPOINT_DIR"] = d
    try:
        out = L.checkpoint(spark.range(3))
        assert getattr(out, "_dbspark_ckpt_files", None)
        assert sc.getCheckpointDir() is not None
        L.free(out)
    finally:
        del os.environ["SPARK_GRAFT_CHECKPOINT_DIR"]
        sc._jsc.sc().setCheckpointDir(None)
        L._PROTECTED_FILES.clear()
