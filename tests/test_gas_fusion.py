"""Round-fusion internals of the GAS fixpoint driver (r12 verdict
next-round #4): fused blocks must produce bit-identical results AND the
exact round accounting of the one-action-per-round loop, engage only
below the data gate, and actually cut the per-round action count."""

import pytest
from pyspark.sql import functions as F

from database_spark.operators import graph as G
from database_spark.operators import iterate as I
from database_spark.operators import lifecycle as L


def _jobs(spark) -> int:
    """Id of the newest job (the list is newest first).  Job ids are
    sequential, so two readings differ by the jobs run in between; the
    list's size is no counter, as the store trims it past
    spark.ui.retainedJobs."""
    jl = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    return jl.apply(0).jobId() if jl.size() else -1


def _chain_edges(spark, n: int):
    # a path 0 -> 1 -> ... -> n: diameter n, so BFS/SSSP genuinely run
    # multiple rounds; > SMALL_GRAPH_EDGES forces the distributed path
    return spark.range(n).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )


@pytest.fixture()
def fusion_gate(monkeypatch):
    """Force the distributed path for small fixtures and let tests flip
    the fusion gate constants."""
    monkeypatch.setattr(G, "SMALL_GRAPH_EDGES", 4)
    yield monkeypatch


def test_fused_equals_unfused_bfs(spark, fusion_gate):
    e = _chain_edges(spark, 11)
    seeds = spark.sql("SELECT CAST(0 AS BIGINT) AS node")
    fusion_gate.setattr(I, "GAS_FUSE_ROUNDS", 4)
    fused = sorted((r["node"], r["depth"]) for r in G.bfs(e, seeds).collect())
    fusion_gate.setattr(I, "GAS_FUSE_ROUNDS", 1)
    unfused = sorted((r["node"], r["depth"]) for r in G.bfs(e, seeds).collect())
    assert fused == unfused == [(i, i) for i in range(12)]
    L.sweep(spark)


def test_fused_rounds_accounting_exact(spark, fusion_gate):
    # multi_sssp reports stats["rounds"]; the chain 0..7 converges in
    # exactly 8 relaxation rounds (7 that improve + 1 quiescent) —
    # fusion must report the same count even when the quiescent round
    # lands mid-block
    e = _chain_edges(spark, 7).withColumn("weight", F.lit(1.0))
    seeds = spark.sql("SELECT CAST(0 AS BIGINT) node, CAST(0 AS BIGINT) seed")
    out = {}
    for k in (1, 3, 4, 5):
        fusion_gate.setattr(I, "GAS_FUSE_ROUNDS", k)
        stats = {}
        rows = G.multi_sssp(e, seeds, max_iter=50, stats=stats).collect()
        out[k] = (stats["rounds"], sorted((r["node"], r["dist"]) for r in rows))
        L.sweep(spark)
    rounds = {v[0] for v in out.values()}
    results = {tuple(v[1]) for v in out.values()}
    assert len(rounds) == 1 and len(results) == 1
    assert out[1][0] == 8


def test_fusion_respects_max_rounds_and_max_iter(spark, fusion_gate):
    e = _chain_edges(spark, 11).withColumn("weight", F.lit(1.0))
    seeds = spark.sql("SELECT CAST(0 AS BIGINT) node, CAST(0 AS BIGINT) seed")
    fusion_gate.setattr(I, "GAS_FUSE_ROUNDS", 4)
    # max_rounds truncates cleanly at a non-block-aligned count
    stats = {}
    rows = G.multi_sssp(e, seeds, max_rounds=5, stats=stats).collect()
    assert stats["rounds"] == 5
    assert max(r["dist"] for r in rows) == 5.0  # exact <=5-hop distances
    # max_iter raises when no fixpoint fits the budget, fused or not
    with pytest.raises(RuntimeError):
        G.multi_sssp(e, seeds, max_iter=3)
    L.sweep(spark)


def test_fusion_data_gate_and_action_count(spark, fusion_gate):
    e = _chain_edges(spark, 9)
    seeds = spark.sql("SELECT CAST(0 AS BIGINT) AS node")
    # gate CLOSED (state bigger than the cap): one action per round
    fusion_gate.setattr(I, "GAS_FUSE_ROUNDS", 4)
    fusion_gate.setattr(I, "GAS_FUSE_MAX_ROWS", 0)
    j0 = _jobs(spark)
    gated = sorted(r["depth"] for r in G.bfs(e, seeds).collect())
    gated_jobs = _jobs(spark) - j0
    L.sweep(spark)
    # gate OPEN: blocks of 4 rounds share one action — strictly fewer
    fusion_gate.setattr(I, "GAS_FUSE_MAX_ROWS", 10_000)
    j0 = _jobs(spark)
    fused = sorted(r["depth"] for r in G.bfs(e, seeds).collect())
    fused_jobs = _jobs(spark) - j0
    assert fused == gated
    assert fused_jobs < gated_jobs
    L.sweep(spark)


@pytest.mark.parametrize("distributed", [False, True])
def test_multi_sssp_tag_column_named_like_a_keyword(spark, fusion_gate, distributed):
    """multi_sssp splices its tag column into SQL text; a column named
    like a reserved word must be quoted, on the driver-local and the
    distributed path alike (reserved words only reject unquoted use
    under ANSI keyword enforcement, so the test turns it on)."""
    e = (
        _chain_edges(spark, 5)
        .withColumn("weight", F.lit(1.0))
        .withColumn("order", F.lit(0))
    )
    seeds = spark.sql(
        "SELECT CAST(0 AS BIGINT) node, CAST(0 AS BIGINT) seed, 0 AS `order`"
    )
    if not distributed:
        fusion_gate.setattr(G, "SMALL_GRAPH_EDGES", 1000)
    spark.conf.set("spark.sql.ansi.enforceReservedKeywords", "true")
    try:
        rows = G.multi_sssp(
            e, seeds, dir_col="order", max_rounds=20 if distributed else None
        ).collect()
    finally:
        spark.conf.unset("spark.sql.ansi.enforceReservedKeywords")
    assert sorted((r["node"], r["order"], r["dist"]) for r in rows) == [
        (i, 0, float(i)) for i in range(6)
    ]
    L.sweep(spark)
