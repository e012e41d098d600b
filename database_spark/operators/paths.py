"""Iterative fixpoint operators: transitive closure / directed reachability.

Reference: ``ArbitraryLengthPathOp.java:48`` + ``ArbitraryLengthPathTask``
(1302 LoC) evaluate `*`/`+` property paths by iterating a subquery plan
until no new solutions appear.  Spark version: driver-side fixpoint
loops over DataFrames.  The bound-endpoint walk is semi-naive
(``iterate.seminaive_fixpoint``): each round joins only the newest
frontier layer, anti-joins out known nodes, and checkpoints just the
round's new rows.  The all-pairs closure doubles paths instead and
rewrites one checkpointed closure per round.  Either way every round
truncates lineage (without it the plan tree doubles per iteration and
the job dies at scale long before the data does).

Scale notes: both operators run under ``lifecycle.loop_exec`` (AQE off,
a static partition count derived from the input).  Hub skew is absorbed
by shape, not AQE: the per-round dedup is a map-side-combined
aggregate, and the BFS step relation is partitioned and sorted by its
join key once so rounds never re-shuffle it.  When one endpoint of the
path is bound we run directed BFS from the seed (frontier = node set,
not pair set) — O(reachable) instead of O(all-pairs), which is the
difference between LUBM-style queries finishing and not finishing at
100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import terms as T
from . import lifecycle as L
from .iterate import fixpoint_rounds, seminaive_fixpoint


def _dedupe(df: DataFrame, a: str, b: str, gcol: str | None = None) -> DataFrame:
    keys = [a + "__id", b + "__id"]
    if gcol:
        keys.append(gcol + "__id")
    return df.dropDuplicates(keys)


def transitive_closure(
    spark: SparkSession,
    pairs: DataFrame,
    a: str,
    b: str,
    max_iter: int | None = None,
    gcol: str | None = None,
) -> DataFrame:
    """All-pairs transitive closure of the step relation `pairs`.

    `pairs` columns: a, a__id, b, b__id (term struct + id per endpoint).

    ``gcol``: optional partition column (graph context for paths under
    GRAPH ?var — reference ``ArbitraryLengthPathOp`` runs inside any
    graph scope): `pairs` additionally carries gcol + gcol__id and the
    closure is computed independently per gcol value — the step join is
    keyed on (gcol__id, node), so one Spark job still closes every
    graph at once (no per-graph driver loop).

    Path doubling: each round joins the closure so far with ITSELF, so
    after round k it holds every pair connected by a path of ≤ 2^k
    edges and a diameter-d graph converges in ⌈log2 d⌉ rounds instead
    of d.  On a cluster, synchronization barriers per round are the
    dominant cost of an iterative job (and locally it's ~0.3s of
    scheduling per round), so log-depth wins whenever the output is
    all-pairs anyway — the O(n²) pair set is the same either way, we
    just reach it in exponentially fewer shuffles.  A round rewrites the
    closure (one deduped checkpoint) and the loop stops when its size
    stops growing.  The round stays off ``iterate.seminaive_fixpoint``:
    checkpointing only the new pairs costs an anti-join against every
    known pair per round, which measured 1.2–2× slower than rewriting
    the closure on small unbound ``+`` queries (4 cores, local[4]).
    """
    gcols = [gcol, gcol + "__id"] if gcol else []
    cols = [a, a + "__id", b, b + "__id"] + gcols
    gkey = [gcol + "__id"] if gcol else []
    left_cols = [
        F.col(a), F.col(a + "__id"), F.col(b + "__id").alias("__mid")
    ] + [F.col(c) for c in gcols]
    right_cols = [
        F.col(a + "__id").alias("__mid"), F.col(b), F.col(b + "__id")
    ] + [F.col(c) for c in gkey]
    # one action per round: checkpoint_count materializes the round's
    # closure AND returns the convergence size from the same job
    total, size = L.checkpoint_count(_dedupe(pairs.select(*cols), a, b, gcol))
    with L.loop_exec(spark, max(4, total.rdd.getNumPartitions())):
        for _ in fixpoint_rounds(max_iter, "transitive_closure"):
            grown = (
                total.select(*left_cols)
                .join(total.select(*right_cols), ["__mid"] + gkey)
                .select(*cols)
            )
            new_total, new_size = L.checkpoint_count(
                _dedupe(total.unionByName(grown), a, b, gcol)
            )
            L.free(total)  # round k's pairs ⊆ round k+1's
            total = new_total
            if new_size == size:
                break
            size = new_size
    return total


def reachable_pairs(
    spark: SparkSession,
    pairs: DataFrame,
    a: str,
    b: str,
    seed: Column,
    seed_side: str,
    max_iter: int | None = None,
    gcol: str | None = None,
) -> DataFrame:
    """Directed closure from a bound endpoint: pairs (seed, x) with x
    reachable in ≥1 step (seed_side='a'), or (x, seed) (seed_side='b').

    Frontier is a NODE set (not pair set): O(V) state instead of O(V²).
    With ``gcol`` the frontier is a (graph, node) set and each graph's
    BFS proceeds independently inside the same jobs.
    """
    gcols = [gcol, gcol + "__id"] if gcol else []
    cols = [a, a + "__id", b, b + "__id"] + gcols
    if seed_side == "b":
        # reverse edges and recurse, then swap back
        rev = pairs.select(
            F.col(b).alias(a), F.col(b + "__id").alias(a + "__id"),
            F.col(a).alias(b), F.col(a + "__id").alias(b + "__id"),
            *[F.col(c) for c in gcols],
        )
        out = reachable_pairs(spark, rev, a, b, seed, "a", max_iter, gcol)
        return L.adopt(out.select(
            F.col(b).alias(a), F.col(b + "__id").alias(a + "__id"),
            F.col(a).alias(b), F.col(a + "__id").alias(b + "__id"),
            *[F.col(c) for c in gcols],
        ).select(*cols), out)

    step = L.checkpoint(_dedupe(pairs.select(*cols), a, b, gcol))
    seed_id = T.term_id(seed)
    fkeys = ["n__id"] + ([gcol + "__id"] if gcol else [])
    # the seed frontier is sized before the loop: an empty one runs no
    # round at all
    frontier, n = L.checkpoint_count(
        step.where(F.col(a + "__id") == seed_id)
        .select(
            F.col(b).alias("n"), F.col(b + "__id").alias("n__id"),
            *[F.col(c) for c in gcols],
        )
        .dropDuplicates(fkeys)
    )
    with L.loop_exec(spark, max(4, step.rdd.getNumPartitions())):
        step_fwd = L.checkpoint(
            step.select(
                F.col(a + "__id").alias("n__id"), F.col(b).alias("m"),
                F.col(b + "__id").alias("m__id"),
                *([F.col(gcol + "__id")] if gcol else []),
            )
            .repartition(max(4, step.rdd.getNumPartitions()), *fkeys)
            .sortWithinPartitions(*fkeys)
        )

        def grow(_total, delta):
            return (
                delta.select(*fkeys, *([gcol] if gcol else []))
                .join(step_fwd, fkeys)
                .select(
                    F.col("m").alias("n"), F.col("m__id").alias("n__id"),
                    *[F.col(c) for c in gcols],
                )
            )

        reached = frontier if n == 0 else seminaive_fixpoint(
            [frontier], grow, fkeys, max_iter, "reachable_pairs"
        )
        L.free(step, step_fwd)
    return L.adopt(reached.select(
        seed.alias(a),
        T.term_id(seed).alias(a + "__id"),
        F.col("n").alias(b),
        F.col("n__id").alias(b + "__id"),
        *[F.col(c) for c in gcols],
    ), reached)
