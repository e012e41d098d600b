"""Graph analytics as iterative DataFrame programs.

Reference: the GAS (gather-apply-scatter) engine —
``bigdata-gas/.../IGASProgram.java:109-185`` with concrete analytics
``analytics/BFS.java``, ``SSSP.java``, ``CC.java``, ``PR.java`` —
invoked from SPARQL through ``GASService.java:136``.

Spark-native design: each program is a driver-side loop of DataFrame
joins (message passing = frontier ⋈ edges, apply = groupBy-aggregate),
with ``localCheckpoint`` per round to truncate lineage.  This is the
same computational shape GraphX/Pregel would run; doing it directly on
DataFrames keeps Tungsten codegen and AQE skew handling, and needs no
Scala bridge.

Edge frames use long node ids (term ids): `src`, `dst` (+ `weight`
double for SSSP).  At 100 TB scale: edges are hash-partitioned by src
once and reused every iteration (one shuffle per round, not two); hub
skew is split by AQE.
"""

from __future__ import annotations

import itertools
import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import lifecycle as L
from .iterate import fixpoint_rounds

#: unique suffixes for the per-loop temp views `_loop_views` registers
#: (concurrent loops in one session must not collide)
_VIEW_SEQ = itertools.count()


@contextmanager
def _loop_views(spark, names: list[str]):
    """Session temp-view names, unique per loop instance, dropped on
    exit.  Round plans register their inputs under these names and
    build each round as ONE ``spark.sql`` parse: the Column-API builds
    were ~40 py4j round-trips per round (each Dataset method is a
    gateway call plus an analyzer increment), which profiling put at
    roughly half the per-round driver wall — the SQL text parses in
    one call, with identical semantics (guide §1.2: per-round work,
    driver-side)."""
    vid = next(_VIEW_SEQ)
    full = {n: f"__gas_{vid}_{n}" for n in names}
    try:
        yield full
    finally:
        for v in full.values():
            try:
                spark.catalog.dropTempView(v)
            except Exception:  # noqa: BLE001 — view may never have been bound
                pass


#: below this edge count a traversal runs driver-locally (the iterative
#: analog of Catalyst collapsing a tiny relation to a LocalTableScan):
#: per-round Spark barriers are pure overhead when the whole graph fits
#: in one probe.  The frontier walk (O(V) distributed state) stays the
#: 100 TB path.
SMALL_GRAPH_EDGES = 512
SMALL_SEED_SET = 1024

#: multi-round fusion for convergence-tested fixpoints (r12 verdict
#: next-round #4): chain up to this many rounds of lazy checkpoints and
#: materialize + convergence-test them with ONE action (a union of the
#: per-round convergence aggregates), dividing the loop's driver/job
#: barriers by the block size.  Fusion trades barriers for potentially
#: WASTED rounds: quiescence is detected up to k-1 rounds late, and a
#: post-quiescence round still shuffles the whole O(V) state — cheap on
#: a small state, ruinous on a 100 TB one.  So fusion is DATA-GATED:
#: it only engages while the measured state row count (returned by the
#: previous block's own convergence aggregate, no extra job) is at or
#: below GAS_FUSE_MAX_ROWS; above it the loop degrades to the exact
#: one-action-per-round shape, whose convergence test is free.  The
#: detected round count stays EXACT in both modes: the fused action
#: returns per-round new-row counts, so quiescence is attributed to the
#: precise round it happened in (stats["rounds"]/max_rounds semantics
#: are bit-identical to the unfused loop).
GAS_FUSE_ROUNDS = max(1, int(os.environ.get("SPARK_GRAFT_GAS_FUSE", "4")))
GAS_FUSE_MAX_ROWS = int(
    os.environ.get("SPARK_GRAFT_GAS_FUSE_MAX_ROWS", str(4_000_000))
)


def _fused_fixpoint(
    owner: DataFrame,
    step,
    advanced,
    state_of,
    frontier_of,
    max_iter: int | None,
    max_rounds: int | None,
    label: str,
    first_free: tuple = (),
):
    """Drive a convergence-tested fixpoint with data-adaptive round
    fusion (see GAS_FUSE_ROUNDS).

    ``owner``: the (lazily) checkpointed initial state; ``step(state,
    frontier, round_no)`` builds round ``round_no``'s aggregate plan
    (NOT yet checkpointed); ``advanced(agg)`` is the boolean Column
    marking rows that advanced this round (its count is the
    convergence test); ``state_of(agg)`` / ``frontier_of(agg, adv)``
    project the next round's inputs.  ``first_free``: frames consumed
    by round 1's plan that become releasable once the first block
    materializes (e.g. the pre-shuffle edge checkpoint).

    Returns ``(owner, state, rounds)`` where ``owner`` is the final
    checkpointed frame (convergence-quiescent, value-identical to the
    unfused loop's final state), ``state`` its state projection
    (``state_of(owner)`` after ≥1 round, the initial state verbatim
    for a zero-round exit — the initial frame need not carry the
    aggregate's marker columns) and ``rounds`` the exact round count
    including the quiescence-detection round — the same accounting as
    the one-action-per-round loop."""
    rounds = 0
    state = frontier = owner
    it = fixpoint_rounds(max_iter, label)
    pend = [f for f in first_free if f is not None]
    state_rows = None
    while True:
        if max_rounds is not None and rounds >= max_rounds:
            break
        k = (
            GAS_FUSE_ROUNDS
            if state_rows is not None and state_rows <= GAS_FUSE_MAX_ROWS
            else 1
        )
        if max_rounds is not None:
            k = min(k, max_rounds - rounds)
        if max_iter is not None:
            if rounds >= max_iter:
                next(it)  # raises: no fixpoint within max_iter
            k = min(k, max_iter - rounds)
        block: list = []
        counts: list = []
        for j in range(k):
            next(it)
            rounds += 1
            # every round keeps its own lazy checkpoint: the plan
            # TRUNCATION is load-bearing, not just the reuse — a step
            # that references its state s times (CC references the edge
            # set ~6 times per alternation) would otherwise grow the
            # chained block plan s^k-fold and stall Catalyst (measured:
            # gas_cc_large analysis ran 15+ minutes with persist()-only
            # intermediates).  The ~130 ms/round plan→RDD conversion is
            # the price of a bounded analyzer input.
            agg = L.lazy_checkpoint(step(state, frontier, rounds))
            adv = advanced(agg)
            counts.append(
                agg.agg(
                    F.sum(F.when(adv, 1)).alias("n"),
                    F.count(F.lit(1)).alias("total"),
                ).select(F.lit(j).alias("j"), "n", "total")
            )
            block.append(agg)
            state = state_of(agg)
            frontier = frontier_of(agg, adv)
        u = counts[0]
        for c in counts[1:]:
            u = u.unionByName(c)
        # the block's single action: materializes every chained round
        # checkpoint and returns each round's convergence count
        rows = {int(r["j"]): r for r in u.collect()}
        stop = None
        for j in range(len(block)):
            if int(rows[j]["n"] or 0) == 0:
                stop = j
                break
        last = stop if stop is not None else len(block) - 1
        keep = block[last]
        state_rows = int(rows[last]["total"] or 0)
        L.free(owner, *[a for i, a in enumerate(block) if i != last])
        if pend:
            L.free(*pend)
            pend = []
        owner = keep
        state = state_of(keep)
        frontier = frontier_of(keep, advanced(keep))
        if stop is not None:
            # quiescence happened in block round ``stop``: rounds past
            # it computed (and we discarded) identical state — report
            # the exact count the unfused loop would have
            rounds -= len(block) - 1 - stop
            break
    if pend:
        # zero-round exit (max_rounds=0): nothing materialized, and the
        # result depends only on the initial state — release the
        # round-plan inputs
        L.free(*pend)
    return owner, state, rounds


def _input_parts(df: DataFrame) -> int:
    """Loop partition count DERIVED from the operator's input without
    materializing it: the leaf scans' file count (metadata-only, scales
    with input bytes) when the plan reads files, else the plan's RDD
    partition count (free for the flat checkpoint-scan inputs the
    engine passes; a deep RDD-backed plan pays at most the one
    materialization the old eager edge checkpoint always paid).  Never
    the core count — a bench graph gets the 4-partition floor, a
    100 TB edge set thousands (see loop_exec's contract)."""
    try:
        files = df.inputFiles()
        if files:
            return len(files)
    except Exception:  # noqa: BLE001 — sizing only
        pass
    try:
        return df.rdd.getNumPartitions()
    except Exception:  # noqa: BLE001 — sizing only
        return 0


def _local_small_graph(e: DataFrame, seeds: DataFrame):
    """(edge_rows, seed_rows) when the graph AND seed set are probe-
    small, else None.  One bounded collect each — same contract as the
    reference's in-memory GAS runtime, which materializes the frontier
    driver-side anyway."""
    edge_rows = e.limit(SMALL_GRAPH_EDGES + 1).collect()
    if len(edge_rows) > SMALL_GRAPH_EDGES:
        return None
    seed_rows = seeds.select("node").limit(SMALL_SEED_SET + 1).collect()
    if len(seed_rows) > SMALL_SEED_SET:
        return None
    return edge_rows, seed_rows


def _values_df(
    spark: SparkSession, rows: list, node_col: str, val_col: str,
    val_type: str | None = None,
) -> DataFrame:
    """Tiny driver-computed result → a pure-JVM LocalRelation via a
    VALUES query.  createDataFrame over a Python list would route
    through the Python-RDD path, whose per-action Python-worker
    round-trip costs seconds — the exact overhead the driver-local
    strategy exists to avoid."""
    val_type = val_type or (
        "int" if all(isinstance(v, int) for _, v in rows) else "double"
    )
    if not rows:
        return spark.sql(
            f"SELECT CAST(NULL AS BIGINT) AS {node_col}, "
            f"CAST(NULL AS {val_type}) AS {val_col} WHERE FALSE"
        )
    # Emit integer-family values as exact literals: routing a 64-bit id
    # (e.g. an xxhash64 component label) through a DOUBLE literal would
    # drop low bits above 2^53 and corrupt the label join downstream.
    if val_type in ("double", "float"):
        lit = lambda v: f"CAST({float(v)!r} AS DOUBLE)"  # noqa: E731
    else:
        lit = lambda v: f"CAST({int(v)} AS {val_type.upper()})"  # noqa: E731
    vals = ",".join(f"(CAST({n} AS BIGINT), {lit(v)})" for n, v in rows)
    df = spark.sql(f"SELECT * FROM VALUES {vals} AS t({node_col}, __v)")
    return df.select(node_col, F.col("__v").cast(val_type).alias(val_col))


def _local_sssp(edge_rows, seed_rows) -> list:
    """Multi-source Dijkstra over the collected edge list: the exact
    distances the distributed Bellman-Ford converges to."""
    import heapq

    adj: dict = {}
    for r in edge_rows:
        adj.setdefault(r["src"], []).append((r["dst"], float(r["weight"])))
    dist: dict = {}
    heap = [(0.0, r["node"]) for r in seed_rows]
    heapq.heapify(heap)
    while heap:
        d, n = heapq.heappop(heap)
        if n in dist:
            continue
        dist[n] = d
        for m, w in adj.get(n, ()):
            if m not in dist:
                heapq.heappush(heap, (d + w, m))
    return sorted(dist.items())


def bfs(
    edges: DataFrame,
    seeds: DataFrame,
    max_iter: int | None = None,
    max_rounds: int | None = None,
) -> DataFrame:
    """Breadth-first search (GAS/analytics/BFS.java).

    seeds: df with `node` column. Returns (node, depth) for every
    reachable node (seed depth 0).

    ``max_iter`` is a no-fixpoint safety valve that RAISES;
    ``max_rounds`` is the reference's ``gas:maxIterations`` semantics —
    STOP cleanly after that many expansion rounds (BFS layers are
    complete per round, so the truncated result is the exact
    depth-bounded traversal, not a wrong answer).

    Round structure (guide §1/§2): ONE shuffle and ONE action per
    round.  The old shape paid three exchanges (neighbor dedup, the
    anti-join against visited — which re-shuffled the whole visited
    set — and the visited-union re-checkpoint) plus a separate
    ``isEmpty`` job.  Here each round is a single tagged-union
    aggregate — visited rows tagged 0 unioned with this round's
    neighbor candidates tagged 1, ``groupBy(node)`` with ``min`` — and
    BOTH the new visited state (``node, min(depth)``) and the next
    frontier (``min(tag) == 1`` ⇒ never seen before) are plain filters
    over that one checkpointed aggregate; the convergence count rides
    the same job that materializes it.  This is the Pregel
    vertex-state superstep shape: O(V) state written once per round,
    one synchronization barrier.
    """
    # the dedup stays a LAZY plan: the probe below reads it with an
    # early-exit limit, and the distributed path folds it into the
    # loop's first action (the old eager checkpoint paid a full
    # materialization pass before any round ran)
    e0 = edges.select("src", "dst").dropDuplicates()
    # max_iter is the caller's no-fixpoint safety valve (it RAISES in
    # the distributed walk); the local path explores everything, which
    # would silently bypass the guard — take the distributed path then.
    small = None if max_iter is not None else _local_small_graph(
        e0.withColumn("weight", F.lit(1.0)), seeds
    )
    if small is not None:
        rows = [
            (n, int(d))
            for n, d in _local_sssp(*small)
            if max_rounds is None or d <= max_rounds
        ]
        return _values_df(edges.sparkSession, rows, "node", "depth")
    spark = edges.sparkSession
    parts = max(4, _input_parts(edges))
    with L.loop_exec(spark, parts), _loop_views(spark, ["e", "v", "f"]) as V:
        # partition + sort edges by the probe key ONCE: the per-round
        # sort-merge join then reuses this layout (LogicalRDD keeps the
        # partitioning/ordering), so rounds never re-shuffle the edges.
        # LAZY: the shuffle+sort fuses into the first round's action
        # instead of paying its own materialization barrier (e0 is
        # released by the fixpoint driver once that action has run).
        # edge columns get loop-private names: fused blocks chain round
        # plans WITHOUT checkpoint boundaries, so the same edge frame
        # appears in several rounds of one plan — dataframe-bound column
        # refs (e["src"]) would trip the ambiguous-self-join detector,
        # while disjoint names resolve by string, unambiguously
        e = L.lazy_checkpoint(
            e0.select(
                F.col("src").alias("__esrc"), F.col("dst").alias("__edst")
            )
            .repartition(parts, "__esrc")
            .sortWithinPartitions("__esrc")
        )
        e.createOrReplaceTempView(V["e"])
        owner = L.lazy_checkpoint(
            seeds.select(F.col("node"), F.lit(0).alias("depth")).dropDuplicates(["node"])
        )

        # round plan as ONE SQL parse (see _loop_views); identical
        # algebra to the tagged-union/groupBy-min Column build it
        # replaces: visited rows tag 0 ∪ frontier-neighbor candidates
        # tag 1, min(depth)/min(new) per node
        def step(visited, frontier, depth):
            visited.createOrReplaceTempView(V["v"])
            frontier.createOrReplaceTempView(V["f"])
            return spark.sql(
                f"SELECT node, min(depth) AS depth, min(new) AS new FROM ("
                f" SELECT node, depth, 0 AS new FROM {V['v']}"
                f" UNION ALL"
                f" SELECT e.__edst AS node, {int(depth)} AS depth, 1 AS new"
                f" FROM {V['f']} f JOIN {V['e']} e ON f.node = e.__esrc"
                f") GROUP BY node"
            )

        owner, visited, _ = _fused_fixpoint(
            owner,
            step,
            advanced=lambda agg: F.col("new") == 1,
            state_of=lambda agg: agg.select("node", "depth"),
            frontier_of=lambda agg, adv: agg.where(adv).select("node", "depth"),
            max_iter=max_iter,
            max_rounds=max_rounds,
            label="bfs",
        )
        L.free(e)
    return L.adopt(visited.select("node", "depth"), owner)


def sssp(
    edges: DataFrame,
    seeds: DataFrame,
    max_iter: int | None = None,
    max_rounds: int | None = None,
) -> DataFrame:
    """Single-source shortest paths, weighted (GAS/analytics/SSSP.java).

    edges needs `weight`; returns (node, dist). Frontier-based
    Bellman-Ford: only improved nodes scatter next round; probe-small
    graphs run a driver-local Dijkstra instead.

    ``max_rounds`` (``gas:maxIterations``): stop after that many
    relaxation rounds — the result is the exact ≤k-hop shortest
    distances (the reference truncates the same way).
    """
    e0 = edges.select("src", "dst", "weight")
    # With a round budget the distributed loop's semantics are
    # "shortest path using <= max_rounds relaxation rounds", which
    # Dijkstra does not emulate — take the distributed path then.
    small = (
        None
        if (max_iter is not None or max_rounds is not None)
        else _local_small_graph(e0, seeds)
    )
    if small is not None:
        rows = [(n, float(d)) for n, d in _local_sssp(*small)]
        return _values_df(edges.sparkSession, rows, "node", "dist")
    spark = edges.sparkSession
    parts = max(4, _input_parts(edges))
    with L.loop_exec(spark, parts), _loop_views(spark, ["e", "v", "f"]) as V:
        # lazy: shuffle+sort fuses into the first round's action.
        # Loop-private edge names — see bfs() on why fused blocks need
        # string-resolvable (disjoint) columns instead of df-bound refs.
        e = L.lazy_checkpoint(
            e0.select(
                F.col("src").alias("__esrc"),
                F.col("dst").alias("__edst"),
                F.col("weight").alias("__ew"),
            )
            .repartition(parts, "__esrc")
            .sortWithinPartitions("__esrc")
        )
        e.createOrReplaceTempView(V["e"])
        owner = L.lazy_checkpoint(
            seeds.select(F.col("node"), F.lit(0.0).alias("dist")).dropDuplicates(["node"])
        )

        # Single-shuffle round (same shape as bfs), built as ONE SQL
        # parse (see _loop_views): current distances tagged old ∪ this
        # round's relaxations tagged new, ONE groupBy(node) computing
        # min over the old rows and min over all — the new dist table
        # and the improved-node frontier are filters over that one
        # checkpointed aggregate, and the convergence count rides the
        # (fused) materialization action.
        def step(dist, frontier, _round):
            dist.createOrReplaceTempView(V["v"])
            frontier.createOrReplaceTempView(V["f"])
            return spark.sql(
                f"SELECT node, min(CASE WHEN new = 0 THEN d END) AS old,"
                f" min(d) AS dist FROM ("
                f" SELECT node, dist AS d, 0 AS new FROM {V['v']}"
                f" UNION ALL"
                f" SELECT e.__edst AS node, f.dist + e.__ew AS d, 1 AS new"
                f" FROM {V['f']} f JOIN {V['e']} e ON f.node = e.__esrc"
                f") GROUP BY node"
            )

        improved = lambda agg: F.col("old").isNull() | (  # noqa: E731
            F.col("dist") < F.col("old")
        )
        owner, dist, _ = _fused_fixpoint(
            owner,
            step,
            advanced=improved,
            state_of=lambda agg: agg.select("node", "dist"),
            frontier_of=lambda agg, adv: agg.where(adv).select("node", "dist"),
            max_iter=max_iter,
            max_rounds=max_rounds,
            label="sssp",
        )
        L.free(e)
    return L.adopt(dist.select("node", "dist"), owner)


def _q(name: str) -> str:
    """Backtick-quote a column name spliced into SQL text, so a tag
    column named like a keyword (``order``) still parses."""
    return "`" + name.replace("`", "``") + "`"


def multi_sssp(
    edges: DataFrame,
    seeds: DataFrame,
    max_iter: int | None = None,
    max_rounds: int | None = None,
    stats: dict | None = None,
    dir_col: str | None = None,
) -> DataFrame:
    """All-seeds shortest paths in ONE fixpoint: state keyed
    ``(node, seed)``.

    ``seeds``: df with ``node`` and ``seed`` columns (seed = the
    source's own id, carried through so every relaxation stays a plain
    hash-partitioned groupBy/join on the composite key).  Returns
    (node, seed, dist).

    This is the barrier-count fix for FuzzySSSP: the reference runs one
    GAS SSSP per source and per target (``FuzzySSSP.java`` runs
    |S|+|T| programs); looping per seed costs (|S|+|T|)·rounds
    scheduler barriers, while this runs ALL seeds' frontiers in the
    same per-round jobs — 1·rounds barriers, identical distances.  The
    extra state is |seeds|× rows, partitioned by (node, seed), which is
    exactly how a 1000-executor cluster wants it (more parallel keys,
    no new shuffle boundaries).

    ``dir_col``: name of an edge/seed TAG column (e.g. ``dir`` 0/1)
    that partitions the problem into independent subgraphs sharing the
    fixpoint — FuzzySSSP fuses its forward and backward SSSPs this
    way: relaxations only follow edges whose tag matches the state's
    tag (the state key becomes ``(node, seed, tag)``), so BOTH
    directions ride the same per-round Spark jobs — one fixpoint's
    barriers for the pair.  Output then also carries ``dir_col``.

    ``stats``: optional dict; ``stats["rounds"]`` = relaxation rounds
    the distributed loop ran (0 for the driver-local path).
    """
    if stats is not None:
        stats["rounds"] = 0
    extra = [dir_col] if dir_col else []
    e0 = edges.select("src", "dst", "weight", *extra)
    small = (
        None
        if (max_iter is not None or max_rounds is not None)
        else _local_small_graph(e0, seeds.select("node").dropDuplicates())
    )
    if small is not None:
        edge_rows = small[0]
        seed_rows = seeds.select("node", "seed", *extra).collect()
        rows = []
        groups = sorted(
            {(r["seed"], *(r[c] for c in extra)) for r in seed_rows}
        )
        for g in groups:
            sr, tag = g[0], (g[1] if extra else None)
            one = [
                r
                for r in seed_rows
                if r["seed"] == sr and (not extra or r[extra[0]] == tag)
            ]
            ers = (
                edge_rows
                if not extra
                else [r for r in edge_rows if r[extra[0]] == tag]
            )
            rows += [
                (n, sr, tag, float(d)) for n, d in _local_sssp(ers, one)
            ]
        spark = edges.sparkSession
        cols = "node, seed" + (f", {_q(dir_col)}" if dir_col else "") + ", dist"
        if not rows:
            null_tag = f" CAST(NULL AS INT) {_q(dir_col)}," if dir_col else ""
            return spark.sql(
                "SELECT CAST(NULL AS BIGINT) node, CAST(NULL AS BIGINT) seed,"
                f"{null_tag} CAST(NULL AS DOUBLE) dist WHERE FALSE"
            )
        vals = ",".join(
            f"(CAST({int(n)} AS BIGINT), CAST({int(s)} AS BIGINT),"
            + (f" CAST({int(t)} AS INT)," if dir_col else "")
            + f" CAST({float(d)!r} AS DOUBLE))"
            for n, s, t, d in rows
        )
        return spark.sql(f"SELECT * FROM VALUES {vals} AS t({cols})")
    key = ["node", "seed", *extra]
    spark = edges.sparkSession
    parts = max(4, _input_parts(edges))
    with L.loop_exec(spark, parts), _loop_views(spark, ["e", "v", "f"]) as V:
        # lazy: shuffle+sort fuses into the first round's action.
        # Loop-private edge names — see bfs() on why fused blocks need
        # string-resolvable (disjoint) columns instead of df-bound refs
        # (the tag column exists on BOTH sides, so it must rename too).
        ekeys = ["__esrc", *[f"__e{c}" for c in extra]]
        e = L.lazy_checkpoint(
            e0.select(
                F.col("src").alias("__esrc"),
                F.col("dst").alias("__edst"),
                F.col("weight").alias("__ew"),
                *[F.col(c).alias(f"__e{c}") for c in extra],
            )
            .repartition(parts, *ekeys)
            .sortWithinPartitions(*ekeys)
        )
        e.createOrReplaceTempView(V["e"])
        owner = L.lazy_checkpoint(
            seeds.select(
                F.col("node").cast("long"), F.col("seed").cast("long"), *extra,
                F.lit(0.0).alias("dist"),
            ).dropDuplicates(key)
        )

        # single-shuffle round keyed on the composite (node, seed[, tag])
        # state key, built as ONE SQL parse — see sssp() for the shape
        keys_sql = ", ".join(_q(c) for c in key)
        fkeys_sql = "e.__edst AS node, f.seed" + "".join(
            f", f.{_q(c)}" for c in extra
        )
        on_sql = "f.node = e.__esrc" + "".join(
            f" AND f.{_q(c)} = e.{_q('__e' + c)}" for c in extra
        )

        def step(dist, frontier, _round):
            dist.createOrReplaceTempView(V["v"])
            frontier.createOrReplaceTempView(V["f"])
            return spark.sql(
                f"SELECT {keys_sql}, min(CASE WHEN new = 0 THEN d END) AS old,"
                f" min(d) AS dist FROM ("
                f" SELECT {keys_sql}, dist AS d, 0 AS new FROM {V['v']}"
                f" UNION ALL"
                f" SELECT {fkeys_sql}, f.dist + e.__ew AS d, 1 AS new"
                f" FROM {V['f']} f JOIN {V['e']} e ON {on_sql}"
                f") GROUP BY {keys_sql}"
            )

        improved = lambda agg: F.col("old").isNull() | (  # noqa: E731
            F.col("dist") < F.col("old")
        )
        owner, dist, rounds = _fused_fixpoint(
            owner,
            step,
            advanced=improved,
            state_of=lambda agg: agg.select(*key, "dist"),
            frontier_of=lambda agg, adv: agg.where(adv).select(*key, "dist"),
            max_iter=max_iter,
            max_rounds=max_rounds,
            label="multi_sssp",
        )
        L.free(e)
    if stats is not None:
        stats["rounds"] = rounds
    return L.adopt(dist.select(*key, "dist"), owner)


def connected_components(
    edges: DataFrame,
    max_iter: int | None = None,
    stats: dict | None = None,
    max_rounds: int | None = None,
) -> DataFrame:
    """Undirected connected components (GAS/analytics/CC.java
    semantics: component = min node id).  Returns (node, component).

    Distributed path: alternating large-star/small-star contraction
    (Kiveris et al., "Connected Components in MapReduce and Beyond")
    instead of plain min-label propagation.  Propagation needs
    O(diameter) rounds — ~2000 barriers on a 2000-node path — while
    star contraction converges in O(log² n) alternations regardless of
    graph shape (a 2000-node path takes ~7), which is the round budget
    a 100 TB high-diameter graph (web chains, road networks) actually
    needs.  Each alternation is two groupBy-min + join rounds over the
    shrinking edge set; the fixpoint is the star graph (v → component
    min), identical to the propagation fixpoint.

    ``stats``: optional dict; on return ``stats["rounds"]`` holds the
    number of alternations the distributed loop ran (0 for the
    driver-local path).

    ``max_rounds`` (``gas:maxIterations``, Options.MAX_ITERATIONS —
    the reference applies it to EVERY GAS program): stop cleanly after
    that many alternations; labels are then the partially-contracted
    star edges, exactly the reference's truncated-fixpoint behavior.
    """
    if stats is not None:
        stats["rounds"] = 0
    # canonical undirected edge plan, LAZY (r13: the old shape paid an
    # eager both-orientation `sym` checkpoint pass, an eager `nodes`
    # checkpoint pass and a count job whose result nothing read — three
    # driver barriers plus two plan→RDD conversions of pure setup).
    # Self-loop rows are kept HERE so the node universe they carry
    # survives into both paths; the contraction loop filters them out.
    cE = edges.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).dropDuplicates()
    # a round budget means "truncated contraction", which union-find
    # cannot emulate — take the distributed path then
    probe = (
        [None] * (SMALL_GRAPH_EDGES + 1)
        if max_rounds is not None
        else cE.limit(SMALL_GRAPH_EDGES + 1).collect()
    )
    if len(probe) <= SMALL_GRAPH_EDGES:
        # driver-local union-find: min-label components are
        # deterministic integers, so the result is bit-identical to
        # the distributed fixpoint (self-loops just register the node)
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in probe:
            a, b = r["u"], r["v"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        rows = sorted((n, find(n)) for n in parent)
        return _values_df(
            edges.sparkSession, rows, "node", "component", val_type="bigint"
        )
    spark = edges.sparkSession
    parts = max(4, _input_parts(edges))
    with L.loop_exec(spark, parts), _loop_views(spark, ["E"]) as V:
        # LAZY initial edge state: its dedup shuffle materializes inside
        # the first alternation's own action instead of paying a
        # separate checkpoint pass (the count the old shape ran was
        # never consumed)
        E = L.lazy_checkpoint(cE.where(F.col("u") != F.col("v")))

        # one alternation = large-star then small-star contraction,
        # built as ONE SQL parse per round (see _loop_views):
        #  - large-star: every node connects its LARGER neighbors to the
        #    minimum of its closed neighborhood;
        #  - small-star: orient (larger → smaller); every node connects
        #    its smaller neighbors (and itself) to the neighborhood min;
        #  - old ∪ new edge sets through ONE tagged groupBy: it both
        #    DEDUPLICATES ne (replacing a dropDuplicates shuffle) and
        #    computes the exact set-equality convergence test in the
        #    round's own action (convergence ⟺ no row in exactly one set)
        def step(Edf, _frontier, _round):
            Edf.createOrReplaceTempView(V["E"])
            return spark.sql(
                f"WITH s AS (SELECT u, v FROM {V['E']}"
                f"           UNION ALL SELECT v AS u, u AS v FROM {V['E']}),"
                f" m AS (SELECT u, least(min(v), first(u)) AS m FROM s GROUP BY u),"
                f" large AS (SELECT DISTINCT s.v AS u, m.m AS v FROM s"
                f"           JOIN m ON s.u = m.u WHERE s.v > s.u AND s.v <> m.m),"
                f" o AS (SELECT greatest(u, v) AS u, least(u, v) AS v FROM large),"
                f" m2 AS (SELECT u, min(v) AS m FROM o GROUP BY u),"
                f" ne AS (SELECT * FROM ("
                f"          SELECT o.v AS u, m2.m AS v FROM o JOIN m2 ON o.u = m2.u"
                f"          UNION ALL SELECT u, m AS v FROM m2"
                f"        ) WHERE u <> v),"
                f" tagged AS (SELECT u, v, 0 AS t FROM {V['E']}"
                f"            UNION ALL SELECT u, v, 1 AS t FROM ne)"
                f" SELECT u, v, max(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS in_old,"
                f"              max(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS in_new"
                f" FROM tagged GROUP BY u, v"
            )

        owner, E, rounds = _fused_fixpoint(
            E,
            step,
            # convergence ⟺ the edge sets are identical ⟺ no row is in
            # exactly one of them
            advanced=lambda agg: F.col("in_old") != F.col("in_new"),
            state_of=lambda agg: agg.where(F.col("in_new") == 1).select("u", "v"),
            frontier_of=lambda agg, adv: agg,
            max_iter=max_iter,
            max_rounds=max_rounds,
            label="connected_components",
        )
        if stats is not None:
            stats["rounds"] = rounds
        # node universe LAZILY from the caller's edge frame (still
        # alive): the final labels checkpoint is the one action that
        # computes it — no separate pre-loop nodes pass
        nodes = (
            edges.select(F.col("src").alias("node"))
            .unionByName(edges.select(F.col("dst").alias("node")))
            .dropDuplicates()
        )
        labels = nodes.join(
            E.select(F.col("u").alias("node"), F.col("v").alias("component")),
            "node",
            "left_outer",
        ).select("node", F.coalesce("component", "node").alias("component"))
        out = L.checkpoint(labels)
        L.free(owner)
    return out


def pagerank(
    edges: DataFrame,
    iters: int = 20,
    damping: float = 0.85,
    max_rounds: int | None = None,
) -> DataFrame:
    """PageRank (GAS/analytics/PR.java). Returns (node, rank).

    Power iteration with dangling-mass redistribution; rank mass sums
    to N like the classic formulation (1-d) + d*sum.

    ``max_rounds`` (``gas:maxIterations``): caps the iteration count
    below the default — the reference's Options.MAX_ITERATIONS applies
    to PR like every other GAS program.
    """
    if max_rounds is not None:
        iters = min(iters, max_rounds)
    # lazy dedup plan: the probe reads it with an early-exit limit and
    # the distributed path folds it into the pre-loop checkpoint pass
    # (PageRank NEEDS distinct edges — out-degrees count them)
    e = edges.select("src", "dst").dropDuplicates()
    probe = e.limit(SMALL_GRAPH_EDGES + 1).collect()
    if len(probe) <= SMALL_GRAPH_EDGES:
        # driver-local power iteration — same update rule, summing
        # inflow over sorted sources for determinism
        out_adj: dict = {}
        in_adj: dict = {}
        node_set = set()
        for r in probe:
            node_set.update((r["src"], r["dst"]))
            out_adj.setdefault(r["src"], []).append(r["dst"])
            in_adj.setdefault(r["dst"], []).append(r["src"])
        rank = {n: 1.0 for n in node_set}
        for _ in range(iters):
            rank = {
                n: (1.0 - damping)
                + damping
                * sum(
                    rank[s] / len(out_adj[s])
                    for s in sorted(in_adj.get(n, ()))
                )
                for n in sorted(node_set)
            }
        return _values_df(
            edges.sparkSession, sorted(rank.items()), "node", "rank",
            val_type="double",
        )
    spark = edges.sparkSession
    parts = max(4, _input_parts(edges))
    with L.loop_exec(spark, parts), _loop_views(
        spark, ["e", "n", "o", "r"]
    ) as V:
        # ALL setup frames are lazy checkpoints (r13: nodes and outdeg
        # were eager — two materialization passes and two driver
        # barriers before any iteration ran); the first iteration
        # block's count() materializes the whole chain in one job
        ep = L.lazy_checkpoint(
            e.repartition(parts, "src").sortWithinPartitions("src")
        )
        nodes = L.lazy_checkpoint(
            ep.select(F.col("src").alias("node"))
            .unionByName(ep.select(F.col("dst").alias("node")))
            .dropDuplicates()
        )
        outdeg = L.lazy_checkpoint(
            ep.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        )
        ep.createOrReplaceTempView(V["e"])
        nodes.createOrReplaceTempView(V["n"])
        outdeg.createOrReplaceTempView(V["o"])
        ranks = nodes.withColumn("rank", F.lit(1.0))
        # one SQL parse per iteration (see _loop_views) — algebra
        # identical to the Column build it replaces: inflow = sum of
        # rank/deg over out-edges, rank' = (1-d) + d * inflow
        step_sql = (
            f"WITH contribs AS ("
            f" SELECT e.dst AS node, sum(r.rank / o.deg) AS inflow"
            f" FROM {V['r']} r JOIN {V['o']} o ON r.node = o.src"
            f" JOIN {V['e']} e ON o.src = e.src"
            f" GROUP BY e.dst)"
            f" SELECT n.node, CAST({1.0 - damping!r} AS DOUBLE)"
            f" + CAST({damping!r} AS DOUBLE)"
            f" * coalesce(c.inflow, CAST(0.0 AS DOUBLE)) AS rank"
            f" FROM {V['n']} n LEFT JOIN contribs c ON n.node = c.node"
        )
        # Lazy checkpoints chained across iterations, with one explicit
        # materializing action every few rounds: the count() finalizes
        # the whole pending chain's blocks in one job, after which the
        # chain's predecessors are releasable.  Freeing a lazy
        # checkpoint's inputs BEFORE an action has materialized it
        # would make it uncomputable — hence the pending list.
        pend: list = []
        for i in range(iters):
            ranks.createOrReplaceTempView(V["r"])
            new_ranks = L.lazy_checkpoint(spark.sql(step_sql))
            pend.append(ranks)  # first (un-checkpointed) ranks: free no-ops
            ranks = new_ranks
            if len(pend) >= 4 or i == iters - 1:
                ranks.count()
                L.free(*pend)
                pend = []
        L.free(ep, nodes, outdeg)
    return ranks


def fuzzy_sssp(
    edges: DataFrame,
    sources: list,
    targets: list,
    n: int,
    max_iter: int | None = None,
    reach: dict | None = None,
    max_rounds: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Fuzzy shortest-path band (``bigdata-gas/.../analytics/
    FuzzySSSP.java``): the "interesting subgraph" of ≤~N vertices close
    to the shortest paths between a set of sources and a set of
    targets.

    Semantics (same as the reference): a vertex v lies on a shortest
    s→t path iff dist_s(v) + rdist_t(v) == dist_s(t); the union of
    those vertices over all (s,t) pairs seeds a BFS that stops at the
    END of the first layer reaching ``n`` visited vertices (the
    reference's per-iteration stopping rule).

    Execution differs from the reference on purpose: instead of one
    GAS run per source and per target (|S|+|T| sequential programs,
    each paying rounds× scheduler barriers), BOTH distance maps come
    from ONE direction-tagged :func:`multi_sssp` fixpoint — forward
    edges and source seeds tagged ``dir=0``, REVERSED edges and target
    seeds tagged ``dir=1``, state keyed (node, seed, dir) — so the
    whole analytic costs 1·rounds barriers plus one BFS regardless of
    seed-set size or direction count.  Distances are identical (the
    tag keeps the two subproblems disjoint inside the shared jobs).

    sources/targets: driver-side node-id lists (the reference takes
    Value[] arrays); everything per-vertex stays distributed.  Returns
    (node, depth) where depth is the BFS distance from the
    shortest-path set (0 = on a shortest path).

    ``reach``: optional dict, filled with {(src, tgt): dist | None}
    — the FuzzySSSPResult reachability map (one bounded |S|·|T|-row
    collect).  ``max_rounds`` (``gas:maxIterations``) bounds the fused
    fixpoint's and the band BFS's rounds.  ``stats``: optional dict;
    ``stats["rounds"]`` = the fused fixpoint's round count
    (``fwd_rounds``/``bwd_rounds`` kept as aliases of it).
    """
    spark = edges.sparkSession
    if not sources or not targets:
        raise ValueError("fuzzy_sssp needs at least one source and one target")
    e = edges.select("src", "dst", *(
        ["weight"] if "weight" in edges.columns else []
    ))
    if "weight" not in e.columns:
        e = e.withColumn("weight", F.lit(1.0))
    rev = e.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
    )

    def seed_frame(ids, tag):
        vals = ",".join(f"(CAST({int(i)} AS BIGINT))" for i in ids)
        return spark.sql(
            f"SELECT node, node AS seed, {int(tag)} AS dir"
            f" FROM VALUES {vals} AS t(node)"
        )

    fst = {} if stats is None else stats
    s1 = {}
    # fwd/bwd are plain filters over the fused fixpoint's checkpointed
    # state — re-checkpointing each copy (3 eager jobs) bought nothing:
    # every consumer below reads the same blocks through the filter
    fused = multi_sssp(
        e.withColumn("dir", F.lit(0)).unionByName(
            rev.withColumn("dir", F.lit(1))
        ),
        seed_frame(sources, 0).unionByName(seed_frame(targets, 1)),
        max_iter=max_iter, max_rounds=max_rounds, stats=s1, dir_col="dir",
    )
    fwd = fused.where(F.col("dir") == 0).drop("dir")
    bwd = fused.where(F.col("dir") == 1).drop("dir")
    fst["rounds"] = s1.get("rounds")
    fst["fwd_rounds"] = fst["bwd_rounds"] = s1.get("rounds")
    # source→target distances: |S|·|T| bounded rows (the
    # FuzzySSSPResult reachability map) — also the d_st join relation
    tgt_ids = [int(t) for t in targets]
    pair_rows = fwd.where(F.col("node").isin(tgt_ids)).collect()
    d_st = {(r["seed"], r["node"]): r["dist"] for r in pair_rows}
    if reach is not None:
        for s in sources:
            for t in targets:
                reach[(int(s), int(t))] = d_st.get((int(s), int(t)))
    if not d_st:  # no target reachable from any source
        L.free(fused)
        return _values_df(spark, [], "node", "depth", val_type="int")
    pvals = ",".join(
        f"(CAST({int(s)} AS BIGINT), CAST({int(t)} AS BIGINT),"
        f" CAST({float(d)!r} AS DOUBLE))"
        for (s, t), d in sorted(d_st.items())
    )
    pairs = spark.sql(f"SELECT * FROM VALUES {pvals} AS t(s, t, d_st)")
    # on-path test for ALL (s,t) pairs in one relational plan: the
    # node-keyed fwd⋈bwd join fans out |S|·|T| per node (small seed
    # sets by API contract), then the tiny pairs relation broadcasts
    sp = L.checkpoint(
        fwd.select("node", F.col("seed").alias("s"), "dist")
        .join(
            bwd.select("node", F.col("seed").alias("t"), F.col("dist").alias("rdist")),
            "node",
        )
        .join(F.broadcast(pairs), ["s", "t"])
        .where(F.abs(F.col("dist") + F.col("rdist") - F.col("d_st")) < 1e-9)
        .select("node")
        .dropDuplicates()
    )
    L.free(fused)
    band = bfs(edges, sp, max_iter=max_iter, max_rounds=max_rounds)
    L.free(sp)
    # stop at the end of the layer that reaches n visited vertices:
    # per-depth histogram is diameter-sized, a bounded collect
    hist = sorted(
        (r["depth"], r["cnt"])
        for r in band.groupBy("depth").agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    cum, cut = 0, None
    for d, c in hist:
        cum += c
        if cum >= n:
            cut = d
            break
    out = band if cut is None else band.where(F.col("depth") <= cut)
    return out.select("node", F.col("depth").cast("int").alias("depth"))


# --------------------------------------------------------------- service
GAS_NS = "http://www.bigdata.com/rdf/gas#"


def make_gas_service():
    """SERVICE <gas:service> {...} handler (GASService.java:136,143).

    Config triple patterns inside the group:
      gas:program gas:gasClass "BFS"|"SSSP"|"CC"|"PR" ;
                  gas:linkType <pred> ;
                  gas:in <seed> ;
                  gas:out ?node ; gas:out1 ?depthOrValue .
    """
    from .. import terms as T
    from ..sparql import ast as A
    from ..sparql.compiler import Sol
    from ..sparql.functions import pack_double, pack_integer

    def handler(compiler, sp, graph):
        cfg: dict[str, list] = {}
        for el in sp.group.elements:
            if isinstance(el, A.TriplePattern) and isinstance(el.p, A.Const):
                key = el.p.term.lex.rsplit("#", 1)[-1]
                cfg.setdefault(key, []).append(el.o)
        cls = cfg["gasClass"][0].term.lex.rsplit(".", 1)[-1].upper()
        trips = compiler.triples.where(F.col("g").isNull())
        if "linkType" in cfg:
            trips = trips.where(
                F.col("p") == T.term_id(T.lit_term(cfg["linkType"][0].term))
            )
        edges = trips.select(
            F.col("s").alias("src"), F.col("o").alias("dst"),
            F.lit(1.0).alias("weight"),
        )
        # gas:traversalDirection (TraversalDirectionEnum): Forward
        # (default) follows edges, Reverse swaps them, Undirected
        # unions both orientations
        direction = "FORWARD"
        if "traversalDirection" in cfg and isinstance(cfg["traversalDirection"][0], A.Const):
            direction = cfg["traversalDirection"][0].term.lex.upper()
        if direction == "REVERSE":
            edges = edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
            )
        elif direction == "UNDIRECTED":
            edges = edges.unionByName(
                edges.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
                )
            )
        # gas:maxIterations (Options.MAX_ITERATIONS): clean stop after
        # that many rounds — depth/hop-bounded traversal, the
        # reference's truncation semantics
        max_rounds = None
        if "maxIterations" in cfg and isinstance(cfg["maxIterations"][0], A.Const):
            max_rounds = int(cfg["maxIterations"][0].term.lex)
        node_terms = (
            trips.select(F.col("s").alias("node"), F.col("st").alias("nt"))
            .unionByName(trips.select(F.col("o").alias("node"), F.col("ot").alias("nt")))
            .dropDuplicates(["node"])
        )
        out_var = cfg["out"][0].name if "out" in cfg and isinstance(cfg["out"][0], A.Var) else None
        out1_var = cfg["out1"][0].name if "out1" in cfg and isinstance(cfg["out1"][0], A.Var) else None
        out2_var = cfg["out2"][0].name if "out2" in cfg and isinstance(cfg["out2"][0], A.Var) else None
        spark = compiler.spark
        if cls in ("BFS", "SSSP"):
            seeds = spark.range(1).select(
                *[T.term_id(T.lit_term(s.term)).alias("node") for s in cfg["in"][:1]]
            )
            result = (
                bfs(edges, seeds, max_rounds=max_rounds)
                if cls == "BFS"
                else sssp(edges, seeds, max_rounds=max_rounds)
            )
            val_col = "depth" if cls == "BFS" else "dist"
            pack = pack_integer if cls == "BFS" else pack_double
        elif cls == "FUZZYSSSP":
            # gas:in (multi) sources, gas:target (multi) targets,
            # gas:maxVisited N (Options.TARGET / Options.MAX_VISITED)
            ins, tg = cfg["in"], cfg.get("target", [])
            if not tg:
                raise ValueError("gas:FuzzySSSP requires gas:target")
            # resolve the bounded src/tgt term ids in ONE tiny job
            row = spark.range(1).select(
                *[
                    T.term_id(T.lit_term(x.term)).alias(f"c{i}")
                    for i, x in enumerate(ins + tg)
                ]
            ).collect()[0]
            srcs = [row[f"c{i}"] for i in range(len(ins))]
            tgts = [row[f"c{len(ins) + j}"] for j in range(len(tg))]
            n = int(cfg["maxVisited"][0].term.lex) if "maxVisited" in cfg else 100
            result = fuzzy_sssp(edges, srcs, tgts, n, max_rounds=max_rounds)
            val_col = "depth"
            pack = pack_integer
        elif cls == "CC":
            result = connected_components(edges, max_rounds=max_rounds)
            val_col = "component"
            pack = pack_integer
        elif cls == "PR":
            result = pagerank(edges, max_rounds=max_rounds)
            val_col = "rank"
            pack = pack_double
        else:
            raise ValueError(f"unknown GAS program {cls}")
        out = result.join(node_terms, "node")
        mu = set()
        if out2_var and cls in ("BFS", "SSSP"):
            # gas:out2 = predecessor (BFS.java Bindings.PREDECESSOR).
            # The reference's predecessor is "the first vertex to
            # discover" (a scheduling race); the deterministic Spark
            # analog is the MINIMUM-id vertex on a shortest edge:
            # pred(v) = min{u : dist(u) + w(u,v) == dist(v)} — one
            # extra keyed join computed only when out2 is requested.
            step = F.lit(1.0) if cls == "BFS" else F.col("weight")
            u_side = result.select(
                F.col("node").alias("__us"), F.col(val_col).alias("__uv")
            )
            pred = (
                edges.join(u_side, F.col("src") == F.col("__us"))
                .join(
                    result.select(
                        F.col("node").alias("__vs"), F.col(val_col).alias("__vv")
                    ),
                    F.col("dst") == F.col("__vs"),
                )
                .where(F.abs(F.col("__uv") + step - F.col("__vv")) < 1e-9)
                .groupBy(F.col("__vs").alias("node"))
                .agg(F.min("src").alias("__pred"))
            )
            out = out.join(pred, "node", "left_outer")  # seeds: no pred
        sel = []
        vars_ = set()
        if out_var:
            sel += [F.col("nt").alias(out_var), F.col("node").alias(out_var + "__id")]
            vars_.add(out_var)
        if out1_var:
            if cls == "CC":
                # component id re-labeled by its node term
                comp_terms = node_terms.withColumnRenamed("node", val_col).withColumnRenamed("nt", "ct")
                out = out.join(comp_terms, val_col)
                packed = F.col("ct")
            else:
                packed = pack(F.col(val_col))
            sel += [
                packed.alias(out1_var),
                T.term_id(packed).alias(out1_var + "__id"),
            ]
            vars_.add(out1_var)
        if out2_var and cls in ("BFS", "SSSP"):
            pt = node_terms.select(
                F.col("node").alias("__pred"), F.col("nt").alias("__pt")
            )
            out = out.join(pt, "__pred", "left_outer")
            sel += [
                F.col("__pt").alias(out2_var),
                F.col("__pred").alias(out2_var + "__id"),
            ]
            vars_.add(out2_var)
            mu.add(out2_var)
        return Sol(out.select(*sel), vars_, mu)

    return {GAS_NS: handler}
