"""The fixpoint loop drivers: every iterative operator runs on one of two.

The reference's iterative operators (``ArbitraryLengthPathOp``, the GAS
engine, the inference closure) all run to *fixpoint* — they stop when no
new solutions appear, never at an arbitrary round cap.  Our loops do the
same: by default they iterate until convergence; an explicit ``max_iter``
is a safety valve that RAISES instead of silently returning a truncated
(wrong) answer.

Two loop shapes, one driver each:

* :func:`fused_fixpoint` — the state is REWRITTEN every round (GAS
  BFS/SSSP/multi-SSSP/CC: a vertex table whose values improve), with
  data-gated multi-round fusion;
* :func:`seminaive_fixpoint` — the state is APPENDED to every round
  (bound-endpoint property-path reachability, RDFS closure, the truth
  maintenance walks): a lazy union of per-round layer checkpoints.

The all-pairs path-doubling closure (``paths.transitive_closure``)
keeps its own loop: it rewrites one deduped closure per round, which
measured faster than appending layers, and fusing its rounds would
waste the costliest, largest self-joins past convergence.
"""

from __future__ import annotations

from typing import Callable, Iterator

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

from . import lifecycle as L


def fixpoint_rounds(max_iter: int | None, what: str) -> Iterator[int]:
    """Yield round indices 0,1,2,… until the caller breaks out.

    If ``max_iter`` is not None and the loop reaches it without the
    caller breaking (i.e. without convergence), raise RuntimeError —
    an incomplete closure is a wrong answer, not a degraded one.
    """
    i = 0
    while True:
        if max_iter is not None and i >= max_iter:
            raise RuntimeError(
                f"{what}: no fixpoint after {max_iter} rounds; "
                "raise max_iter (or pass None to run to convergence)"
            )
        yield i
        i += 1


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
GAS_FUSE_ROUNDS = 4
GAS_FUSE_MAX_ROWS = 4_000_000


def fused_fixpoint(
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


#: append-only state is a lazy union of per-round layer checkpoints;
#: past this many owned layers the head is merged into ONE checkpoint
#: so the union plan stays bounded and (reliable backend) the rdd-*
#: dir count stays constant
COMPACT_LAYERS = 8


def _union(frames: list) -> DataFrame:
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _compact_layers(layers: list) -> list:
    """Merge all but the last layer (the live delta, which the next
    round still reads on its own) into one eager checkpoint and free
    the merged pieces.  One extra job every COMPACT_LAYERS rounds buys
    O(1) plan size and checkpoint-artifact count for arbitrarily long
    fixpoints."""
    if len(layers) <= COMPACT_LAYERS:
        return layers
    head = layers[:-1]
    out = L.checkpoint(_union(head))  # eager: inputs freeable immediately after
    L.free(*head)
    return [out, layers[-1]]


def seminaive_fixpoint(
    seeds: list,
    step: Callable[[DataFrame, DataFrame], DataFrame | None],
    keys: list[str],
    max_iter: int | None,
    label: str,
    known: tuple = (),
    extra: tuple[Column, ...] = (),
    on_round: Callable[[Row], None] | None = None,
) -> DataFrame:
    """Drive an append-only (semi-naive) fixpoint to convergence.

    The state is the lazy union of ``known`` (read by every round but
    neither owned nor ever freed here) and the owned layers: ``seeds``,
    checkpointed by the caller, then one layer per round.  Round k
    builds ``step(total, delta)`` — candidates from the whole state and
    the newest layer (the last of ``known + seeds`` in round 0), or
    None to stop — deduplicates them on ``keys``, anti-joins the keys
    already in the state, and lazily checkpoints the result.  ONE
    action per round materializes that layer and returns a row holding
    its size ``n`` plus the ``extra`` aggregates over it, which goes to
    ``on_round``.  An empty round ends the loop and frees its layer;
    owned layers are compacted past COMPACT_LAYERS.

    Returns the union of ``known`` and the owned layers, owning every
    owned layer (``L.free`` it when done; ``known`` keeps its own
    ownership).  Runs under whatever execution profile the caller set
    (``L.loop_exec`` or not)."""
    layers = list(seeds)
    delta = [*known, *layers][-1]
    for _ in fixpoint_rounds(max_iter, label):
        total = _union([*known, *layers])
        cand = step(total, delta)
        if cand is None:
            break
        new = L.lazy_checkpoint(
            cand.dropDuplicates(keys).join(total.select(*keys), keys, "left_anti")
        )
        row = new.agg(F.count(F.lit(1)).alias("n"), *extra).collect()[0]
        if row["n"] == 0:
            L.free(new)
            break
        if on_round is not None:
            on_round(row)
        layers = _compact_layers([*layers, new])
        delta = new
    return L.adopt(_union([*known, *layers]), *layers)
