"""Property-style equivalence check for the compatibility-join
decomposition (compiler._compat_join_union): on seeded-random solution
multisets with nullable shared vars, the union-of-equi-joins plan must
produce EXACTLY the same bag of solutions as the naive
``isNull | isNull | eq`` OR-condition join it replaces — for inner
joins with every nullable-side combination, and for left_outer with
left-nullable vars (the decomposed case)."""

import random

import pytest
from pyspark.sql import functions as F

from database_spark import terms as T
from database_spark.sparql.compiler import Compiler, Sol
from database_spark.store import TripleStore
from database_spark.terms import Term


def _mk_sol(spark, rows, vars_, maybe_unbound):
    """rows: list of dicts var -> int|None; builds TERM + __id cols."""
    cols = []
    data = []
    for r in rows:
        data.append(tuple(r.get(v) for v in sorted(vars_)))
    schema = ", ".join(f"{v}_raw long" for v in sorted(vars_))
    df = (
        spark.createDataFrame(data, schema).coalesce(2)
        if data
        else spark.createDataFrame([], schema)
    )
    for v in sorted(vars_):
        raw = F.col(v + "_raw")
        term = F.when(
            raw.isNotNull(),
            T.term_struct(
                F.lit(T.KIND_IRI),
                F.concat(F.lit("urn:v:"), raw.cast("string")),
                F.lit(None),
                F.lit(None),
            ),
        )
        df = df.withColumn(v, term).withColumn(
            v + "__id", F.when(raw.isNotNull(), T.term_id(term))
        )
        cols += [v, v + "__id"]
    return Sol(df.select(*cols), set(vars_), set(maybe_unbound))


def _bag(sol):
    out = []
    for r in sol.df.collect():
        out.append(tuple(
            (r[v]["lex"] if r[v] else None) for v in sorted(sol.vars)
        ))
    return sorted(out, key=lambda t: tuple((x is None, x or "") for x in t))


@pytest.fixture(scope="module")
def compiler(spark):
    store = TripleStore.from_python_triples(
        spark, [(Term.iri("urn:x:s"), Term.iri("urn:x:p"), Term.literal("o"))]
    )
    return Compiler(spark, store.df)


def _random_rows(rng, vars_, nullable, n, domain=4):
    rows = []
    for _ in range(n):
        r = {}
        for v in vars_:
            if v in nullable and rng.random() < 0.4:
                r[v] = None
            else:
                r[v] = rng.randrange(domain)
        rows.append(r)
    return rows


@pytest.mark.parametrize("seed", [1, 2, 3])
@pytest.mark.parametrize("lmu,rmu", [(True, False), (False, True), (True, True)])
def test_inner_decomposition_equals_or_join(compiler, spark, seed, lmu, rmu):
    rng = random.Random(seed * 10 + lmu + 2 * rmu)
    lvars, rvars = {"a", "x"}, {"a", "y"}
    lrows = _random_rows(rng, lvars, {"a"} if lmu else set(), 12)
    rrows = _random_rows(rng, rvars, {"a"} if rmu else set(), 12)
    left = _mk_sol(spark, lrows, lvars, {"a"} if lmu else set())
    right = _mk_sol(spark, rrows, rvars, {"a"} if rmu else set())
    fast = _bag(compiler.join(left, right))
    # force the naive OR-condition path for the reference answer
    try:
        compiler._force_or_join = True
        slow = _bag(compiler.join(left, right))
    finally:
        compiler._force_or_join = False
    assert fast == slow


@pytest.mark.parametrize("seed", [5, 6])
def test_inner_two_nullable_vars(compiler, spark, seed):
    rng = random.Random(seed)
    lvars, rvars = {"a", "b", "x"}, {"a", "b", "y"}
    left = _mk_sol(spark, _random_rows(rng, lvars, {"a", "b"}, 10), lvars, {"a", "b"})
    right = _mk_sol(spark, _random_rows(rng, rvars, {"a"}, 10), rvars, {"a"})
    fast = _bag(compiler.join(left, right))
    try:
        compiler._force_or_join = True
        slow = _bag(compiler.join(left, right))
    finally:
        compiler._force_or_join = False
    assert fast == slow


@pytest.mark.parametrize("seed", [7, 8, 9])
def test_left_outer_decomposition_equals_or_join(compiler, spark, seed):
    rng = random.Random(seed)
    lvars, rvars = {"a", "x"}, {"a", "y"}
    left = _mk_sol(spark, _random_rows(rng, lvars, {"a"}, 12), lvars, {"a"})
    right = _mk_sol(spark, _random_rows(rng, rvars, set(), 12), rvars, set())
    fast = _bag(compiler.join(left, right, "left_outer"))
    try:
        compiler._force_or_join = True
        slow = _bag(compiler.join(left, right, "left_outer"))
    finally:
        compiler._force_or_join = False
    assert fast == slow


@pytest.mark.parametrize("seed", [11, 12, 13])
@pytest.mark.parametrize("lmu", [False, True])
def test_left_outer_right_nullable_equals_or_join(compiler, spark, seed, lmu):
    """Right-nullable shared var under left_outer — the inner-union +
    null-safe anti-join path (`_compat_left_outer_via_inner`) must match
    the naive OR-condition left_outer on random bags, with and without
    the var also nullable on the left."""
    rng = random.Random(seed * 100 + lmu)
    lvars, rvars = {"a", "x"}, {"a", "y"}
    left = _mk_sol(
        spark, _random_rows(rng, lvars, {"a"} if lmu else set(), 12),
        lvars, {"a"} if lmu else set(),
    )
    right = _mk_sol(spark, _random_rows(rng, rvars, {"a"}, 12), rvars, {"a"})
    fast = _bag(compiler.join(left, right, "left_outer"))
    try:
        compiler._force_or_join = True
        slow = _bag(compiler.join(left, right, "left_outer"))
    finally:
        compiler._force_or_join = False
    assert fast == slow


@pytest.mark.parametrize("seed", [21, 22])
def test_left_outer_right_nullable_with_extra_filter(compiler, spark, seed):
    """OPTIONAL filter (`extra` condition) must participate in the
    matched/unmatched split exactly as in the naive join."""
    rng = random.Random(seed)
    lvars, rvars = {"a", "x"}, {"a", "y"}
    left = _mk_sol(spark, _random_rows(rng, lvars, set(), 12), lvars, set())
    right = _mk_sol(spark, _random_rows(rng, rvars, {"a"}, 12), rvars, {"a"})
    extra = F.col("R__y").isNotNull() & (F.col("R__y")["lex"] > "urn:v:1")
    fast = _bag(compiler.join(left, right, "left_outer", extra=extra))
    try:
        compiler._force_or_join = True
        slow = _bag(compiler.join(left, right, "left_outer", extra=extra))
    finally:
        compiler._force_or_join = False
    assert fast == slow


# ---------------------------------------------------------------- k > 2
def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.mark.parametrize("seed", [31, 32, 33])
@pytest.mark.parametrize(
    "lnull,rnull",
    [({"a", "b", "c"}, set()), (set(), {"a", "b", "c"}),
     ({"a", "b", "c"}, {"a", "b", "c"}), ({"a", "b"}, {"b", "c"})],
)
def test_inner_three_nullable_vars_masked(compiler, spark, seed, lnull, rnull):
    """k=3 nullable shared vars: the null-mask-expansion join
    (`_compat_join_masked`) must match the naive OR-condition join on
    random bags (r5 verdict #2)."""
    rng = random.Random(seed)
    lvars, rvars = {"a", "b", "c", "x"}, {"a", "b", "c", "y"}
    mu = lnull | rnull
    left = _mk_sol(spark, _random_rows(rng, lvars, lnull, 12), lvars, lnull)
    right = _mk_sol(spark, _random_rows(rng, rvars, rnull, 12), rvars, rnull)
    assert len(mu) == 3  # exercises the masked path, not the union
    fast = _bag(compiler.join(left, right))
    try:
        compiler._force_or_join = True
        slow = _bag(compiler.join(left, right))
    finally:
        compiler._force_or_join = False
    assert fast == slow


def test_masked_join_plan_is_hash_join(compiler, spark):
    """The k=3 plan must be a single equi join (hash-partitionable):
    no BroadcastNestedLoopJoin, no CartesianProduct."""
    rng = random.Random(99)
    lvars, rvars = {"a", "b", "c", "x"}, {"a", "b", "c", "y"}
    mu = {"a", "b", "c"}
    left = _mk_sol(spark, _random_rows(rng, lvars, mu, 30), lvars, mu)
    right = _mk_sol(spark, _random_rows(rng, rvars, mu, 30), rvars, mu)
    plan = _plan(compiler.join(left, right).df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("HashJoin" in plan)


@pytest.mark.parametrize("seed", [41, 42])
def test_left_outer_three_nullable_vars(compiler, spark, seed):
    """k=3 left_outer goes through the via-inner path with the masked
    inner; must match the naive OR-condition left_outer."""
    rng = random.Random(seed)
    lvars, rvars = {"a", "b", "c", "x"}, {"a", "b", "c", "y"}
    mu = {"a", "b", "c"}
    left = _mk_sol(spark, _random_rows(rng, lvars, mu, 10), lvars, mu)
    right = _mk_sol(spark, _random_rows(rng, rvars, {"a"}, 10), rvars, {"a"})
    fast = _bag(compiler.join(left, right, "left_outer"))
    try:
        compiler._force_or_join = True
        slow = _bag(compiler.join(left, right, "left_outer"))
    finally:
        compiler._force_or_join = False
    assert fast == slow


# ------------------------------------------------------- nullable MINUS
def _minus_reference(lrows, rrows, shared):
    """Driver-side MINUS oracle: drop a left row iff some right row is
    compatible on all shared vars AND shares >=1 bound var."""
    out = []
    for lr in lrows:
        killed = False
        for rr in rrows:
            compat = all(
                lr.get(v) is None or rr.get(v) is None or lr[v] == rr[v]
                for v in shared
            )
            overlap = any(
                lr.get(v) is not None and rr.get(v) is not None
                for v in shared
            )
            if compat and overlap:
                killed = True
                break
        if not killed:
            out.append(lr)
    return out


@pytest.mark.parametrize("seed", [51, 52, 53])
@pytest.mark.parametrize(
    "lnull,rnull",
    [({"a"}, set()), (set(), {"a"}), ({"a"}, {"a"}), ({"a", "b"}, {"b"}),
     ({"a", "b", "c"}, {"a", "c"})],
)
def test_minus_nullable_decomposition(compiler, spark, seed, lnull, rnull):
    """Nullable-shared-var MINUS (r5 verdict #1): the chained equi
    anti-join decomposition must match the brute-force oracle for any
    k, including k=3 (no OR-condition fallback remains)."""
    rng = random.Random(seed)
    shared = sorted({"a", "b", "c"} & ({"a", "b", "c"}))[: max(
        2, len(lnull | rnull)
    )]
    shared = sorted({"a", "b", "c"})[: max(1, len(lnull | rnull))]
    lvars = set(shared) | {"x"}
    rvars = set(shared) | {"y"}
    lrows = _random_rows(rng, lvars, lnull & lvars, 14)
    rrows = _random_rows(rng, rvars, rnull & rvars, 14)
    left = _mk_sol(spark, lrows, lvars, lnull & lvars)
    right = _mk_sol(spark, rrows, rvars, rnull & rvars)
    got = _bag(compiler.minus(left, right))
    want = sorted(
        (
            tuple(
                (None if r.get(v) is None else f"urn:v:{r[v]}")
                for v in sorted(lvars)
            )
            for r in _minus_reference(lrows, rrows, shared)
        ),
        key=lambda t: tuple((x is None, x or "") for x in t),
    )
    assert got == want


def test_minus_nullable_plan_is_hash_antijoin(compiler, spark):
    """The nullable MINUS plan must contain only equi anti joins — no
    BroadcastNestedLoopJoin (the r5 verdict #1 failure shape)."""
    rng = random.Random(7)
    lvars, rvars = {"a", "b", "x"}, {"a", "b", "y"}
    left = _mk_sol(spark, _random_rows(rng, lvars, {"a", "b"}, 30), lvars, {"a", "b"})
    right = _mk_sol(spark, _random_rows(rng, rvars, {"a"}, 30), rvars, {"a"})
    plan = _plan(compiler.minus(left, right).df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan


def test_oversized_null_slice_degrades_to_cartesian(compiler, spark):
    """r8 verdict #3: the compat-join null-slice broadcast is
    DATA-DEPENDENT — on unbound-heavy data it grows O(n) and an
    unguarded F.broadcast dies at Spark's 8 GB hard limit.  With the
    size probe, an oversized slice must fall back to a repartitioned
    CartesianProduct (degrade, not die) and still produce the exact
    OR-join bag; a small slice must keep the BNLJ broadcast shape."""
    rng = random.Random(42)
    lvars, rvars = {"a", "x"}, {"a", "y"}
    # unbound-heavy left: most rows have a NULL shared var
    lrows = [{"a": None, "x": rng.randrange(3)} for _ in range(10)] + [
        {"a": rng.randrange(3), "x": rng.randrange(3)} for _ in range(4)
    ]
    rrows = _random_rows(rng, rvars, set(), 8)
    left = _mk_sol(spark, lrows, lvars, {"a"})
    right = _mk_sol(spark, rrows, rvars, set())
    # reference bag via the naive OR-condition join
    try:
        compiler._force_or_join = True
        want = _bag(compiler.join(left, right))
    finally:
        compiler._force_or_join = False
    # small threshold → the 10-row null slice is "oversized"
    old = compiler._COMPAT_BCAST_MAX_ROWS
    try:
        compiler._COMPAT_BCAST_MAX_ROWS = 5
        big = compiler.join(left, right)
        plan = _plan(big.df)
        assert "CartesianProduct" in plan  # fallback fired
        assert _bag(big) == want  # same bag — degraded, not wrong
    finally:
        compiler._COMPAT_BCAST_MAX_ROWS = old
    small = compiler.join(left, right)
    plan = _plan(small.df)
    assert "CartesianProduct" not in plan  # broadcast path kept
    assert "BroadcastNestedLoopJoin" in plan
    assert _bag(small) == want


def _jobs_during(spark, group, fn):
    """Run fn under a job group and return how many Spark jobs it
    submitted (listener-level evidence, not code-path counters)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group)), out


def test_null_slice_probe_is_static_or_memoized(compiler, spark, tmp_path):
    """r9 verdict wrong #6: the compat-join size probe must not cost a
    Spark job per query compile.

    * local/bounded slices answer statically from Catalyst's maxRows —
      ZERO jobs (the _mk_sol shapes in this file);
    * unbounded (file-backed) slices probe ONCE, then the memoized
      bound serves every recompile of the same fragment — jobs only on
      first sight."""
    import pandas as pd

    rng = random.Random(5)
    lvars, rvars = {"a", "x"}, {"a", "y"}

    def _arrow_sol(rows, vars_, mu):
        # pandas+Arrow → a true LocalRelation, whose maxRows Catalyst
        # knows statically (tuple-list createDataFrame is RDD-backed
        # and has no static bound)
        pdf = pd.DataFrame(
            [{f"{v}_raw": r.get(v) for v in sorted(vars_)} for r in rows]
        ).astype("object")
        df = spark.createDataFrame(
            pdf, ", ".join(f"{v}_raw long" for v in sorted(vars_))
        )
        cols = []
        for v in sorted(vars_):
            raw = F.col(v + "_raw")
            term = F.when(
                raw.isNotNull(),
                T.term_struct(
                    F.lit(T.KIND_IRI),
                    F.concat(F.lit("urn:v:"), raw.cast("string")),
                    F.lit(None),
                    F.lit(None),
                ),
            )
            df = df.withColumn(v, term).withColumn(
                v + "__id", F.when(raw.isNotNull(), T.term_id(term))
            )
            cols += [v, v + "__id"]
        return Sol(df.select(*cols), set(vars_), set(mu))

    left = _arrow_sol(_random_rows(rng, lvars, {"a"}, 12), lvars, {"a"})
    right = _arrow_sol(_random_rows(rng, rvars, set(), 6), rvars, set())
    # statically-bounded slice: compiling the compat join runs NO job
    n, sol = _jobs_during(spark, "probe-static", lambda: compiler.join(left, right))
    assert n == 0, f"static slice bound should not probe ({n} jobs)"
    assert sol.df.count() > 0  # the plan still executes fine

    # file-backed (unbounded maxRows) slice: first compile probes once,
    # the second compile of the SAME fragment serves from the memo
    p = str(tmp_path / "slice_left")
    left.df.write.mode("overwrite").parquet(p)
    fdf = spark.read.parquet(p)
    fleft = Sol(fdf, set(lvars), {"a"})
    n1, _ = _jobs_during(spark, "probe-first", lambda: compiler.join(fleft, right))
    n2, _ = _jobs_during(spark, "probe-second", lambda: compiler.join(fleft, right))
    assert n1 >= 1, "file-backed slice must probe on first sight"
    assert n2 == 0, f"recompile must reuse the memoized probe ({n2} jobs)"


def test_materialize_shared_jobs_follow_callers_job_group(
    compiler, spark, tmp_path, monkeypatch
):
    """The compat join materializes a heavy side on a pool thread; its
    jobs must run under the CALLER's job group, so a query's job
    accounting (``getJobIdsForGroup``) and cancellation
    (``cancelJobGroup``) cover them."""
    import threading
    import time

    from database_spark.operators import lifecycle as L

    rng = random.Random(7)
    lvars, rvars = {"a", "x"}, {"a", "y"}
    left = _mk_sol(spark, _random_rows(rng, lvars, {"a"}, 20), lvars, {"a"})
    right = _mk_sol(spark, _random_rows(rng, rvars, set(), 6), rvars, set())
    p = str(tmp_path / "shared_left")
    left.df.write.mode("overwrite").parquet(p)
    fdf = spark.read.parquet(p)
    # join-shaped and file-backed: neither statically small nor
    # scan-shaped, so _materialize_shared checkpoints it
    heavy = fdf.join(fdf.select("x__id").distinct(), "x__id")

    sc = spark.sparkContext
    seen, started = [], threading.Event()
    real = L.checkpoint_count

    def spy(df):
        seen.append((
            threading.current_thread() is threading.main_thread(),
            sc.getLocalProperty("spark.jobGroup.id"),
        ))
        started.set()
        return real(df)

    monkeypatch.setattr(L, "checkpoint_count", spy)
    n, _ = _jobs_during(
        spark, "compat-shared", lambda: compiler.join(Sol(heavy, lvars, {"a"}), right)
    )
    assert seen and all(
        not on_main and group == "compat-shared" for on_main, group in seen
    ), seen
    assert n >= len(seen)

    # a slow materialization, cancelled through the caller's group
    slow = heavy.withColumn(
        "__slow", F.expr("reflect('java.lang.Thread', 'sleep', CAST(300 AS BIGINT))")
    )
    started.clear()
    errors = []

    def run():
        sc.setJobGroup("compat-cancel", "compat-cancel")
        try:
            compiler.join(Sol(slow, lvars, {"a"}), right)
        except Exception as e:  # noqa: BLE001 — the cancelled job's error
            errors.append(e)
        finally:
            sc.setJobGroup(None, None)

    t = threading.Thread(target=run)
    t.start()
    assert started.wait(60)
    tracker = sc.statusTracker()
    # cancel whenever a job of the group is active: the pool thread's
    # jobs only fail if they run under the caller's group
    deadline = time.time() + 60
    while t.is_alive() and time.time() < deadline:
        group_jobs = set(tracker.getJobIdsForGroup("compat-cancel"))
        if group_jobs & set(tracker.getActiveJobsIds()):
            sc.cancelJobGroup("compat-cancel")
        time.sleep(0.05)
    t.join(60)
    assert not t.is_alive() and errors, "the pool job ran outside the group"
    ids = tracker.getJobIdsForGroup("compat-cancel")
    assert all(tracker.getJobInfo(i).status != "RUNNING" for i in ids)
    assert not tracker.getActiveJobsIds()
    for own in compiler._owned:
        L.free(own)
    compiler._owned.clear()
