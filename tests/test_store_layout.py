"""Predicate-partitioned layout: partition pruning must reach the scan
(the Spark analog of the reference's POS index choice)."""

import io
import contextlib

import pytest
from pyspark.sql import functions as F

from database_spark import terms as T
from database_spark.sparql.engine import SparqlEngine
from database_spark.store import TripleStore
from database_spark.terms import Term

EX = "http://example.org/"


@pytest.fixture(scope="module")
def saved_store(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("store") / "pp")
    trips = [
        (Term.iri(EX + f"s{i}"), Term.iri(EX + f"p{i % 7}"), Term.integer(i))
        for i in range(200)
    ]
    TripleStore.from_python_triples(spark, trips).save(
        path, partition_by_predicate=True, buckets=16
    )
    return TripleStore.load(spark, path)


def _formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_meta_roundtrip(saved_store):
    assert saved_store.p_buckets == 16
    assert "p_bucket" in saved_store.df.columns


def test_bound_predicate_scan_prunes_partitions(saved_store):
    eng = SparqlEngine(saved_store)
    res = eng.select(
        f'PREFIX ex: <{EX}> SELECT ?s ?o WHERE {{ ?s ex:p3 ?o }}'
    )
    plan = _formatted_plan(res.df)
    # the p_bucket equality must appear as a PartitionFilter, not a
    # post-scan condition
    assert "PartitionFilters" in plan
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "p_bucket" in pf_line
    # and the p equality is pushed to parquet
    assert any(
        "PushedFilters" in l and "EqualTo(p," in l for l in plan.splitlines()
    )
    # correctness unchanged
    assert len(res.df.collect()) == len([i for i in range(200) if i % 7 == 3])


def test_mutation_preserves_p_layout(spark, saved_store):
    """add() keeps the p-bucketed layout alive (r10 missing #1): the
    new row joins the layout with its bucket computed on the fly, and
    a bound-predicate scan on the MUTATED store still partition-prunes
    the parquet base under the union."""
    extra = spark.createDataFrame(
        [
            (
                Term.iri(EX + "new").as_row(),
                Term.iri(EX + "p1").as_row(),
                Term.integer(999).as_row(),
                None,
            )
        ],
        "st struct<kind:tinyint,lex:string,dt:string,lang:string>, "
        "pt struct<kind:tinyint,lex:string,dt:string,lang:string>, "
        "ot struct<kind:tinyint,lex:string,dt:string,lang:string>, "
        "gt struct<kind:tinyint,lex:string,dt:string,lang:string>",
    )
    bigger = saved_store.add(extra)
    assert "p_bucket" in bigger.df.columns and bigger.p_buckets == 16
    assert bigger.df.count() == 201
    eng = SparqlEngine(bigger)
    res = eng.select(f'PREFIX ex: <{EX}> SELECT ?s ?o WHERE {{ ?s ex:p1 ?o }}')
    plan = _formatted_plan(res.df)
    assert any(
        "PartitionFilters" in l and "p_bucket" in l for l in plan.splitlines()
    ), plan
    lex = sorted(r["o"]["lex"] for r in res.df.collect())
    assert "999" in lex  # sees the new row
    assert len(lex) == len([i for i in range(200) if i % 7 == 1]) + 1


# ------------------------------------------------- subject-keyed layout
# The OSP/SPO-permutation analog (SPOKeyOrder.java:90-128): save()
# writes a second, s_bucket-partitioned copy; the compiler reads it for
# unbound-predicate patterns so bound/join-bound subjects prune.


def test_s_index_meta_roundtrip(saved_store):
    assert saved_store.s_buckets == 16
    assert saved_store.s_df is not None
    assert "s_bucket" in saved_store.s_df.columns


def test_bound_subject_unbound_predicate_prunes(spark, saved_store):
    eng = SparqlEngine(saved_store)
    res = eng.select(
        f'PREFIX ex: <{EX}> SELECT ?p ?o WHERE {{ ex:s5 ?p ?o }}'
    )
    plan = _formatted_plan(res.df)
    # the s_bucket equality must be a PARTITION filter on the s-layout
    assert any(
        "PartitionFilters" in l and "s_bucket" in l for l in plan.splitlines()
    ), plan
    rows = res.df.collect()
    assert len(rows) == 1
    assert rows[0]["o"]["lex"] == "5"


def test_join_bound_subject_nps_gets_dynamic_pruning(spark, saved_store):
    """`?s ex:p3 ?o . ?s !(ex:p0|ex:p1) ?x` — the negated-property-set
    scan must read the subject layout and carry a dynamic-partition-
    pruning filter fed by the bound-p sibling pattern (the as-bound
    PipelineJoin access-path probe)."""
    eng = SparqlEngine(saved_store)
    res = eng.select(
        f'PREFIX ex: <{EX}> SELECT ?s ?o ?x WHERE {{ '
        f'?s ex:p3 ?o . ?s !(ex:p0|ex:p1) ?x }}'
    )
    plan = _formatted_plan(res.df)
    assert any(
        "PartitionFilters" in l and "s_bucket" in l for l in plan.splitlines()
    ), plan
    assert "dynamicpruning" in plan, plan
    rows = res.df.collect()
    # each p3 subject has exactly one edge (its own p3), so x == o
    expected = [i for i in range(200) if i % 7 == 3]
    assert len(rows) == len(expected)
    assert all(r["o"]["lex"] == r["x"]["lex"] for r in rows)


def test_s_layout_results_match_unpartitioned(spark, saved_store):
    """Layout choice must never change results: the same queries on an
    in-memory (unsaved, single-layout) copy of the store."""
    mem = TripleStore(spark, saved_store._flat(), has_named=False)
    for q in (
        f'PREFIX ex: <{EX}> SELECT ?p ?o WHERE {{ ex:s7 ?p ?o }}',
        f'PREFIX ex: <{EX}> SELECT ?s ?x WHERE {{ '
        f'?s ex:p2 ?o . ?s !(ex:p0) ?x }}',
    ):
        got = sorted(
            tuple((v["lex"] if v else None) for v in r)
            for r in SparqlEngine(saved_store).select(q).df.collect()
        )
        want = sorted(
            tuple((v["lex"] if v else None) for v in r)
            for r in SparqlEngine(mem).select(q).df.collect()
        )
        assert got == want


def test_probe_methods_use_s_layout(saved_store):
    s5 = Term.iri(EX + "s5")
    assert saved_store.count_pattern(s=s5) == 1
    assert saved_store.has_statement(s=s5)
    assert not saved_store.has_statement(s=Term.iri(EX + "nope"))


def test_as_bound_probe_pushes_static_inset_and_memoizes(spark, saved_store):
    """The as-bound access-path probe (PipelineJoin semantics): a small
    outer side's subject ids must land in the s-layout scan as STATIC
    IN filters — s_bucket INSET as a partition filter (plus the id IN
    for row-group pruning on the (s,p,o) sort) — and the id collect
    must be memoized so recompiling the same query runs zero jobs."""
    from database_spark.sparql.compiler import Compiler

    eng = SparqlEngine(saved_store)
    q = (
        f'PREFIX ex: <{EX}> SELECT ?s ?o ?x WHERE {{ '
        f'?s ex:p4 ?o . ?s !(ex:p0|ex:p1) ?x }}'
    )
    res = eng.select(q)
    plan = _formatted_plan(res.df)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l and "s_bucket" in l]
    assert pf and "INSET" in pf[0], plan  # static partition prune
    assert "EqualTo(p," not in pf[0]
    # memoization: a recompile of the same query submits no probe jobs
    sc = spark.sparkContext
    sc.setJobGroup("asbound-recompile", "x")
    try:
        eng.select(q)
    finally:
        sc.setJobGroup(None, None)
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup("asbound-recompile")
    assert len(jobs) == 0, f"recompile ran {len(jobs)} jobs"


# ------------------------------------------------- object-keyed layout
# The OSP analog: bound-o / unbound-p-and-s reverse lookups prune to
# one o_bucket directory.


def test_o_index_meta_roundtrip(saved_store):
    assert saved_store.o_buckets == 16
    assert saved_store.o_df is not None
    assert "o_bucket" in saved_store.o_df.columns


def test_reverse_lookup_prunes_o_bucket(spark, saved_store):
    eng = SparqlEngine(saved_store)
    # integer literal 5 appears as exactly one object (s5 p5 5)
    res = eng.select(
        'SELECT ?s ?p WHERE { ?s ?p 5 }'
    )
    plan = _formatted_plan(res.df)
    assert any(
        "PartitionFilters" in l and "o_bucket" in l for l in plan.splitlines()
    ), plan
    rows = res.df.collect()
    assert len(rows) == 1
    assert rows[0]["s"]["lex"].endswith("s5")


def test_o_layout_results_match_unpartitioned(spark, saved_store):
    mem = TripleStore(spark, saved_store._flat(), has_named=False)
    q = 'SELECT ?s ?p WHERE { ?s ?p 7 }'
    got = sorted(
        tuple((v["lex"] if v else None) for v in r)
        for r in SparqlEngine(saved_store).select(q).df.collect()
    )
    want = sorted(
        tuple((v["lex"] if v else None) for v in r)
        for r in SparqlEngine(mem).select(q).df.collect()
    )
    assert got == want and len(got) == 1


def test_probe_methods_use_o_layout(saved_store):
    assert saved_store.count_pattern(o=Term.integer(5)) == 1
    assert saved_store.has_statement(o=Term.integer(5))
    assert not saved_store.has_statement(o=Term.integer(5000))


def test_mutation_preserves_aux_layouts(spark, saved_store):
    """add/remove maintain the s-/o-keyed companion layouts alongside
    the primary (r10 missing #1; the reference maintains EVERY index
    permutation per write — SPORelation.java): a mutated store still
    PRUNES s_bucket/o_bucket partitions AND serves the new/removed
    rows — never stale layout data."""
    extra = spark.createDataFrame(
        [
            (
                Term.iri(EX + "s5").as_row(),
                Term.iri(EX + "brandnew").as_row(),
                Term.integer(4242).as_row(),
                None,
            )
        ],
        "st struct<kind:tinyint,lex:string,dt:string,lang:string>, "
        "pt struct<kind:tinyint,lex:string,dt:string,lang:string>, "
        "ot struct<kind:tinyint,lex:string,dt:string,lang:string>, "
        "gt struct<kind:tinyint,lex:string,dt:string,lang:string>",
    )
    mutated = saved_store.add(extra)
    assert mutated.s_df is not None and mutated.o_df is not None
    # bound-s unbound-p star expansion sees the NEW edge, and the plan
    # still partition-prunes the s-layout's parquet base
    res = SparqlEngine(mutated).select(
        f'PREFIX ex: <{EX}> SELECT ?p ?o WHERE {{ ex:s5 ?p ?o }}'
    )
    plan = _formatted_plan(res.df)
    assert any(
        "PartitionFilters" in l and "s_bucket" in l for l in plan.splitlines()
    ), plan
    rows = res.df.collect()
    lex = sorted(r["o"]["lex"] for r in rows)
    assert "4242" in lex and len(rows) == 2
    # removal drops the original edge for the reverse lookup too, with
    # the o-layout still pruning
    removed = saved_store.remove(
        spark.createDataFrame(
            [
                (
                    Term.iri(EX + "s5").as_row(),
                    Term.iri(EX + "p5").as_row(),
                    Term.integer(5).as_row(),
                    None,
                )
            ],
            extra.schema,
        )
    )
    assert removed.s_df is not None and removed.o_df is not None
    res2 = SparqlEngine(removed).select('SELECT ?s WHERE { ?s ?p 5 }')
    plan2 = _formatted_plan(res2.df)
    assert any(
        "PartitionFilters" in l and "o_bucket" in l for l in plan2.splitlines()
    ), plan2
    assert res2.df.collect() == []


def test_mutation_chain_stays_correct_across_layouts(spark, saved_store):
    """add-then-remove-then-add chains: every layout copy must agree
    with the primary after each step (set semantics, dedup on
    re-insert, explicit-wins inferred resolution)."""
    schema = (
        "st struct<kind:tinyint,lex:string,dt:string,lang:string>, "
        "pt struct<kind:tinyint,lex:string,dt:string,lang:string>, "
        "ot struct<kind:tinyint,lex:string,dt:string,lang:string>, "
        "gt struct<kind:tinyint,lex:string,dt:string,lang:string>"
    )

    def frame(*trips):
        return spark.createDataFrame(
            [
                (s.as_row(), p.as_row(), o.as_row(), None)
                for s, p, o in trips
            ],
            schema,
        )

    t_existing = (Term.iri(EX + "s5"), Term.iri(EX + "p5"), Term.integer(5))
    t_new = (Term.iri(EX + "zz"), Term.iri(EX + "pz"), Term.integer(777))
    st = saved_store.add(frame(t_existing, t_new))  # re-insert dedups
    st = st.remove(frame(t_new))
    st = st.add(frame(t_new))
    assert st.df.count() == 201
    for aux in (st.s_df, st.o_df):
        assert aux is not None
        assert aux.count() == 201
        assert (
            aux.select("s", "p", "o", "g").exceptAll(
                st.df.select("s", "p", "o", "g")
            ).count()
            == 0
        )


@pytest.mark.parametrize("seed", [11, 23])
def test_layout_choice_never_changes_results_property(spark, tmp_path, seed):
    """Property check over random small graphs: for every triple-pattern
    shape (bound/unbound s, p, o in all combinations, plus an NPS), the
    three-layout saved store and the single-DataFrame in-memory store
    return the same bag of solutions.  Guards the scan_pattern index
    choice (p-/s-/o-layout + as-bound IN pushdown) as a whole."""
    import random

    rng = random.Random(seed)
    trips = []
    for _ in range(120):
        s = Term.iri(EX + f"n{rng.randrange(12)}")
        p = Term.iri(EX + f"q{rng.randrange(4)}")
        o = (
            Term.iri(EX + f"n{rng.randrange(12)}")
            if rng.random() < 0.5
            else Term.integer(rng.randrange(6))
        )
        trips.append((s, p, o))
    path = str(tmp_path / f"prop{seed}")
    store = TripleStore.from_python_triples(spark, trips)
    store.save(path, partition_by_predicate=True, buckets=8)
    saved = TripleStore.load(spark, path)
    mem = TripleStore(spark, saved._flat(), has_named=False)
    queries = [
        'SELECT ?p ?o WHERE { <%sn3> ?p ?o }' % EX,          # bound s
        'SELECT ?s ?p WHERE { ?s ?p <%sn4> }' % EX,          # bound o
        'SELECT ?s ?o WHERE { ?s <%sq1> ?o }' % EX,          # bound p
        'SELECT ?s ?p ?o WHERE { ?s ?p ?o }',                # open scan
        'SELECT ?s ?p WHERE { ?s ?p 3 }',                    # bound literal o
        'SELECT ?x WHERE { <%sn3> ?p ?x . ?x ?p2 ?y }' % EX, # chained unbound p
        'PREFIX ex: <%s> SELECT ?s ?o WHERE { ?s ex:q0 ?m . ?s !(ex:q0) ?o }'
        % EX,                                                # NPS join
    ]
    for q in queries:
        def bag(eng):
            return sorted(
                tuple((v["lex"] if v else None) for v in r)
                for r in eng.select(q).df.collect()
            )
        got, want = bag(SparqlEngine(saved)), bag(SparqlEngine(mem))
        assert got == want, (q, len(got), len(want))


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setJobGroup(None, None)
    return result, list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def test_bounded_ids_row_gate_fires_for_file_backed_sides(
    spark, tmp_path, monkeypatch
):
    """r10 verdict wrong #1: a file-backed side leaves maxRows
    UNDEFINED, so the bounded row gate must run (and early-exit) before
    any distinct enumeration — the old predicate skipped the gate in
    exactly that case and paid a full distinct pre-pass at compile
    time.  Pinned by job counts per case."""
    from database_spark.sparql.compiler import Compiler

    monkeypatch.setattr(Compiler, "_AS_BOUND_MAX_ROWS", 500)
    monkeypatch.setattr(Compiler, "_ID_PROBE_CACHE", None)
    big_path = str(tmp_path / "big")
    spark.range(2000).selectExpr("id as v__id").write.parquet(big_path)
    small_path = str(tmp_path / "small")
    spark.range(40).selectExpr("id as v__id").write.parquet(small_path)

    comp = Compiler(spark, spark.range(1).selectExpr("id as s"))
    comp._cache_token = "t-gate"

    # baseline: how many jobs the early-exit gate alone costs on this
    # Spark version (AQE can split a limit+count into 2)
    big_df = spark.read.parquet(big_path)
    _, base_jobs = _jobs_in_group(
        spark,
        "gate-base",
        lambda: big_df.limit(Compiler._AS_BOUND_MAX_ROWS + 1).count(),
    )

    # file-backed side OVER the row bound: exactly the gate's jobs —
    # the full distinct pre-pass (a separate collect job) never runs
    ids, jobs = _jobs_in_group(
        spark, "gate-big", lambda: comp._bounded_ids(big_df, "v__id")
    )
    assert ids is None
    assert len(jobs) == len(base_jobs), (
        f"expected only the row-gate job(s) ({len(base_jobs)}), ran {len(jobs)}"
    )

    # file-backed side UNDER the bound: gate runs first, then the
    # distinct collect — strictly more jobs than the gate alone
    small_df = spark.read.parquet(small_path)
    ids, jobs = _jobs_in_group(
        spark, "gate-small", lambda: comp._bounded_ids(small_df, "v__id")
    )
    assert ids is not None and len(ids) == 40
    assert len(jobs) > len(base_jobs)

    # statically-known-small side (maxRows defined): gate skipped —
    # only the distinct collect runs
    local_df = spark.range(30).selectExpr("id as v__id")
    ids, jobs = _jobs_in_group(
        spark, "gate-local", lambda: comp._bounded_ids(local_df, "v__id")
    )
    assert ids is not None and len(ids) == 30
    assert len(jobs) <= len(base_jobs)

    # memoization: the big side re-probes with ZERO jobs
    _, jobs = _jobs_in_group(
        spark, "gate-memo", lambda: comp._bounded_ids(big_df, "v__id")
    )
    assert jobs == []

    # statically-known-BIG side (maxRows defined and over the bound —
    # a big VALUES block / range): treated as big with ZERO jobs, the
    # gate is provably unhelpful so it must not run (r11 advice #3)
    static_big = spark.range(2000).selectExpr("id as v__id")
    ids, jobs = _jobs_in_group(
        spark, "gate-static-big", lambda: comp._bounded_ids(static_big, "v__id")
    )
    assert ids is None
    assert jobs == []


def test_join_rejects_bucket_metadata_on_non_inner(spark, saved_store):
    """The as-bound id/bucket pushdown filters the join SIDES — legal
    only for inner joins.  Bucket metadata reaching a non-inner join is
    a contract violation (left rows could silently drop under
    left_outer), now enforced by an assertion instead of call-site
    discipline (r10 verdict wrong #4 / advice #1)."""
    import pytest as _pytest

    from database_spark.sparql import ast as A
    from database_spark.sparql.engine import SparqlEngine

    eng = SparqlEngine(saved_store)
    comp = eng._compiler()
    # an s-layout scan Sol carries bucket metadata
    tp = A.TriplePattern(A.Var("s"), A.Var("p"), A.Var("o"))
    scan = comp.scan_pattern(tp, None)
    assert scan.buckets, "scan should export s-layout bucket metadata"
    other = comp.scan_pattern(
        A.TriplePattern(A.Var("s"), A.Var("p2"), A.Var("o2")), None
    )
    with _pytest.raises(AssertionError, match="non-inner join"):
        comp.join(comp._strip_aux(other), scan, "left_outer")
    # and the OPTIONAL compile path (which strips aux metadata at BGP
    # exit) still works end-to-end over an s-layout right side
    res = eng.select(
        f'PREFIX ex: <{EX}> SELECT ?s ?o ?x WHERE {{ '
        f'?s ex:p3 ?o OPTIONAL {{ ?s ?q ?x }} }}'
    )
    assert len(res.df.collect()) > 0


def test_probe_caches_not_stale_after_overwrite_reload(spark, tmp_path):
    """r10 advice #2: semanticHash of a file scan derives from
    rootPaths only, so overwriting a store path and reloading it in the
    same driver used to serve stale memoized as-bound IN-lists —
    silently missing rows added by the re-save.  The store-generation
    token in the cache key closes it."""
    from database_spark.sparql.engine import SparqlEngine

    path = str(tmp_path / "ovr")
    q = (
        f'PREFIX ex: <{EX}> SELECT ?s ?o ?x WHERE {{ '
        f'?s ex:p1 ?o . ?s !(ex:p0) ?x }}'
    )

    def build(n):
        trips = [
            (Term.iri(EX + f"s{i}"), Term.iri(EX + f"p{i % 3}"), Term.integer(i))
            for i in range(n)
        ]
        TripleStore.from_python_triples(spark, trips).save(
            path, partition_by_predicate=True, buckets=8
        )
        return TripleStore.load(spark, path)

    st1 = build(12)
    r1 = SparqlEngine(st1).select(q).df.collect()
    assert len(r1) == len([i for i in range(12) if i % 3 == 1])
    # overwrite the SAME path with more data, reload, re-ask
    st2 = build(36)
    got = SparqlEngine(st2).select(q).df.collect()
    mem = TripleStore(spark, st2._flat(), has_named=False)
    want = SparqlEngine(mem).select(q).df.collect()
    assert len(got) == len(want) == len([i for i in range(36) if i % 3 == 1])


# ------------------------------------------------- context-keyed layout
# The CSPO quad-permutation analog (SPOKeyOrder.java:101-105,113-128):
# save() writes a g_bucket-partitioned copy of the NAMED rows; GRAPH
# <g> scans with only the context bound prune to one bucket directory.


@pytest.fixture(scope="module")
def saved_quads(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("quads") / "gq")
    trips = [
        (
            Term.iri(EX + f"s{i}"),
            Term.iri(EX + f"p{i % 7}"),
            Term.integer(i),
            Term.iri(EX + f"g{i % 5}"),
        )
        for i in range(200)
    ]
    TripleStore.from_python_triples(spark, trips).save(
        path, partition_by_predicate=True, buckets=16
    )
    return TripleStore.load(spark, path)


def test_g_index_meta_roundtrip(saved_quads):
    assert saved_quads.g_buckets == 16
    assert saved_quads.g_df is not None
    assert "g_bucket" in saved_quads.g_df.columns


def test_graph_bound_scan_prunes_g_bucket(spark, saved_quads):
    eng = SparqlEngine(saved_quads)
    res = eng.select(
        f'PREFIX ex: <{EX}> SELECT ?s ?p ?o WHERE {{ GRAPH ex:g2 {{ ?s ?p ?o }} }}'
    )
    plan = _formatted_plan(res.df)
    assert any(
        "PartitionFilters" in l and "g_bucket" in l for l in plan.splitlines()
    ), plan
    rows = res.df.collect()
    assert len(rows) == len([i for i in range(200) if i % 5 == 2])


def test_g_layout_results_match_unpartitioned(spark, saved_quads):
    mem = TripleStore(spark, saved_quads._flat(), has_named=True)
    for q in (
        f'PREFIX ex: <{EX}> SELECT ?s ?o WHERE {{ GRAPH ex:g1 {{ ?s ?p ?o }} }}',
        f'PREFIX ex: <{EX}> SELECT ?s WHERE {{ GRAPH ex:g3 {{ ?s ex:p3 ?o }} }}',
        f'PREFIX ex: <{EX}> SELECT ?g ?s WHERE {{ GRAPH ?g {{ ?s ex:p1 ?o }} }}',
    ):
        got = sorted(
            tuple((v["lex"] if v else None) for v in r)
            for r in SparqlEngine(saved_quads).select(q).df.collect()
        )
        want = sorted(
            tuple((v["lex"] if v else None) for v in r)
            for r in SparqlEngine(mem).select(q).df.collect()
        )
        assert got == want and got


def test_g_probe_methods(saved_quads):
    g2 = Term.iri(EX + "g2")
    assert saved_quads.count_pattern(g=g2) == len(
        [i for i in range(200) if i % 5 == 2]
    )
    assert saved_quads.has_statement(g=g2)
    assert not saved_quads.has_statement(g=Term.iri(EX + "nope"))


def test_mutation_preserves_g_layout(spark, saved_quads):
    extra = spark.createDataFrame(
        [
            (
                Term.iri(EX + "zz").as_row(),
                Term.iri(EX + "pz").as_row(),
                Term.integer(777).as_row(),
                Term.iri(EX + "g2").as_row(),
            )
        ],
        "st struct<kind:tinyint,lex:string,dt:string,lang:string>, "
        "pt struct<kind:tinyint,lex:string,dt:string,lang:string>, "
        "ot struct<kind:tinyint,lex:string,dt:string,lang:string>, "
        "gt struct<kind:tinyint,lex:string,dt:string,lang:string>",
    )
    mutated = saved_quads.add(extra, other_has_named=True)
    assert mutated.g_df is not None
    res = SparqlEngine(mutated).select(
        f'PREFIX ex: <{EX}> SELECT ?s ?p ?o WHERE {{ GRAPH ex:g2 {{ ?s ?p ?o }} }}'
    )
    plan = _formatted_plan(res.df)
    assert any(
        "PartitionFilters" in l and "g_bucket" in l for l in plan.splitlines()
    ), plan
    lex = sorted(r["o"]["lex"] for r in res.df.collect())
    assert "777" in lex
    assert len(lex) == len([i for i in range(200) if i % 5 == 2]) + 1


def test_engine_compaction_keeps_layout_family(spark, tmp_path):
    """A base rebuild (the delta outgrew REBUILD_FRACTION of the base)
    must not flatten the layout family away: after the rebuild the
    store still carries s-/o-layout views (derived from the
    checkpointed snapshot — no extra storage) and unbound-predicate
    queries stay correct, including rows added after the rebuild."""
    path = str(tmp_path / "compact")
    trips = [
        (Term.iri(EX + f"s{i}"), Term.iri(EX + f"p{i % 5}"), Term.integer(i))
        for i in range(50)
    ]
    TripleStore.from_python_triples(spark, trips).save(
        path, partition_by_predicate=True, buckets=8
    )
    eng = SparqlEngine(TripleStore.load(spark, path))
    base0 = eng.store
    # 50 × 1/8 → the 7th single-statement commit crosses the bound
    n = int(50 * TripleStore.REBUILD_FRACTION) + 1
    for i in range(n + 1):  # crosses one rebuild, then one more delta
        eng.update(
            f'PREFIX ex: <{EX}> INSERT DATA {{ ex:s1 ex:extra{i} {1000 + i} }}'
        )
    assert eng.store._base() is not base0 and eng.store._base().snaps
    assert eng.store.delta_rows == 1
    assert eng.store.s_df is not None and eng.store.o_df is not None
    assert eng.store.p_buckets == 8
    rows = eng.select(
        f'PREFIX ex: <{EX}> SELECT ?p ?o WHERE {{ ex:s1 ?p ?o }}'
    ).df.collect()
    # s1's original edge + n+1 inserted ones, served via the s-layout
    assert len(rows) == n + 2
    lex = {r["o"]["lex"] for r in rows}
    assert "1000" in lex and str(1000 + n) in lex
    # reverse lookup via the o-layout view agrees
    got = eng.select('SELECT ?s WHERE { ?s ?p 1003 }').df.collect()
    assert len(got) == 1 and got[0]["s"]["lex"].endswith("s1")


def test_same_path_resave_is_safe(spark, tmp_path):
    """save() of a LOADED store back onto its own path must not destroy
    the source mid-write (r10 advice #5): the flattened relation is
    checkpointed once before the overwrite, so all four layout
    artifacts and the text index derive from materialized data, not
    from the files being replaced."""
    path = str(tmp_path / "selfsave")
    trips = [
        (Term.iri(EX + f"s{i}"), Term.iri(EX + f"p{i % 4}"), Term.integer(i))
        for i in range(80)
    ]
    TripleStore.from_python_triples(spark, trips).save(
        path, partition_by_predicate=True, buckets=8
    )
    st = TripleStore.load(spark, path)
    st.save(path, partition_by_predicate=True, buckets=8)  # onto itself
    again = TripleStore.load(spark, path)
    assert again.df.count() == 80
    assert again.s_df is not None and again.s_df.count() == 80
    assert again.o_df is not None and again.o_df.count() == 80
    # and a mutated (union-lineage) store can re-save onto the source
    extra = spark.createDataFrame(
        [
            (
                Term.iri(EX + "zz").as_row(),
                Term.iri(EX + "p1").as_row(),
                Term.integer(999).as_row(),
                None,
            )
        ],
        "st struct<kind:tinyint,lex:string,dt:string,lang:string>, "
        "pt struct<kind:tinyint,lex:string,dt:string,lang:string>, "
        "ot struct<kind:tinyint,lex:string,dt:string,lang:string>, "
        "gt struct<kind:tinyint,lex:string,dt:string,lang:string>",
    )
    again.add(extra).save(path, partition_by_predicate=True, buckets=8)
    final = TripleStore.load(spark, path)
    assert final.df.count() == 81
    eng = SparqlEngine(final)
    got = eng.select('SELECT ?s WHERE { ?s ?p 999 }').df.collect()
    assert len(got) == 1 and got[0]["s"]["lex"].endswith("zz")


def test_g_layout_respects_from_named_restriction(spark, saved_quads):
    """FROM NAMED dataset clauses compose with the context-keyed
    layout: the g_bucket prune and the dataset restriction are
    independent conjuncts, so a GRAPH constant outside the dataset
    matches nothing while one inside it still prunes and answers."""
    eng = SparqlEngine(saved_quads)
    empty = eng.select(
        f'PREFIX ex: <{EX}> SELECT ?s FROM NAMED ex:g1 '
        f'WHERE {{ GRAPH ex:g2 {{ ?s ?p ?o }} }}'
    ).df.collect()
    assert empty == []
    res = eng.select(
        f'PREFIX ex: <{EX}> SELECT ?s FROM NAMED ex:g2 '
        f'WHERE {{ GRAPH ex:g2 {{ ?s ?p ?o }} }}'
    )
    plan = _formatted_plan(res.df)
    assert any(
        "PartitionFilters" in l and "g_bucket" in l for l in plan.splitlines()
    ), plan
    assert len(res.df.collect()) == len([i for i in range(200) if i % 5 == 2])


def test_probe_bound_p_prunes_p_bucket(saved_store):
    """ESTCARD/HASSTMT probes with a bound predicate prune the primary
    layout's p_bucket partition dirs (they used to push only the row
    filter and touch every bucket's row groups)."""
    p3 = Term.iri(EX + "p3")
    plan = _formatted_plan(saved_store._probe_df(None, p3))
    assert any(
        "PartitionFilters" in l and "p_bucket" in l for l in plan.splitlines()
    ), plan
    assert saved_store.count_pattern(p=p3) == len(
        [i for i in range(200) if i % 7 == 3]
    )
    assert saved_store.has_statement(p=p3)
    assert not saved_store.has_statement(p=Term.iri(EX + "nope"))


def test_both_bound_scan_routes_by_partition_size(spark, tmp_path):
    """GRAPH <g> { ?s <p> ?o } — predicate AND context bound — routes
    through whichever pruned partition is smaller (tools/probe_pg.py at
    sf1: the fixed p-route scanned 25x the matching rows on a
    graph-heavy store while the g-route scanned 2x).  The probe is one
    memoized metadata-count per (store, layout, term)."""
    from database_spark.sparql.compiler import Compiler

    # graph-heavy store: 2 predicates, 25 graphs => g-partition smaller
    gheavy = str(tmp_path / "gheavy")
    trips = [
        (
            Term.iri(EX + f"s{i}"),
            Term.iri(EX + f"p{i % 2}"),
            Term.integer(i),
            Term.iri(EX + f"g{i % 25}"),
        )
        for i in range(200)
    ]
    TripleStore.from_python_triples(spark, trips).save(
        gheavy, partition_by_predicate=True, buckets=16
    )
    st = TripleStore.load(spark, gheavy)
    eng = SparqlEngine(st)
    q = f'PREFIX ex: <{EX}> SELECT ?s ?o WHERE {{ GRAPH ex:g7 {{ ?s ex:p1 ?o }} }}'
    res = eng.select(q)
    plan = _formatted_plan(res.df)
    assert any(
        "PartitionFilters" in l and "g_bucket" in l for l in plan.splitlines()
    ), plan
    rows = sorted(r["s"]["lex"] for r in res.df.collect())
    assert rows == sorted(
        EX + f"s{i}" for i in range(200) if i % 25 == 7 and i % 2 == 1
    )
    # memoized: recompiling the same shape submits no new probe jobs
    before = Compiler._part_probe_jobs
    eng.select(q)
    assert Compiler._part_probe_jobs == before

    # predicate-heavy store: 25 predicates, 2 graphs => p-route stays
    pheavy = str(tmp_path / "pheavy")
    trips2 = [
        (
            Term.iri(EX + f"s{i}"),
            Term.iri(EX + f"q{i % 25}"),
            Term.integer(i),
            Term.iri(EX + f"h{i % 2}"),
        )
        for i in range(200)
    ]
    TripleStore.from_python_triples(spark, trips2).save(
        pheavy, partition_by_predicate=True, buckets=16
    )
    eng2 = SparqlEngine(TripleStore.load(spark, pheavy))
    res2 = eng2.select(
        f'PREFIX ex: <{EX}> SELECT ?s ?o WHERE {{ GRAPH ex:h1 {{ ?s ex:q3 ?o }} }}'
    )
    plan2 = _formatted_plan(res2.df)
    assert any(
        "PartitionFilters" in l and "p_bucket" in l for l in plan2.splitlines()
    ), plan2
    assert res2.df.count() == len(
        [i for i in range(200) if i % 2 == 1 and i % 25 == 3]
    )
