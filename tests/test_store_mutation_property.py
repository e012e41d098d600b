"""Property check: random add/remove sequences against a Python
set-model, verified on EVERY layout copy.

The layout-preserving mutation path (r10 missing #1 — the reference
maintains every index permutation per write, ``SPORelation.java``)
rests on two invariants this test attacks with random operation
sequences over a small term universe:

1. every layout copy (primary p-bucketed, ``_s_index``, ``_o_index``,
   ``_g_index``) holds exactly the model's statement set after any
   sequence of adds/removes (set semantics: re-inserting an existing
   statement is a no-op, removing then re-adding revives it);
2. a save + reload mid-sequence (re-bucketing the family) changes
   nothing about subsequent mutations.

Quads included: half the universe carries a named graph, so the
g-layout's named-rows-only maintenance is exercised too.
"""

from __future__ import annotations

import random

import pytest

from pyspark.sql import functions as F

from database_spark import terms as T
from database_spark.store import AXIOM, EXPLICIT, INFERRED, TripleStore
from database_spark.terms import Term

EX = "http://example.org/"

SCHEMA = (
    "st struct<kind:tinyint,lex:string,dt:string,lang:string>, "
    "pt struct<kind:tinyint,lex:string,dt:string,lang:string>, "
    "ot struct<kind:tinyint,lex:string,dt:string,lang:string>, "
    "gt struct<kind:tinyint,lex:string,dt:string,lang:string>"
)


def _universe(rng: random.Random, size: int) -> list:
    """Small statement universe; ~half quads, integer + IRI objects."""
    out = []
    for i in range(size):
        s = Term.iri(EX + f"s{rng.randrange(8)}")
        p = Term.iri(EX + f"p{rng.randrange(4)}")
        o = (
            Term.integer(rng.randrange(6))
            if rng.random() < 0.5
            else Term.iri(EX + f"s{rng.randrange(8)}")
        )
        g = Term.iri(EX + f"g{rng.randrange(3)}") if rng.random() < 0.5 else None
        out.append((s, p, o, g))
    return out


def _frame(spark, stmts):
    return spark.createDataFrame(
        [
            (s.as_row(), p.as_row(), o.as_row(), g.as_row() if g else None)
            for s, p, o, g in stmts
        ],
        SCHEMA,
    )


def _key(t):
    s, p, o, g = t
    return (s.lex, p.lex, o.lex, o.dt or "", g.lex if g else "")


def _bag(df):
    rows = df.select("st", "pt", "ot", "gt").collect()
    return sorted(
        (
            r["st"]["lex"],
            r["pt"]["lex"],
            r["ot"]["lex"],
            r["ot"]["dt"] or "",
            r["gt"]["lex"] if r["gt"] else "",
        )
        for r in rows
    )


@pytest.mark.parametrize("seed", [7, 42])
def test_random_mutations_match_set_model_on_every_layout(
    spark, tmp_path, seed
):
    rng = random.Random(seed)
    universe = _universe(rng, 60)
    # start from a saved (4-layout) store over a third of the universe
    init = {_key(t): t for t in universe[:20]}
    path = str(tmp_path / f"prop{seed}")
    TripleStore.from_python_triples(
        spark, [tuple(x for x in t if x is not None) for t in init.values()]
    ).save(path, partition_by_predicate=True, buckets=8)
    store = TripleStore.load(spark, path)
    model = dict(init)

    for step in range(6):
        batch = [universe[rng.randrange(len(universe))] for _ in range(5)]
        if rng.random() < 0.5:
            store = store.add(_frame(spark, batch))
            model.update({_key(t): t for t in batch})
        else:
            store = store.remove(_frame(spark, batch))
            for t in batch:
                model.pop(_key(t), None)
        if step == 3:
            # mid-sequence re-bucket: save + reload, then keep mutating
            p2 = str(tmp_path / f"prop{seed}_resave")
            store.save(p2, partition_by_predicate=True, buckets=8)
            store = TripleStore.load(spark, p2)
            assert store.s_df is not None and store.o_df is not None

    want = sorted(_key(t) for t in model.values())
    assert _bag(store.df) == want, "primary layout diverged from model"
    assert store.s_df is not None and _bag(store.s_df) == want
    assert store.o_df is not None and _bag(store.o_df) == want
    named = sorted(k for k in want if k[4] != "")
    if store.g_df is not None:
        assert _bag(store.g_df) == named


def test_nondeterministic_mutation_frame_cannot_desync_layouts(
    spark, tmp_path
):
    """A mutation frame whose CONTENT is nondeterministic (an RDD that
    drops a random row per evaluation) must still leave every layout
    copy identical: the frame is pinned once before the per-layout
    union/anti-join branches consume it (the same hazard class as the
    r10 range_join two-branch bug): the commit fold materializes it
    once, and every layout reads that one delta.  Evaluated per layout,
    primary/_s_index/_o_index would each see a DIFFERENT row subset."""
    path = str(tmp_path / "nd")
    base = [
        (Term.iri(EX + f"s{i}"), Term.iri(EX + f"p{i % 3}"), Term.integer(i))
        for i in range(20)
    ]
    TripleStore.from_python_triples(spark, base).save(
        path, partition_by_predicate=True, buckets=8
    )
    store = TripleStore.load(spark, path)

    new = [
        (
            Term.iri(EX + f"n{i}").as_row(),
            Term.iri(EX + "pz").as_row(),
            Term.integer(1000 + i).as_row(),
            None,
        )
        for i in range(10)
    ]

    def drop_one(it):
        import random

        rows = list(it)
        if rows:
            rows.pop(random.randrange(len(rows)))  # unseeded, per-eval
        return iter(rows)

    rdd = spark.sparkContext.parallelize(new, 1).mapPartitions(drop_one)
    frame = spark.createDataFrame(rdd, SCHEMA)
    mutated = store.add(frame)
    want = _bag(mutated.df)
    assert len(want) == 29  # 20 base + 9 survivors of the dropped row
    assert _bag(mutated.s_df) == want
    assert _bag(mutated.o_df) == want
    # removal with a nondeterministic key frame: same invariant
    removed = mutated.remove(frame)
    want2 = _bag(removed.df)
    assert _bag(removed.s_df) == want2
    assert _bag(removed.o_df) == want2


# ------------------------------------------ inferred dominance, revival
def _typed(spark, stmts, inferred):
    """Statement frame with an explicit ``inferred`` column."""
    return _frame(spark, stmts).withColumn(
        "inferred", F.lit(inferred).cast("tinyint")
    )


def _types(store):
    """{statement key: inferred} on every layout; the layouts agree."""
    out = []
    for df in (store.df, store.s_df, store.o_df):
        out.append({
            (r["st"]["lex"], r["pt"]["lex"], r["ot"]["lex"]): r["inferred"]
            for r in df.select("st", "pt", "ot", "inferred").collect()
        })
    assert out[0] == out[1] == out[2]
    return out[0]


@pytest.fixture()
def saved(spark, tmp_path):
    """A saved 4-layout store holding a (explicit) and b (inferred)."""
    path = str(tmp_path / "dom")
    TripleStore.from_term_structs(
        spark,
        _frame(spark, [A]).withColumn("inferred", F.lit(EXPLICIT).cast("tinyint"))
        .unionByName(_typed(spark, [B], INFERRED)),
    ).save(path, partition_by_predicate=True, buckets=8)
    return TripleStore.load(spark, path)


A = (Term.iri(EX + "a"), Term.iri(EX + "p"), Term.iri(EX + "x"), None)
B = (Term.iri(EX + "b"), Term.iri(EX + "p"), Term.iri(EX + "y"), None)
C = (Term.iri(EX + "c"), Term.iri(EX + "p"), Term.iri(EX + "z"), None)


def _k(t):
    return (t[0].lex, t[1].lex, t[2].lex)


def test_explicit_reinsert_upgrades_inferred(spark, saved):
    # base row b is inferred: an explicit insert upgrades it
    st = saved.add(_typed(spark, [B], EXPLICIT))
    assert _types(st)[_k(B)] == EXPLICIT
    # delta row c is inferred: a later explicit insert upgrades it
    st = st.add(_typed(spark, [C], INFERRED))
    assert _types(st)[_k(C)] == INFERRED
    st = st.add(_frame(spark, [C]))  # no inferred column = explicit
    assert _types(st)[_k(C)] == EXPLICIT


def test_inferred_insert_never_downgrades_explicit(spark, saved):
    # base row a is explicit
    st = saved.add(_typed(spark, [A], INFERRED))
    assert _types(st)[_k(A)] == EXPLICIT
    # delta row c is explicit; an axiom insert in the SAME frame as an
    # inferred one resolves to the strongest of the three
    st = st.add(_frame(spark, [C]))
    st = st.add(_typed(spark, [C], AXIOM).unionByName(_typed(spark, [C], INFERRED)))
    assert _types(st)[_k(C)] == EXPLICIT
    # an inferred insert over an axiom upgrades it to inferred
    st = st.add(_typed(spark, [(C[0], C[1], Term.iri(EX + "w"), None)], AXIOM))
    st = st.add(_typed(spark, [(C[0], C[1], Term.iri(EX + "w"), None)], INFERRED))
    assert _types(st)[(C[0].lex, C[1].lex, EX + "w")] == INFERRED
    assert _types(st)[_k(B)] == INFERRED  # untouched rows keep theirs


def test_remove_then_add_revives(spark, saved):
    # across commits: base row, delta row
    st = saved.remove(_frame(spark, [A])).add(_frame(spark, [C]))
    assert _k(A) not in _types(st)
    st = st.add(_frame(spark, [A])).remove(_frame(spark, [C]))
    assert _k(A) in _types(st) and _k(C) not in _types(st)
    st = st.add(_frame(spark, [C]))
    assert {_k(A), _k(C), _k(B)} == set(_types(st))
    # within ONE commit: removes land first, so the add revives, and a
    # removed inferred row comes back with the inserted type only
    st = saved.apply(added=_typed(spark, [B], AXIOM), removed=_frame(spark, [B]))
    assert _types(st)[_k(B)] == AXIOM
    st = st.apply(added=_frame(spark, [A]), removed=_frame(spark, [A]))
    assert _types(st)[_k(A)] == EXPLICIT and len(_types(st)) == 2


def test_engine_delta_crossing_rebuild_bound_keeps_answers(spark, tmp_path):
    """A small base whose delta crosses the rebuild bound exactly once:
    every layout matches the set model before and after the rebuild,
    and the rebuilt base carries the delta's rows."""
    from database_spark.sparql.engine import SparqlEngine

    path = str(tmp_path / "small")
    base = [
        (Term.iri(EX + f"s{i}"), Term.iri(EX + f"p{i % 3}"), Term.integer(i))
        for i in range(16)
    ]
    TripleStore.from_python_triples(spark, base).save(
        path, partition_by_predicate=True, buckets=4
    )
    eng = SparqlEngine(TripleStore.load(spark, path))
    model = {(s.lex, p.lex, o.lex, o.dt or "", "") for s, p, o in base}
    bases = [eng.store._base()]
    rng = random.Random(3)
    # 16 × 1/8 = 2: the third delta row crosses the bound
    for i in range(5):
        s, k = f"s{rng.randrange(16)}", f"n{i}"
        if i == 3:  # a delete of a base row
            eng.update(f'DELETE DATA {{ <{EX}s0> <{EX}p0> 0 }}')
            model.discard((EX + "s0", EX + "p0", "0", T.XSD_INTEGER, ""))
        else:
            eng.update(f'INSERT DATA {{ <{EX}{s}> <{EX}{k}> {100 + i} }}')
            model.add((EX + s, EX + k, str(100 + i), T.XSD_INTEGER, ""))
        if eng.store._base() is not bases[-1]:
            bases.append(eng.store._base())
        want = sorted(model)
        assert _bag(eng.store.df) == want
        assert _bag(eng.store.s_df) == want and _bag(eng.store.o_df) == want
        s_rows = eng.select(f"SELECT ?p ?o WHERE {{ <{EX}{s}> ?p ?o }}").df.count()
        assert s_rows == sum(1 for m in model if m[0] == EX + s)
    assert len(bases) == 2, "the delta must cross the rebuild bound exactly once"
    assert eng.store._base().snaps and eng.store.delta_rows <= 2


def test_delta_over_broadcast_bound_is_not_broadcast(spark, tmp_path, monkeypatch):
    """Delta keys are broadcast to the layout scans only while the
    delta holds at most ``BROADCAST_ROWS`` rows.  A bulk
    ``insert_dataframe`` past that bound leaves the anti-join to
    Spark's planner, so no write can force an unbounded collect onto
    the driver.  Spark's own size-based broadcast is switched off for
    the plan checks, so a BroadcastExchange can only come from the
    store's hint.  Every layout, a bound-subject SELECT and the base
    rebuild keep the set model's answers."""
    from database_spark.sparql.engine import SparqlEngine

    monkeypatch.setattr(TripleStore, "BROADCAST_ROWS", 4)
    path = str(tmp_path / "bulk")
    base = [
        (Term.iri(EX + f"s{i % 8}"), Term.iri(EX + f"p{i % 3}"), Term.integer(i))
        for i in range(64)
    ]
    TripleStore.from_python_triples(spark, base).save(
        path, partition_by_predicate=True, buckets=4
    )
    eng = SparqlEngine(TripleStore.load(spark, path))
    base0 = eng.store
    model = {(s.lex, p.lex, o.lex, o.dt or "", "") for s, p, o in base}

    def insert(rows):
        eng.insert_dataframe(T.terms_df(spark, rows, ["st", "pt", "ot"]))
        model.update((s.lex, p.lex, o.lex, o.dt or "", "") for s, p, o in rows)

    def broadcasts():
        q = f"SELECT ?p ?o WHERE {{ <{EX}s1> ?p ?o }}"
        frames = [eng.store.df, eng.store.s_df, eng.store.o_df, eng.select(q).df]
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            return [
                f._jdf.queryExecution().executedPlan().toString().count("BroadcastExchange")
                for f in frames
            ]
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    def check():
        want = sorted(model)
        assert _bag(eng.store.df) == want
        assert _bag(eng.store.s_df) == want and _bag(eng.store.o_df) == want
        got = eng.select(f"SELECT ?p ?o WHERE {{ <{EX}s1> ?p ?o }}").df.count()
        assert got == sum(1 for m in model if m[0] == EX + "s1")

    def bulk(lo, hi):
        return [
            (Term.iri(EX + f"s{i % 4}"), Term.iri(EX + "bulk"), Term.integer(i))
            for i in range(lo, hi)
        ]

    insert(bulk(1000, 1002))  # 2 delta rows: keys broadcast
    assert eng.store.delta_rows == 2 and all(n > 0 for n in broadcasts())
    check()
    insert(bulk(1002, 1007))  # 7 > BROADCAST_ROWS, under the 64/8 rebuild bound
    assert eng.store._base() is base0 and eng.store.delta_rows == 7
    assert broadcasts() == [0, 0, 0, 0]
    check()
    insert(bulk(1007, 1010))  # 10 > 8: the commit rebuilds the base
    assert eng.store._base() is not base0 and eng.store.delta is None
    check()


def test_store_writes_outside_an_engine_protect_nothing(spark):
    """``TripleStore.add``/``remove``/``rebuilt`` leave unprotected
    checkpoints (they live as long as the frames that read them); only
    an engine protects the snapshots it rotates."""
    from database_spark.operators import lifecycle as L
    from database_spark.sparql.engine import SparqlEngine

    rng = random.Random(5)
    uni = _universe(rng, 12)
    before = (set(L._PROTECTED), set(L._PROTECTED_FILES))
    st = TripleStore.from_python_triples(spark, uni[:8])
    st = st.add(_frame(spark, uni[8:])).remove(_frame(spark, uni[:2]))
    rebuilt = st.rebuilt()
    assert (set(L._PROTECTED), set(L._PROTECTED_FILES)) == before
    assert _bag(rebuilt.df) == _bag(st.df)
    eng = SparqlEngine(st)
    eng.insert_dataframe(_frame(spark, uni[:2]))  # crosses the rebuild bound
    assert eng.store.snaps
    for snap in eng.store.snaps:
        owned = getattr(snap, L._ATTR, set()) | getattr(snap, L._FATTR, set())
        assert owned and owned <= (L._PROTECTED | L._PROTECTED_FILES)
