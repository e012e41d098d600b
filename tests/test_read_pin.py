"""Read-side snapshot pinning (found by the r8 concurrency soak):
a reader whose plan references store snapshot S (the delta a commit
folded, or a rebuilt base) must survive a concurrent writer retiring S
through later commits and base rebuilds — without the pin, the commit
frees S's checkpoint blocks and the reader's job dies with
CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND."""

from database_spark.sparql.engine import SparqlEngine
from database_spark.store import TripleStore
from database_spark.terms import Term

EX = "http://example.org/"
COUNT = "SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o }"
#: base size: the delta is rebuilt into the base past 40/8 = 5 rows,
#: so 8 single-insert commits rotate the delta AND rebuild the base
BASE = 40


def _engine(spark):
    return SparqlEngine(
        TripleStore.from_python_triples(
            spark,
            [
                (Term.iri(f"{EX}b{i}"), Term.iri(EX + "p"), Term.literal(str(i)))
                for i in range(BASE)
            ],
        )
    )


def _commit_n(eng, n, tag):
    for i in range(n):
        eng.update(f'INSERT DATA {{ <{EX}{tag}{i}> <{EX}p> "{i}" }}')


def _count(df):
    return int(df.collect()[0][0]["lex"])


def _freed(snap):
    """True once a snapshot's checkpoint blocks/files were released."""
    return not (
        getattr(snap, "_dbspark_ckpt_ids", None)
        or getattr(snap, "_dbspark_ckpt_files", None)
    )


def test_pinned_read_survives_compactions(spark):
    eng = _engine(spark)
    _commit_n(eng, 1, "seed")
    snaps = eng.store.snaps
    assert snaps and snaps[-1] is eng.store.delta
    base0 = eng.store._base()
    with eng.read_pin():
        df = eng.select(COUNT).df
        # commits rotate the delta and cross the rebuild bound while
        # the read is in flight
        _commit_n(eng, 8, "mid")
        assert eng.store._base() is not base0 and eng.store._base().snaps, "no rebuild"
        # the old delta was DEFERRED, not freed — the read still works
        assert all(id(s) in eng._deferred_snaps and not _freed(s) for s in snaps)
        assert _count(df) == BASE + 1
    # pin released → deferred snapshots freed
    assert all(id(s) not in eng._deferred_snaps and _freed(s) for s in snaps)
    assert not eng._read_pins
    assert _count(eng.select(COUNT).df) == BASE + 9


def test_tx_view_pin_defers_snapshot_after_commit_ends_tx(spark):
    """A &timestamp= reader streaming on a tx view keeps the tx's
    snapshots alive even if the tx is ENDED mid-read: the view's pin
    targets the owner engine's registry."""
    eng = _engine(spark)
    _commit_n(eng, 1, "seed")
    txid = eng.begin_read_tx()
    view = eng.tx_view(txid)
    snaps = eng._tx[txid]["snaps"]
    assert snaps
    with view.read_pin():
        # the tx ends and enough commits land to retire its snapshots
        eng.end_tx(txid)
        _commit_n(eng, 8, "mid")
        # still deferred because the read pin holds them
        assert all(id(s) in eng._deferred_snaps for s in snaps)
        assert all(id(s) in eng._read_pins for s in snaps)
        # the view still reads its frozen commit point
        assert _count(view.select(COUNT).df) == BASE + 1
    assert not eng._read_pins
    assert all(_freed(s) for s in snaps)


def test_active_read_protects_later_snapshots(spark):
    """A pinned reader's LATER queries root at whatever snapshot is
    current when they compile — so while any unisolated read is in
    flight, NO snapshot may be freed, not just the one captured at pin
    time (r8 advice: the pin must not leave a window where a snapshot
    the reader's plan references is freed mid-stream)."""
    eng = _engine(spark)
    _commit_n(eng, 1, "seed")
    with eng.read_pin():
        # a commit lands mid-read; the NEXT query roots at its delta
        _commit_n(eng, 1, "mid1")
        snap2 = eng.store.delta
        df = eng.select(COUNT).df
        # later commits retire snap2 — it is NOT pinned by this reader,
        # but the active read must defer its free anyway
        _commit_n(eng, 8, "mid2")
        assert eng.store.delta is not snap2
        assert id(snap2) in eng._deferred_snaps
        assert _count(df) == BASE + 2  # would die if snap2 were freed
    # last pin exit sweeps every deferred snapshot
    assert not eng._deferred_snaps and eng._active_reads == 0
    assert _freed(snap2)


def test_nested_and_concurrent_pins_refcount(spark):
    eng = _engine(spark)
    _commit_n(eng, 1, "seed")
    snap = eng.store.delta
    with eng.read_pin():
        with eng.read_pin():
            assert eng._read_pins[id(snap)][1] == 2
        assert eng._read_pins[id(snap)][1] == 1
        # one commit retires the delta, the next releases it: deferred
        _commit_n(eng, 2, "mid")
        assert id(snap) in eng._deferred_snaps
    assert id(snap) not in eng._deferred_snaps and _freed(snap)


def test_unpinned_snapshot_freed_one_commit_after_retirement(spark):
    """Without readers a retired delta is released by the NEXT commit
    (a changeset delivered lazily may read it until then), and a
    rebuild retires the base snapshot the same way."""
    eng = _engine(spark)
    _commit_n(eng, 1, "a")
    d1 = eng.store.delta
    _commit_n(eng, 1, "x")  # retires d1
    assert not _freed(d1)
    _commit_n(eng, 1, "c")  # releases d1
    assert _freed(d1) and not eng._deferred_snaps
    _commit_n(eng, 8, "d")
    rebuilt = eng.store._base().snaps[0]
    _commit_n(eng, 8, "e")  # the next rebuild retires that base
    assert eng.store._base().snaps[0] is not rebuilt and _freed(rebuilt)
    assert _count(eng.select(COUNT).df) == BASE + 19


def test_concurrent_checkpoint_ownership_disjoint(spark):
    """lifecycle.checkpoint attributes created RDD ids by a
    before/after diff; under concurrency that window must be
    serialized or one thread's free() unpersists another thread's
    (even protected) snapshot — the root cause behind the soak's
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND cascade."""
    import threading

    from database_spark.operators import lifecycle as L

    owned: dict = {}
    errs: list = []

    def worker(tag):
        try:
            dfs = []
            for i in range(6):
                df = L.checkpoint(
                    spark.range(200).selectExpr(f"id + {i} as v")
                )
                dfs.append(df)
            owned[tag] = set().union(
                *[getattr(d, "_dbspark_ckpt_ids") for d in dfs]
            )
            for d in dfs:
                assert d.count() == 200  # own blocks are alive
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    ts = [threading.Thread(target=worker, args=(i,)) for i in range(4)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    tags = list(owned)
    for a in range(len(tags)):
        for b in range(a + 1, len(tags)):
            assert not (owned[tags[a]] & owned[tags[b]]), (
                "ownership sets overlap: a free() would kill a "
                "sibling's checkpoint"
            )


def test_free_never_touches_protected_ids(spark):
    from database_spark.operators import lifecycle as L

    snap = L.protected_checkpoint(spark.range(100).selectExpr("id as v"))
    # pollute another frame's ownership set with the protected id
    victim = L.checkpoint(spark.range(50).selectExpr("id as w"))
    getattr(victim, "_dbspark_ckpt_ids").update(
        getattr(snap, "_dbspark_ckpt_ids")
    )
    L.free(victim)
    assert snap.count() == 100  # protected blocks survived the bad free
    L.unprotect_and_free(snap)  # proper rotation still frees them
