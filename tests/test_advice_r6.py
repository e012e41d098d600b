"""Regression tests for the round-6 advice findings + the round-6
verdict's cross-process journal ask:

- engine tx bookkeeping serialized (begin/end tx atomic vs compaction,
  no duplicate txids under concurrency)
- status page escapes client-supplied queryId / namespace (XSS)
- running-query registry keyed by server-minted ids (duplicate client
  queryIds don't clobber each other)
- journal pointer kinds map pruned at full materializations (bounded
  metadata), historical opens resolve pruned versions by fs probe
- Transaction.commit keeps staging on CommitConflict (delta not lost)
- cross-process journal commit lock: two concurrent racers, exactly
  one wins, the loser gets CommitConflict and never clobbers data
"""

import threading

import pytest

from database_spark.journal import CommitConflict, Journal
from database_spark.server import SparqlEndpoint
from database_spark.sparql.engine import SparqlEngine
from database_spark.store import TripleStore
from database_spark.terms import Term

EX = "http://example.org/"


def _engine(spark, n=3):
    trips = [
        (Term.iri(EX + f"s{i}"), Term.iri(EX + "p"), Term.literal(str(i)))
        for i in range(n)
    ]
    return SparqlEngine(TripleStore.from_python_triples(spark, trips))


@pytest.fixture()
def journal(spark, tmp_path):
    return Journal(spark, str(tmp_path / "journal"))


def _names(spark_or_journal, store):
    res = SparqlEngine(store).select(
        f"PREFIX ex: <{EX}> SELECT ?n WHERE {{ ?s ex:name ?n }} ORDER BY ?n"
    )
    return [r["n"]["lex"] for r in res.df.collect()]


# ------------------------------------------------------------ engine tx


def test_txids_unique_under_concurrency(spark):
    """begin_read_tx/end_tx from many threads never mint duplicate
    txids (the unlocked ``self._tx_next += 1`` could)."""
    eng = _engine(spark, 0)
    ids, lock = [], threading.Lock()
    errors = []

    def worker():
        try:
            for _ in range(25):
                txid = eng.begin_read_tx()
                with lock:
                    ids.append(txid)
                eng.end_tx(txid)
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=worker) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert len(ids) == 200 and len(set(ids)) == 200


def test_tx_registration_atomic_with_compaction(spark):
    """Readers opening transactions while a writer's commits rotate
    the store's delta and base snapshots: every tx view must stay
    queryable (its pinned snapshots must not be freed between store
    read and registration)."""
    eng = _engine(spark, 1)
    errors = []
    stop = threading.Event()

    def reader():
        try:
            while not stop.is_set():
                txid = eng.begin_read_tx()
                view = eng.tx_view(txid)
                view.select("SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o }")
                eng.end_tx(txid)
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=reader) for _ in range(3)]
    for t in threads:
        t.start()
    # drive enough commits to cross several compaction boundaries
    for i in range(12):
        eng.update(
            f'PREFIX ex: <{EX}> INSERT DATA {{ ex:w{i} ex:name "w{i}" }}'
        )
    stop.set()
    for t in threads:
        t.join()
    assert not errors


# --------------------------------------------------------- status page


def test_status_page_escapes_client_values(spark):
    ep = SparqlEndpoint(_engine(spark))
    evil_qid = '<script>alert(1)</script>'
    evil_ns = '"><img src=x onerror=alert(2)>'
    with ep._track_query("SELECT 1 WHERE {}", qid=evil_qid, namespace=evil_ns):
        html = ep.status_html({"showQueries": ""})
    assert "<script>" not in html
    assert "<img" not in html
    assert "&lt;script&gt;" in html


def test_duplicate_client_query_ids_tracked_independently(spark):
    ep = SparqlEndpoint(_engine(spark))
    with ep._track_query("SELECT 1 WHERE {}", qid="dup") as k1:
        with ep._track_query("SELECT 2 WHERE {}", qid="dup") as k2:
            assert k1 != k2
            assert len(ep._running) == 2
            # cancel by the client-visible id matches BOTH entries
            assert ep.cancel_queries(["dup"]) == ["dup"]
        # the inner query finishing must not pop the outer's entry
        assert k1 in ep._running and k2 not in ep._running
        assert ep._running[k1]["queryId"] == "dup"
    assert not ep._running


# -------------------------------------------------------------- journal


def test_pointer_kinds_pruned_at_full_materialization(journal):
    for i in range(10):
        tx = journal.begin()
        tx.update(
            f'PREFIX ex: <{EX}> INSERT DATA {{ ex:s{i} ex:name "n{i}" }}'
        )
        tx.commit()
    assert journal.head() == 10
    kinds = journal._meta()["kinds"]
    # v8 was the full materialization: everything below it is pruned
    assert kinds.get("8") == "full"
    assert all(int(v) >= 8 for v in kinds)
    # head reconstruction unaffected
    assert len(_names(journal, journal.open())) == 10
    # historical open of a PRUNED delta version resolves via fs probe
    assert len(_names(journal, journal.open(3))) == 3


def test_conflict_keeps_staging_for_retry(journal):
    t0 = journal.begin()
    t0.update(f'PREFIX ex: <{EX}> INSERT DATA {{ ex:a ex:name "A" }}')
    t0.commit()

    t1 = journal.begin()
    t2 = journal.begin()
    t1.update(f'PREFIX ex: <{EX}> INSERT DATA {{ ex:b ex:name "B" }}')
    t2.update(f'PREFIX ex: <{EX}> INSERT DATA {{ ex:c ex:name "C" }}')
    t1.commit()
    with pytest.raises(CommitConflict):
        t2.commit()
    # the staged delta survives the conflict — not silently lost
    assert t2._changesets
    # a second attempt still raises (OCC) instead of committing nothing
    with pytest.raises(CommitConflict):
        t2.commit()
    assert t2._changesets
    t2.rollback()
    assert not t2._changesets


def test_cross_process_commit_lock_one_winner(spark, tmp_path):
    """Two racers on SEPARATE Journal instances over the same path
    (the multi-process shape: no shared engine lock), staged before a
    barrier, committing concurrently: exactly one advances the head,
    the loser gets CommitConflict, and the winner's data is intact."""
    path = str(tmp_path / "journal")
    j0 = Journal(spark, path)
    t0 = j0.begin()
    t0.update(f'PREFIX ex: <{EX}> INSERT DATA {{ ex:a ex:name "A" }}')
    t0.commit()

    barrier = threading.Barrier(2)
    results = {}

    def racer(name):
        j = Journal(spark, path)
        tx = j.begin()
        tx.update(
            f'PREFIX ex: <{EX}> INSERT DATA {{ ex:{name} ex:name "{name}" }}'
        )
        barrier.wait()
        try:
            results[name] = ("ok", tx.commit())
        except CommitConflict:
            results[name] = ("conflict", None)

    threads = [
        threading.Thread(target=racer, args=(n,)) for n in ("r1", "r2")
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    outcomes = sorted(o for o, _ in results.values())
    assert outcomes == ["conflict", "ok"]
    assert j0.head() == 2
    winner = next(n for n, (o, _) in results.items() if o == "ok")
    assert _names(j0, j0.open()) == ["A", winner]
    # the kernel lock is released after the race: a fresh commit
    # acquires it immediately (the flock FILE itself persists)
    t3 = j0.begin()
    t3.update(f'PREFIX ex: <{EX}> INSERT DATA {{ ex:post ex:name "post" }}')
    assert t3.commit() == 3
