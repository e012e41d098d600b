"""Read-only transactions — REST surface and MVCC snapshot pinning.

Reference: ``bigdata-core/bigdata-sails/.../webapp/TxServlet.java``
(CREATE-TX / LIST-TX / STATUS-TX / PREPARE / COMMIT / ABORT over
``/tx``) and the ``&timestamp=txId`` isolated-read parameter on the
query endpoint.  Spark-first: a tx pins the immutable store DataFrame
current at begin time — snapshot isolation costs nothing — and the
engine's lineage-compaction lifecycle defers freeing any snapshot a
live tx still reads on.
"""

import re
import urllib.error
import urllib.parse
import urllib.request

import pytest

from database_spark.server import SparqlEndpoint
from database_spark.sparql.engine import SparqlEngine
from database_spark.store import TripleStore
from database_spark.terms import Term

EX = "http://example.org/"


def _req(url, method="GET", data=None, headers=None):
    req = urllib.request.Request(
        url, method=method, data=data, headers=headers or {}
    )
    with urllib.request.urlopen(req) as r:
        return r.status, dict(r.headers), r.read().decode()


def _count(ep_url, extra=None):
    q = "SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o }"
    params = {"query": q, **(extra or {})}
    _, _, body = _req(
        ep_url + "?" + urllib.parse.urlencode(params),
        headers={"Accept": "text/csv"},
    )
    return int(body.strip().splitlines()[-1])


@pytest.fixture()
def endpoint(spark):
    trips = [
        (
            Term.iri(EX + f"s{i}"),
            Term.iri(EX + "p"),
            Term.literal(str(i)),
        )
        for i in range(3)
    ]
    eng = SparqlEngine(TripleStore.from_python_triples(spark, trips))
    ep = SparqlEndpoint(eng).start()
    yield ep
    ep.stop()


def _base(ep):
    return ep.url.rsplit("/", 1)[0]


def test_tx_isolated_read_over_http(endpoint):
    # CREATE-TX: 201 + Location + response/tx envelope
    status, headers, body = _req(_base(endpoint) + "/tx", method="POST")
    assert status == 201
    m = re.search(r'txId="(\d+)"', body)
    assert m and "readOnly=\"true\"" in body
    txid = m.group(1)
    assert headers.get("Location", "").endswith(f"/tx/{txid}")

    assert _count(endpoint.url) == 3
    # mutate AFTER the tx began
    upd = f'INSERT DATA {{ <{EX}new> <{EX}p> "x" }}'
    _req(
        endpoint.url,
        method="POST",
        data=urllib.parse.urlencode({"update": upd}).encode(),
        headers={"Content-Type": "application/x-www-form-urlencoded"},
    )
    # unisolated view sees the insert; the tx does not
    assert _count(endpoint.url) == 4
    assert _count(endpoint.url, {"timestamp": txid}) == 3

    # STATUS-TX and LIST-TX show it
    status, _, body = _req(_base(endpoint) + f"/tx/{txid}")
    assert status == 200 and f'txId="{txid}"' in body
    status, _, body = _req(_base(endpoint) + "/tx")
    assert status == 200 and f'txId="{txid}"' in body

    # PREPARE validates, COMMIT ends it
    status, _, _ = _req(
        _base(endpoint) + f"/tx/{txid}?PREPARE", method="POST"
    )
    assert status == 200
    status, _, _ = _req(
        _base(endpoint) + f"/tx/{txid}?COMMIT", method="POST"
    )
    assert status == 200
    # ended tx: STATUS 404, isolated read 404
    with pytest.raises(urllib.error.HTTPError) as e:
        _req(_base(endpoint) + f"/tx/{txid}")
    assert e.value.code == 404
    with pytest.raises(urllib.error.HTTPError) as e:
        _count(endpoint.url, {"timestamp": txid})
    assert e.value.code == 404


def test_tx_update_rejected_and_abort(endpoint):
    _, _, body = _req(_base(endpoint) + "/tx", method="POST")
    txid = re.search(r'txId="(\d+)"', body).group(1)
    # SPARQL UPDATE inside a read-only tx must be refused
    with pytest.raises(urllib.error.HTTPError) as e:
        _req(
            endpoint.url,
            method="POST",
            data=urllib.parse.urlencode(
                {
                    "update": f'INSERT DATA {{ <{EX}z> <{EX}p> "z" }}',
                    "timestamp": txid,
                }
            ).encode(),
            headers={"Content-Type": "application/x-www-form-urlencoded"},
        )
    assert e.value.code == 400
    status, _, _ = _req(
        _base(endpoint) + f"/tx/{txid}?ABORT", method="POST"
    )
    assert status == 200
    with pytest.raises(urllib.error.HTTPError) as e:
        _req(_base(endpoint) + f"/tx/{txid}?ABORT", method="POST")
    assert e.value.code == 404


def test_tx_unknown_and_bad_id(endpoint):
    with pytest.raises(urllib.error.HTTPError) as e:
        _req(_base(endpoint) + "/tx/999")
    assert e.value.code == 404
    with pytest.raises(urllib.error.HTTPError) as e:
        _req(_base(endpoint) + "/tx/xyz")
    assert e.value.code == 400


def test_tx_survives_compaction(spark):
    """The scale-critical path: a commit must NOT free a snapshot a
    live tx reads on (freeing a localCheckpoint a dependent DataFrame
    needs raises CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on the next read).
    Sequence: commits over a one-statement base (each one outgrows the
    base, so each rebuilds it) leave snapshot set A; a tx begins (pins
    A); further commits retire A — its free is deferred — then the tx
    must still answer, and ending the tx releases A."""
    eng = SparqlEngine(
        TripleStore.from_python_triples(
            spark,
            [(Term.iri(EX + "s"), Term.iri(EX + "p"), Term.literal("0"))],
        )
    )
    every = 4
    for i in range(every):
        eng.update(f'INSERT DATA {{ <{EX}a{i}> <{EX}p> "{i}" }}')
    snaps_a = eng.store.snaps
    assert snaps_a

    txid = eng.begin_read_tx()
    n_at_tx = eng.tx_view(txid).select(
        "SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o }"
    ).df.count()

    for i in range(every):  # retire A; the free is deferred
        eng.update(f'INSERT DATA {{ <{EX}b{i}> <{EX}p> "{i}" }}')
    assert not any(s in eng.store.snaps for s in snaps_a)
    assert all(id(s) in eng._deferred_snaps for s in snaps_a)

    # the pinned view still evaluates (blocks for A alive) and is
    # isolated from the later inserts
    res = eng.tx_view(txid).select(
        "SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o }"
    )
    assert res.df.count() == n_at_tx
    view = eng.tx_view(txid)
    rows_before = [r["n"].lex for r in res.df.collect()]
    assert rows_before == [str(1 + every)]

    with pytest.raises(PermissionError):
        view.update(f'INSERT DATA {{ <{EX}x> <{EX}p> "x" }}')

    eng.end_tx(txid)
    assert not any(id(s) in eng._deferred_snaps for s in snaps_a)
    # unisolated engine unaffected
    n = [
        r["n"].lex
        for r in eng.select(
            "SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o }"
        ).df.collect()
    ]
    assert n == [str(1 + 2 * every)]


def test_read_write_tx_http(endpoint):
    """CREATE-TX?timestamp=0 (ITx.UNISOLATED) opens a WRITABLE tx:
    updates stage against the pinned snapshot (invisible to the
    unisolated view), COMMIT publishes them as one commit."""
    status, _, body = _req(
        _base(endpoint) + "/tx?timestamp=0", method="POST"
    )
    assert status == 201 and 'readOnly="false"' in body
    txid = re.search(r'txId="(\d+)"', body).group(1)

    n0 = _count(endpoint.url)
    upd = f'INSERT DATA {{ <{EX}staged> <{EX}p> "s" }} ; ' \
          f'INSERT DATA {{ <{EX}staged2> <{EX}p> "s2" }}'
    _req(
        endpoint.url,
        method="POST",
        data=urllib.parse.urlencode({"update": upd, "timestamp": txid}).encode(),
        headers={"Content-Type": "application/x-www-form-urlencoded"},
    )
    # staged: visible inside the tx, invisible outside
    assert _count(endpoint.url) == n0
    assert _count(endpoint.url, {"timestamp": txid}) == n0 + 2

    status, _, _ = _req(
        _base(endpoint) + f"/tx/{txid}?COMMIT", method="POST"
    )
    assert status == 200
    assert _count(endpoint.url) == n0 + 2


def test_read_write_tx_conflict_and_abort(endpoint):
    """Coarse OCC: a commit that lands after the tx began fails the
    tx's COMMIT with 409 and the staged writes are discarded; ABORT
    discards without publishing."""
    # conflict case
    _, _, body = _req(_base(endpoint) + "/tx?timestamp=0", method="POST")
    txid = re.search(r'txId="(\d+)"', body).group(1)
    _req(
        endpoint.url,
        method="POST",
        data=urllib.parse.urlencode(
            {"update": f'INSERT DATA {{ <{EX}mine> <{EX}p> "m" }}',
             "timestamp": txid}
        ).encode(),
        headers={"Content-Type": "application/x-www-form-urlencoded"},
    )
    # concurrent unisolated commit → the tx must now fail validation
    _req(
        endpoint.url,
        method="POST",
        data=urllib.parse.urlencode(
            {"update": f'INSERT DATA {{ <{EX}intruder> <{EX}p> "i" }}'}
        ).encode(),
        headers={"Content-Type": "application/x-www-form-urlencoded"},
    )
    n_before = _count(endpoint.url)
    with pytest.raises(urllib.error.HTTPError) as e:
        _req(_base(endpoint) + f"/tx/{txid}?COMMIT", method="POST")
    assert e.value.code == 409
    assert _count(endpoint.url) == n_before  # staged writes discarded

    # abort case
    _, _, body = _req(_base(endpoint) + "/tx?timestamp=0", method="POST")
    txid = re.search(r'txId="(\d+)"', body).group(1)
    _req(
        endpoint.url,
        method="POST",
        data=urllib.parse.urlencode(
            {"update": f'INSERT DATA {{ <{EX}aborted> <{EX}p> "a" }}',
             "timestamp": txid}
        ).encode(),
        headers={"Content-Type": "application/x-www-form-urlencoded"},
    )
    status, _, _ = _req(_base(endpoint) + f"/tx/{txid}?ABORT", method="POST")
    assert status == 200
    assert _count(endpoint.url) == n_before
