"""Minimal SPARQL 1.1 Protocol endpoint over a :class:`SparqlEngine`.

Reference: the NanoSparqlServer servlet stack —
``SAILS/webapp/QueryServlet.java:122-265`` (query dispatch + content
negotiation), ``UpdateServlet`` (SPARQL UPDATE via POST), and
``RESTServlet`` routing.  This module re-expresses the PROTOCOL
surface only (the semantics all live in the engine); it is stdlib
``http.server`` based so it carries no dependencies, and it is meant
for driver-side serving of an interactive endpoint — at scale you
would put any HTTP fleet in front of the same engine object since
queries are stateless.

Supported, mirroring the reference's servlet API:

* ``GET /sparql?query=...`` and ``POST /sparql`` with either an
  ``application/x-www-form-urlencoded`` ``query=`` / ``update=`` body
  or a raw ``application/sparql-query`` / ``application/sparql-update``
  body.
* Content negotiation for SELECT/ASK results: JSON (default), XML,
  CSV, TSV; CONSTRUCT/DESCRIBE always stream N-Triples.
* ``?query=`` errors return 400 with the parser/compiler message —
  same contract as the reference's BigdataRDFServlet error path.
"""

from __future__ import annotations

import collections
import contextlib
import hashlib
import json
import threading
import time
import urllib.parse
import uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from .workbench import WORKBENCH_HTML, WORKBENCH_PATHS

RESULT_MEDIA = {
    "application/sparql-results+json": "json",
    "application/json": "json",
    "application/sparql-results+xml": "xml",
    "text/csv": "csv",
    "text/tab-separated-values": "tsv",
    # a browser hitting the endpoint directly gets a readable table
    # (the reference ships result-to-html.xsl for the same purpose)
    "text/html": "html",
}

CONTENT_TYPES = {
    "json": "application/sparql-results+json",
    "xml": "application/sparql-results+xml",
    "csv": "text/csv",
    "tsv": "text/tab-separated-values",
    "html": "text/html",
}


class InvalidNamespaceName(ValueError):
    """Malformed namespace name — a 400-class client error, distinct
    from the 409 'already exists' conflict (MultiTenancyServlet)."""


def _negotiate(accept: str) -> str:
    for part in (accept or "").split(","):
        fmt = RESULT_MEDIA.get(part.split(";")[0].strip().lower())
        if fmt:
            return fmt
    return "json"


def _primed(chunks, n: int = 2):
    """Materialize the first ``n`` chunks of a lazy writer eagerly (the
    first is usually a static header; the second pulls the first row
    from ``toLocalIterator``, i.e. actually runs the query), so
    execution errors surface before any HTTP status line is sent.  The
    rest streams lazily — bounded driver memory."""
    import itertools

    it = iter(chunks)
    head = list(itertools.islice(it, n))
    return itertools.chain(head, it)


class SparqlEndpoint:
    """An HTTP endpoint bound to one engine instance.

    >>> ep = SparqlEndpoint(engine); ep.start()   # doctest: +SKIP
    ... requests.get(ep.url, params={"query": "SELECT ..."})
    """

    def __init__(
        self,
        engine,
        host: str = "127.0.0.1",
        port: int = 0,
        namespace: str = "kb",
    ):
        # multi-tenancy (MultiTenancyServlet.java): one engine per
        # namespace, all sharing the SparkSession; the ctor engine is
        # the default namespace ("kb", like the reference default)
        self.default_namespace = namespace
        self.engines = {namespace: engine}
        #: per-namespace java.util.Properties from CREATE, served back
        #: by GET /namespace/<ns>/properties (doShowProperties)
        self._namespace_props: dict = {
            namespace: {"com.bigdata.rdf.sail.namespace": namespace}
        }
        #: StatusServlet counters: every accepted query registers here
        #: (queryId → begun/sparql/namespace) for the lifetime of its
        #: evaluation; cancelQuery kills its Spark job group.
        self._running: dict = {}
        self._queries_accepted = 0
        #: CountersServlet tree inputs: lifetime done/error counts and
        #: accumulated wall-clock over all finished queries
        self._queries_done = 0
        self._queries_errored = 0
        self._query_millis = 0.0
        #: per-query cumulative wall counters (CountersServlet's
        #: queryEngine per-query view): keyed by a hash of the query
        #: TEXT (not the per-request uuid) so repeated submissions of
        #: the same query accumulate and ops can spot the hot ones.
        #: Bounded LRU — an endpoint serving unbounded DISTINCT query
        #: texts must not grow driver state without limit.
        self._per_query: "collections.OrderedDict" = collections.OrderedDict()
        #: counter updates are read-modify-write from concurrent
        #: handler threads — serialize so increments can't be lost
        self._counters_lock = threading.Lock()
        self._started_at = time.time()
        endpoint = self

        class Handler(BaseHTTPRequestHandler):
            # HTTP/1.1: keep-alive for string replies (Content-Length
            # always set) and Transfer-Encoding: chunked for streamed
            # bodies — a big SELECT/CONSTRUCT never materializes as one
            # driver-side string
            protocol_version = "HTTP/1.1"

            def log_message(self, *a):  # quiet
                pass

            def handle_one_request(self):
                # keep-alive reuses the handler instance: the sent-flag
                # must reset per request or an error on request N+1
                # would be mistaken for a mid-stream failure
                self._headers_sent = False
                super().handle_one_request()

            def _reply(self, code: int, body, ctype: str):
                """Send a response.  ``body`` is a ``str`` (sized reply,
                Content-Length framing) or an ITERATOR of string chunks
                (chunked transfer — each chunk hits the wire as it
                leaves ``toLocalIterator``, bounded server memory).
                ``_headers_sent`` lets error paths know when it is too
                late to send a status line (mid-stream failures abort
                the connection, the only correct chunked behavior)."""
                if not isinstance(body, str) and self.request_version < "HTTP/1.1":
                    # an HTTP/1.0 client cannot parse chunked framing:
                    # buffer the stream into a sized reply (1.0 clients
                    # are rare enough that the memory trade is right)
                    body = "".join(body)
                if isinstance(body, str):
                    data = body.encode()
                    self.send_response(code)
                    self.send_header(
                        "Content-Type", ctype + "; charset=utf-8"
                    )
                    self.send_header("Content-Length", str(len(data)))
                    self._headers_sent = True
                    self.end_headers()
                    self.wfile.write(data)
                    return
                self.send_response(code)
                self.send_header("Content-Type", ctype + "; charset=utf-8")
                self.send_header("Transfer-Encoding", "chunked")
                self._headers_sent = True
                self.end_headers()
                for chunk in body:
                    data = chunk.encode()
                    if data:
                        self.wfile.write(
                            f"{len(data):x}\r\n".encode() + data + b"\r\n"
                        )
                self.wfile.write(b"0\r\n\r\n")

            def _route_engine(self):
                """/sparql → default ns; /namespace/<ns>/sparql → <ns>;
                returns None (and replies 404) for unknown namespaces."""
                parts = [
                    p
                    for p in urllib.parse.urlparse(self.path).path.split("/")
                    if p
                ]
                if len(parts) == 3 and parts[0] == "namespace" and parts[2] == "sparql":
                    eng = endpoint.engines.get(parts[1])
                    if eng is None:
                        self._reply(404, f"no such namespace {parts[1]}", "text/plain")
                    return eng
                return endpoint.engines[endpoint.default_namespace]

            def _run(self, params: dict, allow_update: bool = True, engine=None):
                accept = self.headers.get("Accept", "")
                if engine is None:
                    return
                if "timestamp" in params:
                    # isolated read (QueryServlet ``&timestamp=txId``):
                    # evaluate against the commit point the transaction
                    # pinned instead of the unisolated view.  Mutation
                    # params on the tx view raise PermissionError → 400.
                    try:
                        engine = engine.tx_view(int(params["timestamp"]))
                    except (KeyError, ValueError):
                        self._reply(
                            404,
                            f"Transaction not found: txId={params['timestamp']}",
                            "text/plain",
                        )
                        return
                # defined before the try so the except's 503-vs-400
                # dispatch can always read them
                timed_out: list = []
                deadline_ms = None
                # read_pin: the WHOLE request — compile, probes, and
                # the streamed reply (chunked responses execute Spark
                # jobs while sending) — pins the engine's store
                # snapshots so a concurrent writer's commit defers
                # freeing the blocks this request's jobs read (the
                # soak-test CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND race)
                _pin = contextlib.ExitStack()
                try:
                    _pin.enter_context(engine.read_pin())
                    # ---- REST probes (QueryServlet.java:122-265):
                    # ESTCARD (fast range count), HASSTMT (limit-1
                    # existence), CONTEXTS (distinct graphs).  All
                    # read-only, so legal on GET and POST.
                    if "ESTCARD" in params:
                        body = endpoint.estcard(params, engine)
                        self._reply(200, body, "application/xml")
                        return
                    if "HASSTMT" in params:
                        body = endpoint.hasstmt(params, engine)
                        self._reply(200, body, "application/xml")
                        return
                    if "CONTEXTS" in params:
                        body = endpoint.contexts(engine)
                        self._reply(200, body, "application/xml")
                        return
                    if "GETSTMTS" in params:
                        # doGetStmts: export the statements matching an
                        # (s,p,o,c) access path as an RDF document
                        body, ctype = endpoint.get_statements(
                            params, accept, engine
                        )
                        self._reply(200, body, ctype)
                        return
                    if "UUID" in params:
                        # doUUID: server-minted URN (reference mints
                        # uuids for clients that want server identity)
                        import uuid as _uuid

                        self._reply(200, f"urn:uuid:{_uuid.uuid4()}", "text/plain")
                        return
                    if "update" in params:
                        # SPARQL 1.1 Protocol §2.2: update is POST-only.
                        # A mutating GET would be cacheable/prefetchable
                        # and CSRF-able (reference: UpdateServlet only
                        # registers doPost).
                        if not allow_update:
                            self._reply(
                                405,
                                "SPARQL UPDATE requires POST",
                                "text/plain",
                            )
                            return
                        engine.update(params["update"])
                        self._reply(200, "", "text/plain")
                        return
                    query = params.get("query")
                    if not query:
                        if not params:
                            # GET with no parameters → SPARQL 1.1
                            # Service Description (QueryServlet
                            # doServiceDescription); pinned: the VoID
                            # statistics run jobs over the store frame
                            with endpoint.engine.read_pin():
                                sd = endpoint.service_description()
                            self._reply(200, sd, "text/turtle")
                            return
                        self._reply(
                            400, "missing query parameter", "text/plain"
                        )
                        return
                    if "explain" in params:
                        # QueryServlet.java:799-813 explainQuery: return
                        # the compiled plan + physical strategy instead
                        # of results (the first tool a user debugging a
                        # slow query reaches for)
                        body, ctype = endpoint.explain(query, engine)
                        self._reply(200, body, ctype)
                        return
                    if params.get("includeInferred", "").lower() == "false":
                        # reference API: evaluate against the EXPLICIT
                        # statements only (StatementEnum filter)
                        engine = endpoint._explicit_view(engine)
                    # ?format= overrides content negotiation (the
                    # workbench's format parameter)
                    accept = CONTENT_TYPES.get(
                        params.get("format", ""), accept
                    )
                    # result-set paging (SliceServiceFactory shape, as
                    # protocol params so the workbench can page without
                    # editing the query): ?limit= / ?offset=
                    limit = (
                        int(params["limit"]) if params.get("limit") else None
                    )
                    offset = (
                        int(params["offset"]) if params.get("offset") else None
                    )
                    # query deadline: ?timeout= (seconds) or the
                    # X-BIGDATA-MAX-QUERY-MILLIS header; past it the
                    # query's job group is cancelled → 503
                    if params.get("timeout"):
                        deadline_ms = float(params["timeout"]) * 1000
                    hdr = self.headers.get("X-BIGDATA-MAX-QUERY-MILLIS")
                    if hdr:
                        deadline_ms = float(hdr)
                    timer = None
                    with endpoint._track_query(
                        query, params.get("queryId"), self.path
                    ) as qid:
                        if deadline_ms is not None:

                            def _expire(q=qid):
                                timed_out.append(q)
                                endpoint._cancel_until_dead(q)

                            timer = threading.Timer(deadline_ms / 1000, _expire)
                            timer.daemon = True
                            timer.start()
                        try:
                            body, ctype = endpoint.evaluate(
                                query, accept, engine,
                                limit=limit, offset=offset,
                            )
                            # stream INSIDE the tracking scope: chunked
                            # replies execute Spark jobs while sending,
                            # so the job group / cancel sweep / status
                            # row must stay live until the last chunk
                            self._reply(200, body, ctype)
                        finally:
                            if timer is not None:
                                timer.cancel()
                    # the deadline exception propagates through
                    # _track_query (counting the query ERRORED, not
                    # done) and is turned into the 503 below
                except Exception as e:  # noqa: BLE001 — protocol error path
                    if getattr(self, "_headers_sent", False):
                        # mid-stream failure: the status line is gone;
                        # aborting the connection is the only honest
                        # signal chunked transfer has
                        self.close_connection = True
                        return
                    if timed_out:
                        self._reply(
                            503,
                            f"query deadline exceeded ({deadline_ms:.0f}ms)",
                            "text/plain",
                        )
                        return
                    self._reply(400, f"{type(e).__name__}: {e}", "text/plain")
                finally:
                    _pin.close()

            def _tx_route(self, parts):
                """``/tx[/<txid>]`` (optionally ``/namespace/<ns>/…``):
                returns (engine, txid|None) or None when not a tx path
                (replying 404 for an unknown namespace)."""
                if len(parts) >= 2 and parts[0] == "namespace":
                    eng = endpoint.engines.get(parts[1])
                    rest = parts[2:]
                else:
                    eng = endpoint.engines[endpoint.default_namespace]
                    rest = parts
                if not rest or rest[0] != "tx":
                    return None
                if eng is None:
                    self._reply(404, "no such namespace", "text/plain")
                    return None
                txid = None
                if len(rest) > 1:
                    try:
                        txid = int(rest[1])
                    except ValueError:
                        self._reply(400, f"bad txId: {rest[1]}", "text/plain")
                        return None
                return (eng, txid)

            def _status(self, multi: dict) -> None:
                """StatusServlet: ``cancelQuery&queryId=…`` (repeatable)
                kills those queries' Spark job groups; ``health`` is a
                JSON probe; otherwise the HTML status page."""
                if "cancelQuery" in multi:
                    endpoint.cancel_queries(multi.get("queryId", []))
                    flat = {k: v[0] for k, v in multi.items()}
                    self._reply(200, endpoint.status_html(flat), "text/html")
                    return
                if "health" in multi:
                    self._reply(200, endpoint.health_json(), "application/json")
                    return
                flat = {k: v[0] for k, v in multi.items()}
                self._reply(200, endpoint.status_html(flat), "text/html")

            def do_GET(self):
                u = urllib.parse.urlparse(self.path)
                parts = [p for p in u.path.split("/") if p]
                if "/".join(parts) in WORKBENCH_PATHS and not u.query:
                    # the workbench UI (reference: bigdata-war-html
                    # index.html via WorkbenchServlet) — what a human
                    # pointing a browser at the server sees
                    self._reply(200, WORKBENCH_HTML, "text/html")
                    return
                if parts == ["namespace"]:
                    self._reply(200, endpoint.list_namespaces(), "application/xml")
                    return
                if (
                    len(parts) == 3
                    and parts[0] == "namespace"
                    and parts[2] == "properties"
                ):
                    # MultiTenancyServlet doShowProperties
                    try:
                        body = endpoint.namespace_properties_xml(parts[1])
                    except KeyError:
                        self._reply(
                            404, f"no such namespace {parts[1]}", "text/plain"
                        )
                        return
                    self._reply(200, body, "application/xml")
                    return
                if parts and parts[-1] == "status":
                    self._status(
                        urllib.parse.parse_qs(u.query, keep_blank_values=True)
                    )
                    return
                if parts == ["counters"]:
                    # CountersServlet: the performance-counter tree
                    flat = {
                        k: v[0]
                        for k, v in urllib.parse.parse_qs(
                            u.query, keep_blank_values=True
                        ).items()
                    }
                    want_html = flat.get("format") == "html" or (
                        flat.get("format") is None
                        and "text/html" in (self.headers.get("Accept") or "")
                    )
                    try:
                        # per-namespace triple counts run jobs over
                        # every engine's store frame — pin them all
                        with contextlib.ExitStack() as stack:
                            for eng in list(endpoint.engines.values()):
                                stack.enter_context(eng.read_pin())
                            body = (
                                endpoint.counters_html(flat)
                                if want_html
                                else endpoint.counters_xml(flat)
                            )
                    except Exception as e:  # noqa: BLE001 — bad regex/depth
                        self._reply(400, str(e), "text/plain")
                        return
                    self._reply(
                        200, body, "text/html" if want_html else "application/xml"
                    )
                    return
                tx = self._tx_route(parts)
                if tx is not None:
                    eng, txid = tx
                    if txid is None:
                        # LIST-TX (TxServlet.doListTx)
                        self._reply(200, endpoint.tx_list_xml(eng), "application/xml")
                    else:
                        # STATUS-TX
                        try:
                            body = endpoint.tx_xml(eng.tx_info(txid))
                        except KeyError:
                            self._reply(404, f"STATUS-TX: Transaction not found: txId={txid}", "text/plain")
                            return
                        self._reply(200, body, "application/xml")
                    return
                params = {
                    k: v[0]
                    for k, v in urllib.parse.parse_qs(u.query, keep_blank_values=True).items()
                }
                self._run(params, allow_update=False, engine=self._route_engine())

            def do_POST(self):
                n = int(self.headers.get("Content-Length", 0))
                raw = self.rfile.read(n).decode()
                u = urllib.parse.urlparse(self.path)
                parts = [p for p in u.path.split("/") if p]
                if parts and parts[-1] == "status":
                    self._status(
                        urllib.parse.parse_qs(
                            (raw or "") + "&" + (u.query or ""),
                            keep_blank_values=True,
                        )
                    )
                    return
                if parts and parts[-1] == "dataloader":
                    # DataLoaderServlet: POST a java.util.Properties
                    # document (XML <properties><entry key=…> or plain
                    # k=v lines) naming fileOrDirs to bulk-load
                    # server-side into ?namespace (auto-created).
                    try:
                        body = endpoint.dataloader(raw)
                    except ValueError as e:
                        self._reply(400, str(e), "text/plain")
                        return
                    except Exception as e:  # noqa: BLE001
                        self._reply(500, f"{type(e).__name__}: {e}", "text/plain")
                        return
                    self._reply(200, body, "application/xml")
                    return
                if parts and parts[-1] == "backup":
                    # BackupServlet: write a consistent snapshot of the
                    # addressed namespace to ?file= (defaults next to
                    # the cwd like the reference's backup.jnl; must not
                    # already exist).  The parquet snapshot round-trips
                    # through TripleStore.load; ?compress/?block are
                    # accepted for protocol parity (parquet pages are
                    # always codec-compressed; no quorum to block on).
                    multi = urllib.parse.parse_qs(
                        (raw or "") + "&" + (u.query or ""),
                        keep_blank_values=True,
                    )
                    eng = endpoint.engines.get(
                        parts[1]
                        if len(parts) == 3 and parts[0] == "namespace"
                        else endpoint.default_namespace
                    )
                    if eng is None:
                        self._reply(404, "no such namespace", "text/plain")
                        return
                    try:
                        # pin: the snapshot write executes Spark jobs
                        # over the store frame; a concurrent writer's
                        # commit must not free its blocks mid-write
                        with eng.read_pin():
                            body = endpoint.backup(
                                eng, multi.get("file", ["backup.parquet"])[0]
                            )
                    except FileExistsError as e:
                        self._reply(409, str(e), "text/plain")
                        return
                    except Exception as e:  # noqa: BLE001
                        self._reply(400, f"{type(e).__name__}: {e}", "text/plain")
                        return
                    self._reply(200, body, "application/xml")
                    return
                tx = self._tx_route(parts)
                if tx is not None:
                    self._tx_post(tx, u)
                    return
                ctype = (self.headers.get("Content-Type") or "").split(";")[0]
                from .rio.reader import RDF_BODY_TYPES

                if parts and parts[-1] == "blueprints":
                    # BlueprintsServlet.doPost: POST a GraphML document
                    # to the blueprints layer → bulk load, reply the
                    # servlet's <data modified=.../> envelope
                    if ctype not in (
                        "application/graphml+xml",
                        "application/graphml",
                    ):
                        self._reply(
                            400,
                            f"Content-Type not recognized as graph data: {ctype}",
                            "text/plain",
                        )
                        return
                    eng = endpoint.engines.get(
                        parts[1] if len(parts) == 3 and parts[0] == "namespace"
                        else endpoint.default_namespace
                    )
                    if eng is None:
                        self._reply(404, "no such namespace", "text/plain")
                        return
                    try:
                        count, ms = endpoint.load_graphml(raw, engine=eng)
                    except Exception as e:  # noqa: BLE001
                        self._reply(400, f"{type(e).__name__}: {e}", "text/plain")
                        return
                    self._reply(
                        200,
                        '<?xml version="1.0"?>'
                        f'<data modified="{count}" milliseconds="{ms}"/>',
                        "application/xml",
                    )
                    return
                if ctype in RDF_BODY_TYPES and (not parts or parts[-1] == "sparql"):
                    # direct data POST (InsertServlet doPostWithBody):
                    # the body IS an RDF document; insert it into the
                    # addressed namespace, optionally into ?context-uri=.
                    # Only sparql-resource paths are intercepted: a
                    # MultiTenancyServlet CREATE (POST /namespace with a
                    # text/plain java.util.Properties body) must reach
                    # the namespace branch, not the RDF parser.
                    eng = self._route_engine()
                    if eng is None:
                        return
                    qs = {
                        k: v[0]
                        for k, v in urllib.parse.parse_qs(u.query).items()
                    }
                    try:
                        count, ms = endpoint.insert_document(
                            raw, ctype, engine=eng, context=qs.get("context-uri")
                        )
                    except ValueError as e:
                        self._reply(400, str(e), "text/plain")
                        return
                    self._reply(
                        200,
                        '<?xml version="1.0"?>'
                        f'<data modified="{count}" milliseconds="{ms}"/>',
                        "application/xml",
                    )
                    return
                if ctype == "application/sparql-query":
                    params = {"query": raw}
                elif ctype == "application/sparql-update":
                    params = {"update": raw}
                else:
                    multi = urllib.parse.parse_qs(
                        (raw or "") + "&" + (u.query or ""),
                        keep_blank_values=True,
                    )
                    if "uri" in multi:
                        # INSERT-WITH-URIS (InsertServlet.doPostWithURIs)
                        eng = self._route_engine()
                        if eng is None:
                            return
                        try:
                            count, ms = endpoint.insert_uris(
                                multi["uri"],
                                engine=eng,
                                context=multi.get("context-uri", [None])[0],
                            )
                        except Exception as e:  # noqa: BLE001
                            self._reply(400, str(e), "text/plain")
                            return
                        self._reply(
                            200,
                            '<?xml version="1.0"?>'
                            f'<data modified="{count}" milliseconds="{ms}"/>',
                            "application/xml",
                        )
                        return
                    params = {
                        k: v[0]
                        for k, v in urllib.parse.parse_qs(raw, keep_blank_values=True).items()
                    }
                if parts == ["namespace"]:
                    name = params.get("name", "")
                    props = {}
                    if raw:
                        # reference CREATE contract: a java.util.Properties
                        # body (text/plain) carrying
                        # com.bigdata.rdf.sail.namespace=<name> plus any
                        # store-configuration properties (kept, served
                        # back by GET /namespace/<ns>/properties);
                        # java.util.Properties comment lines (#/!) are
                        # ignored, not stored as keys
                        for line in raw.splitlines():
                            if line.lstrip()[:1] in ("#", "!", ""):
                                continue
                            k, sep, v = line.partition("=")
                            if not sep:
                                continue
                            props[k.strip()] = v.strip()
                            if not name and k.strip().endswith(".namespace"):
                                name = v.strip()
                    try:
                        endpoint.create_namespace(name, props=props)
                        self._reply(201, f"CREATED: {name}", "text/plain")
                    except InvalidNamespaceName as e:
                        self._reply(400, str(e), "text/plain")
                    except Exception as e:  # noqa: BLE001
                        # 409 is reserved for the duplicate-namespace
                        # conflict (MultiTenancyServlet contract)
                        self._reply(409, str(e), "text/plain")
                    return
                self._run(params, engine=self._route_engine())

            def _tx_post(self, tx, u):
                """TxServlet.doPost dispatch: ``POST /tx?timestamp=`` →
                CREATE-TX (201 + Location header); ``POST /tx/<txid>``
                with ``?PREPARE`` / ``?COMMIT`` / ``?ABORT`` → the
                respective lifecycle op.  Read-only transactions: a
                commit of a read-only tx just releases the read lock
                (reference ``AbstractTransactionService`` behavior), so
                COMMIT and ABORT both end the tx."""
                eng, txid = tx
                qs = {
                    k.upper(): v[0]
                    for k, v in urllib.parse.parse_qs(
                        u.query, keep_blank_values=True
                    ).items()
                }
                if txid is None:
                    # reference CREATE-TX: ?timestamp=0 (ITx.UNISOLATED)
                    # opens a READ-WRITE transaction; the default is a
                    # read-only tx on the current commit point
                    if qs.get("TIMESTAMP") == "0":
                        tid = eng.begin_read_write_tx()
                    else:
                        tid = eng.begin_read_tx()
                    body = endpoint.tx_xml(eng.tx_info(tid))
                    data = body.encode()
                    self.send_response(201)
                    self.send_header("Content-Type", "application/xml; charset=utf-8")
                    self.send_header("Location", f"/tx/{tid}")
                    self.send_header("Content-Length", str(len(data)))
                    self.end_headers()
                    self.wfile.write(data)
                    return
                try:
                    info = eng.tx_info(txid)
                except KeyError:
                    self._reply(404, f"Transaction not found: txId={txid}", "text/plain")
                    return
                from .sparql.engine import TxConflict

                if "PREPARE" in qs:
                    # read-only tx always validate; a writable tx
                    # re-checks the coarse OCC condition
                    if not info["readOnly"] and eng._commit_count != info["readsOnCommitTime"]:
                        self._reply(
                            409, f"PREPARE-TX: validation failed: txId={txid}",
                            "text/plain",
                        )
                        return
                    self._reply(200, endpoint.tx_xml(info), "application/xml")
                    return
                if "COMMIT" in qs:
                    try:
                        eng.commit_tx(txid)
                    except TxConflict as e:
                        self._reply(409, f"COMMIT-TX: {e}", "text/plain")
                        return
                    self._reply(200, endpoint.tx_xml(info), "application/xml")
                    return
                if "ABORT" in qs:
                    eng.end_tx(txid)
                    self._reply(200, endpoint.tx_xml(info), "application/xml")
                    return
                self._reply(400, "expecting PREPARE, COMMIT or ABORT", "text/plain")

            def do_DELETE(self):
                u = urllib.parse.urlparse(self.path)
                parts = [p for p in u.path.split("/") if p]
                # drain the body FIRST: under HTTP/1.1 keep-alive an
                # early-return reply (404/409) would otherwise leave
                # the body bytes on the socket to be parsed as the
                # next request line
                nbytes = int(self.headers.get("Content-Length", 0))
                raw = self.rfile.read(nbytes).decode() if nbytes else ""
                if len(parts) == 2 and parts[0] == "namespace":
                    try:
                        endpoint.delete_namespace(parts[1])
                        self._reply(200, f"DELETED: {parts[1]}", "text/plain")
                    except KeyError:
                        self._reply(404, "no such namespace", "text/plain")
                    except ValueError as e:
                        self._reply(409, str(e), "text/plain")
                    return
                # DeleteServlet surface on the sparql resource:
                # * RDF body → remove exactly those statements
                # * otherwise → access-path delete by ?s=&p=&o=&c=
                eng = self._route_engine()
                if eng is None:
                    return
                ctype = (self.headers.get("Content-Type") or "").split(";")[0]
                from .rio.reader import RDF_BODY_TYPES

                params = {
                    k: v[0]
                    for k, v in urllib.parse.parse_qs(
                        u.query, keep_blank_values=True
                    ).items()
                }
                try:
                    if raw and ctype in RDF_BODY_TYPES:
                        count, ms = endpoint.delete_document(raw, ctype, engine=eng)
                    elif "query" in params:
                        # DELETE-WITH-QUERY (DeleteServlet
                        # doDeleteWithQuery): materialize the
                        # CONSTRUCT/DESCRIBE result and remove exactly
                        # those statements (all contexts)
                        count, ms = endpoint.delete_with_query(
                            params["query"], engine=eng
                        )
                    else:
                        count, ms = endpoint.delete_pattern(params, engine=eng)
                except ValueError as e:
                    self._reply(400, str(e), "text/plain")
                    return
                self._reply(
                    200,
                    '<?xml version="1.0"?>'
                    f'<data modified="{count}" milliseconds="{ms}"/>',
                    "application/xml",
                )

        self._server = ThreadingHTTPServer((host, port), Handler)
        self._thread: threading.Thread | None = None

    # ----------------------------------------------------- REST probes
    @staticmethod
    def _spoc(params: dict) -> dict:
        from .rio.reader import parse_term

        out = {}
        for key, arg in (("s", "s"), ("p", "p"), ("o", "o"), ("c", "g")):
            if params.get(key):
                out[arg] = parse_term(params[key])
        return out

    # ------------------------------------------- direct data endpoints
    def _count_change(self, engine, run, side: str) -> tuple[int, int]:
        """Run a mutation with a throwaway change listener and report
        (modified-count, milliseconds) — the reference servlets report
        the ACTUAL mutation count, not the parsed statement count."""
        import time as _t

        got = {"n": 0}

        def _listen(cs):
            got["n"] = (cs.added if side == "added" else cs.removed).count()

        engine.add_change_listener(_listen)
        t0 = _t.time()
        try:
            run()
        finally:
            engine.remove_change_listener(_listen)
        return got["n"], int((_t.time() - t0) * 1000)

    def insert_document(
        self, body: str, content_type: str, engine=None, context: str | None = None
    ) -> tuple[int, int]:
        """POST-with-body insert (InsertServlet.doPostWithBody): parse
        the RDF document and insert; ``context`` overrides the target
        graph (the servlet's context-uri parameter)."""
        from .rio.reader import parse_rdf_body
        from .terms import Term

        engine = engine or self.engine
        quads = parse_rdf_body(body, content_type)
        if context:
            g = Term.iri(context)
            quads = [(s, p, o, g) for (s, p, o, _gg) in quads]
        return self._count_change(
            engine, lambda: engine.insert_statements(quads), "added"
        )

    def insert_uris(
        self, uris: list, engine=None, context: str | None = None
    ) -> tuple[int, int]:
        """POST ?uri=... (InsertServlet.doPostWithURIs): LOAD each
        document URI (file:// or a plain path — the server-side
        DataLoader surface) into the addressed namespace, optionally
        into ``context``.  Runs through the engine's LOAD verb, so
        bulk formats get the distributed parse path and commit
        bookkeeping (TM, changesets) applies."""
        from .sparql import ast as A
        from .terms import Term

        engine = engine or self.engine
        g = Term.iri(context) if context else None
        ops = [A.LoadUpdate(source=Term.iri(u), graph=g) for u in uris]
        return self._count_change(
            engine, lambda: engine._run_update_ops(ops), "added"
        )

    def delete_document(
        self, body: str, content_type: str, engine=None
    ) -> tuple[int, int]:
        """DELETE-with-body (DeleteServlet.doDeleteWithBody): remove
        exactly the statements in the RDF document."""
        from .rio.reader import parse_rdf_body

        engine = engine or self.engine
        quads = parse_rdf_body(body, content_type)
        return self._count_change(
            engine, lambda: engine.remove_statements(quads), "removed"
        )

    def load_graphml(self, body: str, engine=None) -> tuple[int, int]:
        """POST GraphML → bulk load through the Blueprints veneer
        (BlueprintsServlet.doPost / BigdataGraphBulkLoad): reports the
        total mutation count across the vertex + edge commits."""
        import time as _t

        from .blueprints import PropertyGraph
        from .graphml import load_graphml as _load

        engine = engine or self.engine
        got = {"n": 0}

        def _listen(cs):
            got["n"] += cs.added.count()

        engine.add_change_listener(_listen)
        t0 = _t.time()
        try:
            _load(PropertyGraph(engine), body)
        finally:
            engine.remove_change_listener(_listen)
        return got["n"], int((_t.time() - t0) * 1000)

    def delete_with_query(self, query: str, engine=None) -> tuple[int, int]:
        """DELETE ?query= (DeleteServlet.doDeleteWithQuery): run the
        CONSTRUCT/DESCRIBE, remove exactly the statements it produces
        from every context.  Other query forms are a 400 (the
        reference requires a graph-producing query here too)."""
        from .sparql import ast as A
        from .sparql.parser import parse_query

        engine = engine or self.engine
        q = parse_query(query)
        if isinstance(q, A.ConstructQuery):
            df = engine.construct(query)
        elif isinstance(q, A.DescribeQuery):
            df = engine.describe(query)
        else:
            raise ValueError(
                "DELETE with ?query= requires a CONSTRUCT or DESCRIBE query"
            )
        return self._count_change(
            engine, lambda: engine.remove_triples_all_graphs(df), "removed"
        )

    def delete_pattern(self, params: dict, engine=None) -> tuple[int, int]:
        """Access-path delete (DeleteServlet.doDeleteWithAccessPath):
        remove every statement matching ?s=&p=&o=&c= (absent = wildcard;
        no c wildcards the context, like the reference in quads mode).
        At least one of s/p/o/c is required: a bare DELETE (e.g. a
        typo'd parameter name) must NOT silently wipe the store — the
        reference's servlet likewise requires an access path."""
        engine = engine or self.engine
        spoc = self._spoc(params)
        if not spoc:
            raise ValueError(
                "access-path DELETE requires at least one of s/p/o/c "
                "(refusing wildcard delete of the entire store)"
            )
        return self._count_change(
            engine,
            lambda: engine.remove_pattern(
                s=spoc.get("s"),
                p=spoc.get("p"),
                o=spoc.get("o"),
                g=spoc.get("g"),
                from_all_graphs="g" not in spoc,
            ),
            "removed",
        )

    def get_statements(
        self, params: dict, accept: str = "", engine=None
    ) -> tuple[str, str]:
        """GETSTMTS (QueryServlet.doGetStmts): export every statement
        matching the ?s=&p=&o=&c= access path as an RDF document with
        graph content negotiation (N-Triples default).  The match set
        streams through ``toLocalIterator`` — the HTTP response is the
        materialization point, same as the reference's connection
        export.  ``includeInferred=false`` restricts to explicit
        statements (the reference's getStatements flag)."""
        from pyspark.sql import functions as F

        from . import terms as T
        from .rio import writers as W

        engine = engine or self.engine
        if params.get("includeInferred", "").lower() == "false":
            engine = self._explicit_view(engine)
        spoc = self._spoc(params)
        df = engine.store.df
        for col, key in (("s", "s"), ("p", "p"), ("o", "o")):
            if key in spoc:
                cond = F.col(col) == T.term_id(T.lit_term(spoc[key]))
                df = df.where(cond)
        if "g" in spoc:
            df = df.where(F.col("g") == T.term_id(T.lit_term(spoc["g"])))
        triples = df.select("st", "pt", "ot")
        kinds = [
            part.split(";")[0].strip().lower()
            for part in (accept or "").split(",")
        ]
        if any(k in ("text/turtle", "application/x-turtle") for k in kinds):
            return _primed(W.iter_turtle(triples)), "text/turtle"
        if "application/rdf+xml" in kinds:
            return _primed(W.iter_rdfxml(triples)), "application/rdf+xml"
        if "application/ld+json" in kinds:
            return _primed(W.iter_jsonld(triples)), "application/ld+json"
        # quad formats keep the graph position (the reference's conneg
        # offers N-Quads/TriG for context-aware exports)
        if any(k in ("application/n-quads", "text/x-nquads") for k in kinds):
            return (
                _primed(W.iter_nquads(df.select("st", "pt", "ot", "gt"))),
                "application/n-quads",
            )
        if "application/trig" in kinds:
            return (
                _primed(W.iter_trig(df.select("st", "pt", "ot", "gt"))),
                "application/trig",
            )
        return _primed(W.iter_ntriples(triples)), "application/n-triples"

    # --------------------------------------------- includeInferred=false
    def _explicit_view(self, engine):
        """A read-only engine over the EXPLICIT statements only
        (``includeInferred=false`` — the StatementEnum filter the
        reference applies in its access paths).  Cached per store
        version; mutations swap the store object, invalidating it."""
        from .sparql.engine import SparqlEngine
        from .store import TripleStore

        cached = getattr(self, "_explicit_cache", None)
        if cached is not None and cached[0] is engine.store:
            return cached[1]
        view = SparqlEngine(
            TripleStore(
                engine.store.spark,
                engine.store.explicit(),
                has_named=engine.store.has_named,
                # the inferred filter keeps the p_bucket layout column,
                # so bound-predicate partition pruning still applies
                p_buckets=engine.store.p_buckets,
            ),
            services=engine.services,
        )
        view._read_only = True
        self._explicit_cache = (engine.store, view)
        return view

    # ------------------------------------------------ status / cancel
    def _spark_context(self):
        return self.engines[self.default_namespace].store.spark.sparkContext

    @contextlib.contextmanager
    def _track_query(self, query: str, qid: str | None = None, namespace: str = ""):
        """Register a running query (StatusServlet's RunningQuery
        table) and scope its Spark jobs to a job group named by the
        queryId, so ``cancelQuery&queryId=`` can actually kill the
        running stages (``SparkContext.cancelJobGroup`` — the
        QueryCancellationHelper analog).  Job-group locality is
        per-Python-thread (pinned-thread mode), so concurrent handler
        threads don't leak groups into each other.

        The registry (and the Spark job group) is keyed by a
        SERVER-minted unique id; the client-supplied queryId is only a
        display/cancel-lookup attribute.  Two concurrent requests that
        send the same queryId therefore get independent entries and
        job groups — the first to finish cannot pop the other's entry
        (which would end its cancel sweep and deadline tracking), and
        cancelling that queryId kills each matching query's own group
        rather than one shared group."""
        qid = qid or str(uuid.uuid4())
        key = str(uuid.uuid4())
        sc = self._spark_context()
        sc.setJobGroup(key, f"sparql query {qid}", interruptOnCancel=True)
        self._running[key] = {
            "queryId": qid,
            "query": query,
            "namespace": namespace,
            "begun": time.time(),
        }
        with self._counters_lock:
            self._queries_accepted += 1
        t0 = time.time()
        try:
            yield key
            with self._counters_lock:
                self._queries_done += 1
        except BaseException:
            with self._counters_lock:
                self._queries_errored += 1
            raise
        finally:
            elapsed = (time.time() - t0) * 1000
            # key on the whitespace-NORMALIZED text (same normalization
            # as the stored preview): reformatted submissions of one hot
            # query accumulate under one counter instead of fragmenting
            # the bounded LRU and evicting genuinely hot entries
            qh = hashlib.md5(" ".join(query.split()).encode()).hexdigest()[:12]
            with self._counters_lock:
                self._query_millis += elapsed
                pq = self._per_query.get(qh)
                if pq is None:
                    # one-line preview so the counter is identifiable
                    pq = self._per_query[qh] = {
                        "count": 0,
                        "totalMillis": 0,
                        "query": " ".join(query.split())[:120],
                    }
                pq["count"] += 1
                pq["totalMillis"] = int(pq["totalMillis"] + elapsed)
                self._per_query.move_to_end(qh)
                while len(self._per_query) > self._PER_QUERY_CAP:
                    self._per_query.popitem(last=False)
            self._running.pop(key, None)
            sc.setLocalProperty("spark.jobGroup.id", None)

    def _cancel_until_dead(self, qid: str, interval: float = 0.25, max_wait: float = 600) -> None:
        """Cancel ``qid``'s job group repeatedly until the query leaves
        the running table.  ``cancelJobGroup`` only kills ACTIVE jobs —
        a cancel that lands between the request registering and its
        first job submitting would otherwise be silently missed (there
        is no cancel-future-jobs variant in the Python API), so the
        sweep keeps firing until the handler thread unregisters."""
        sc = self._spark_context()

        def loop():
            t0 = time.time()
            while qid in self._running and time.time() - t0 < max_wait:
                sc.cancelJobGroup(qid)
                time.sleep(interval)
            sc.cancelJobGroup(qid)

        t = threading.Thread(target=loop, daemon=True)
        t.start()

    def cancel_queries(self, qids: list) -> list:
        """CANCEL-QUERY: kill the Spark job group of every running
        query whose client-visible queryId matches; returns the subset
        of ids that matched something running.  The registry is keyed
        by server-minted ids, so duplicate client queryIds each cancel
        their own job group.  Cancels of unknown/finished ids are
        harmless no-ops (reference behavior)."""
        hit = []
        for qid in qids:
            keys = [
                k for k, q in list(self._running.items())
                if q["queryId"] == qid or k == qid
            ]
            if keys:
                hit.append(qid)
            for k in keys:
                self._cancel_until_dead(k)
        return hit

    def status_html(self, params: dict) -> str:
        """StatusServlet.doGet page: accepted/running counters, and
        optionally the namespace list (``showNamespaces``) and the
        running-query table (``showQueries``, ``details`` adding the
        SPARQL text).  EVERY client-influenced value (queryId,
        namespace/path, SPARQL text, namespace names) is HTML-escaped
        before interpolation — reflected-XSS hygiene."""
        import html as _html

        now = time.time()
        rows = [
            "<html><body>",
            f"<p>Build: database_spark (PySpark), uptime "
            f"{now - self._started_at:.0f}s</p>",
            f"<p>Accepted query count={self._queries_accepted}</p>",
            f"<p>Running query count={len(self._running)}</p>",
        ]
        if "showNamespaces" in params:
            rows.append("<h3>Namespaces</h3><ul>")
            rows += [
                f"<li>{_html.escape(ns)}</li>" for ns in sorted(self.engines)
            ]
            rows.append("</ul>")
        if "showQueries" in params:
            rows.append("<h3>Running queries</h3>")
            for q in sorted(self._running.values(), key=lambda r: r["begun"]):
                rows.append(
                    f'<p>queryId={_html.escape(q["queryId"])} '
                    f'namespace={_html.escape(q["namespace"])} '
                    f"elapsed={int((now - q['begun']) * 1000)}ms</p>"
                )
                if params.get("showQueries") == "details" or "details" in params:
                    rows.append(f"<pre>{_html.escape(q['query'])}</pre>")
        rows.append("</body></html>")
        return "\n".join(rows)

    def health_json(self) -> str:
        """``/status?health`` (HealthStatusServlet shape)."""
        return json.dumps(
            {
                "deployment": "standalone",
                "status": "Good",
                "details": [],
                "timestamp": int(time.time() * 1000),
            }
        )

    #: distinct query texts tracked in the per-query counter LRU
    _PER_QUERY_CAP = 256

    # ------------------------------------------------------- counters
    def counters_tree(self) -> dict:
        """The performance-counter hierarchy (CountersServlet's
        CounterSet shape): query-engine lifetime counters, per-namespace
        store counters, server counters.  Per-namespace triple counts
        use the fast range count (pushdown-backed, metadata-mostly) —
        cheap enough for ops tooling to scrape."""
        qe = {
            "queriesAccepted": self._queries_accepted,
            "queriesDone": self._queries_done,
            "queriesErrored": self._queries_errored,
            "queriesRunning": len(self._running),
            "totalElapsedMillis": int(self._query_millis),
        }
        with self._counters_lock:
            qe["perQuery"] = {
                qh: dict(stats) for qh, stats in self._per_query.items()
            }
        ns = {
            name: {
                "commitCount": getattr(eng, "_commit_count", 0),
                "triples": eng.store.count_pattern(),
            }
            for name, eng in sorted(self.engines.items())
        }
        return {
            "Query Engine": qe,
            "Namespaces": ns,
            "Server": {
                "uptimeSeconds": int(time.time() - self._started_at),
                "namespaceCount": len(self.engines),
            },
        }

    def counters_xml(self, params: dict) -> str:
        """GET ``/counters`` (CountersServlet): the counter tree as
        CounterSet-style XML.  ``?depth=N`` prunes the hierarchy below
        N levels (a counter at ``/A/x`` has depth 2); ``?filter=regex``
        keeps only counters whose full path matches."""
        import html as _html
        import re as _re

        depth = int(params["depth"]) if params.get("depth") else None
        pat = _re.compile(params["filter"]) if params.get("filter") else None

        def walk(tree, path):
            sets, counters = [], []
            for name, val in tree.items():
                if isinstance(val, dict):
                    sets.append(walk(val, path + [name]))
                else:
                    cp = "/" + "/".join(path + [name])
                    if depth is not None and len(path) + 1 > depth:
                        continue
                    if pat is not None and not pat.search(cp):
                        continue
                    counters.append(
                        f'  <c name="{_html.escape(name)}"'
                        f' value="{_html.escape(str(val), quote=True)}"/>'
                    )
            body = "".join(s for s in sets if s)
            if not counters:
                return body
            p = _html.escape("/" + "/".join(path))
            return (
                f'<cs path="{p}">\n' + "\n".join(counters) + "\n</cs>\n" + body
            )

        inner = walk(self.counters_tree(), [])
        return '<?xml version="1.0"?>\n<counters>\n' + inner + "</counters>\n"

    def counters_html(self, params: dict) -> str:
        """Browser-facing rendering of the same counter tree
        (CountersServlet serves HTML as well as XML depending on the
        requested mime type); honors the same ``?depth=``/``?filter=``
        params as the XML view."""
        import html as _html
        import re as _re

        depth = int(params["depth"]) if params.get("depth") else None
        pat = _re.compile(params["filter"]) if params.get("filter") else None

        def walk(tree, path):
            rows, subs = [], []
            for name, val in tree.items():
                if isinstance(val, dict):
                    subs.append(walk(val, path + [name]))
                else:
                    cp = "/" + "/".join(path + [name])
                    if depth is not None and len(path) + 1 > depth:
                        continue
                    if pat is not None and not pat.search(cp):
                        continue
                    rows.append(
                        f"<tr><td>{_html.escape(name)}</td>"
                        f"<td>{_html.escape(str(val))}</td></tr>"
                    )
            body = "".join(s for s in subs if s)
            if not rows:
                return body
            p = _html.escape("/" + "/".join(path))
            return (
                f"<h2>{p}</h2><table><tr><th>counter</th><th>value</th>"
                f"</tr>{''.join(rows)}</table>" + body
            )

        inner = walk(self.counters_tree(), [])
        return (
            "<!doctype html><html><head><title>counters</title><style>"
            "body{font-family:sans-serif;margin:1.5em}table{border-collapse:"
            "collapse;margin:.5em 0}td,th{border:1px solid #999;padding:"
            ".2em .6em;text-align:left}h2{font-size:1em;margin:.8em 0 .2em}"
            "</style></head><body><h1>Performance counters</h1>"
            + inner
            + "</body></html>"
        )

    # ----------------------------------------------------- dataloader
    #: RDF file suffixes the server-side loader picks up when walking
    #: directories (DataLoaderServlet's RDFFormat filter analog)
    _RDF_SUFFIXES = (
        ".nt", ".nq", ".ttl", ".trig", ".rdf", ".xml", ".owl",
        ".jsonld",
    )

    def dataloader(self, body: str) -> str:
        """DataLoaderServlet.doBulkLoad: bulk-load the files/directories
        named by the ``fileOrDirs`` property into ``namespace``
        (auto-created when absent, like the reference), optionally into
        ``defaultGraph``.  All files land as LOAD ops inside ONE engine
        commit — one changeset, one delta fold — and bulk formats
        take the distributed parse path.  ``quiet``/``verbose``/
        ``durableQueues``/``baseURI`` are accepted for protocol parity.

        The properties document is either the reference's XML
        ``<properties><entry key="…">v</entry></properties>`` shape or
        plain ``k=v`` lines."""
        import os
        import re as _re
        import time as _t

        props: dict = {}
        if "<properties" in body:
            for m in _re.finditer(
                r'<entry\s+key="([^"]+)"\s*>(.*?)</entry>', body, _re.S
            ):
                props[m.group(1).strip()] = m.group(2).strip()
        else:
            for line in body.splitlines():
                if line.lstrip()[:1] in ("#", "!", ""):
                    continue  # java.util.Properties comment/blank line
                k, sep, v = line.partition("=")
                if sep:
                    props[k.strip()] = v.strip()
        file_or_dirs = props.get("fileOrDirs")
        if not file_or_dirs:
            raise ValueError("fileOrDirs is required for the DataLoader")
        ns = props.get("namespace", self.default_namespace)
        if ns not in self.engines:
            self.create_namespace(ns)
        engine = self.engines[ns]
        files = []
        for entry in file_or_dirs.split(","):
            entry = entry.strip()
            if not entry:
                continue
            if os.path.isdir(entry):
                for root, _dirs, names in sorted(os.walk(entry)):
                    files += [
                        os.path.join(root, n)
                        for n in sorted(names)
                        if n.endswith(self._RDF_SUFFIXES)
                    ]
            elif os.path.exists(entry):
                files.append(entry)
            else:
                raise ValueError(f"no such file or directory: {entry}")
        if not files:
            raise ValueError(f"no RDF files under: {file_or_dirs}")
        t0 = _t.time()
        count, _ms = self.insert_uris(
            files, engine=engine, context=props.get("defaultGraph") or None
        )
        ms = int((_t.time() - t0) * 1000)
        return (
            '<?xml version="1.0"?>'
            f'<data modified="{count}" milliseconds="{ms}" '
            f'files="{len(files)}"/>'
        )

    # --------------------------------------------------------- backup
    @staticmethod
    def backup(engine, file: str) -> str:
        """BackupServlet: snapshot the namespace's current commit point
        to ``file`` as a loadable parquet store.  The store DataFrame
        is immutable, so the written snapshot is transactionally
        consistent even while concurrent updates land (they swap the
        engine's store pointer; they cannot mutate the frame being
        written) — callers hold ``engine.read_pin()`` so a commit
        cannot free the frame's checkpoint blocks mid-write.  Refuses
        to overwrite (the reference requires the target not exist)."""
        import os
        import time as _t

        if os.path.exists(file):
            raise FileExistsError(f"backup target exists: {file}")
        t0 = _t.time()
        engine.store.save(file)
        ms = int((_t.time() - t0) * 1000)
        return f'<?xml version="1.0"?><data file="{file}" milliseconds="{ms}"/>'

    # --------------------------------------------------- tx responses
    @staticmethod
    def tx_xml(info: dict) -> str:
        """One-transaction response document (TxServlet ``addTx``:
        ``<response><tx txId=… readsOnCommitTime=… readOnly=…/>
        </response>``)."""
        return (
            '<?xml version="1.0"?><response><tx '
            f'txId="{info["txId"]}" '
            f'readsOnCommitTime="{info["readsOnCommitTime"]}" '
            f'readOnly="{str(info["readOnly"]).lower()}"/></response>'
        )

    @staticmethod
    def tx_list_xml(engine) -> str:
        txs = "".join(
            f'<tx txId="{i["txId"]}" '
            f'readsOnCommitTime="{i["readsOnCommitTime"]}" '
            f'readOnly="{str(i["readOnly"]).lower()}"/>'
            for i in engine.list_tx()
        )
        return f'<?xml version="1.0"?><response>{txs}</response>'

    #: class/property partitions reported in the SD (top-N by count —
    #: the VoID spec allows partial partitions; N bounds the collect)
    VOID_MAX_PARTITIONS = 20

    def _void_stats(self, engine):
        """VoID dataset statistics (reference ``SD.java``/``VoID.java``
        embed these in the service description): total triples plus
        top-N property and class partitions.  Two hash aggregates +
        one fast range count; results cached per store version (the
        store pointer swaps on mutation, invalidating)."""
        from pyspark.sql import functions as F

        from . import terms as T

        cached = getattr(self, "_void_cache", None)
        if cached is not None and cached[0] is engine.store:
            return cached[1]
        df = engine.store.df
        total = engine.store.count_pattern()
        props = (
            df.groupBy(F.col("pt").getField("lex").alias("p"))
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), "p")
            .limit(self.VOID_MAX_PARTITIONS)
            .collect()
        )
        classes = (
            df.where(
                (F.col("pt").getField("lex") == T.RDF + "type")
                & (F.col("ot").getField("kind") == T.KIND_IRI)
            )
            .groupBy(F.col("ot").getField("lex").alias("c"))
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), "c")
            .limit(self.VOID_MAX_PARTITIONS)
            .collect()
        )
        stats = (
            total,
            [(r["p"], r["n"]) for r in props],
            [(r["c"], r["n"]) for r in classes],
        )
        self._void_cache = (engine.store, stats)
        return stats

    def service_description(self) -> str:
        """SPARQL 1.1 Service Description (QueryServlet
        doServiceDescription on a bare GET): the endpoint's languages,
        result formats, named graphs, and VoID dataset statistics
        (void:triples + class/property partitions via fast range
        counts — reference SD.java + VoID.java) in Turtle."""
        graphs = "".join(
            f"    sd:namedGraph [ sd:name <{t['lex']}> ] ;\n"
            for t in self.engine.store.contexts()
        )
        total, props, classes = self._void_stats(self.engine)
        void = f"    void:triples {total} ;\n"
        void += "".join(
            f"    void:propertyPartition [ void:property <{p}> ;"
            f" void:triples {n} ] ;\n"
            for p, n in props
        )
        void += "".join(
            f"    void:classPartition [ void:class <{c}> ;"
            f" void:entities {n} ] ;\n"
            for c, n in classes
        )
        return (
            "@prefix sd: <http://www.w3.org/ns/sparql-service-description#> .\n"
            "@prefix void: <http://rdfs.org/ns/void#> .\n"
            "@prefix fmt: <http://www.w3.org/ns/formats/> .\n\n"
            "[] a sd:Service ;\n"
            f"  sd:endpoint <{self.url}> ;\n"
            "  sd:supportedLanguage sd:SPARQL11Query , sd:SPARQL11Update ;\n"
            "  sd:resultFormat fmt:SPARQL_Results_JSON , fmt:SPARQL_Results_XML ,"
            " fmt:SPARQL_Results_CSV , fmt:SPARQL_Results_TSV ,"
            " fmt:N-Triples , fmt:Turtle , fmt:RDF_XML , fmt:JSON-LD ;\n"
            "  sd:defaultDataset [\n"
            "    a sd:Dataset , void:Dataset ;\n"
            f"{graphs}"
            f"{void}"
            "    sd:defaultGraph [ a sd:Graph ]\n"
            "  ] .\n"
        )

    def estcard(self, params: dict, engine=None) -> str:
        """Fast range count of a (s,p,o,c) pattern — XML contract of the
        reference's ESTCARD servlet (rangeCount attribute)."""
        import time as _t

        engine = engine or self.engine
        t0 = _t.time()
        n = engine.store.count_pattern(**self._spoc(params))
        ms = int((_t.time() - t0) * 1000)
        return (
            '<?xml version="1.0"?>'
            f'<data rangeCount="{n}" milliseconds="{ms}"/>'
        )

    def hasstmt(self, params: dict, engine=None) -> str:
        engine = engine or self.engine
        got = engine.store.has_statement(**self._spoc(params))
        return (
            '<?xml version="1.0"?>'
            f'<data result="{str(got).lower()}"/>'
        )

    def contexts(self, engine=None) -> str:
        from xml.sax.saxutils import quoteattr

        engine = engine or self.engine
        items = "".join(
            f"<context uri={quoteattr(t['lex'])}/>"
            for t in engine.store.contexts()
        )
        return f'<?xml version="1.0"?><contexts>{items}</contexts>'

    # ------------------------------------------------------- namespaces
    @property
    def engine(self):
        """The default namespace's engine (back-compat accessor)."""
        return self.engines[self.default_namespace]

    def list_namespaces(self) -> str:
        from xml.sax.saxutils import quoteattr

        items = "".join(
            f"<namespace name={quoteattr(n)}/>" for n in sorted(self.engines)
        )
        return f'<?xml version="1.0"?><namespaces>{items}</namespaces>'

    def create_namespace(self, name: str, props: dict | None = None):
        """CREATE-NAMESPACE (MultiTenancyServlet doPost): a fresh empty
        engine over the shared SparkSession.  ``props`` — the create
        request's java.util.Properties — are kept and served back by
        ``GET /namespace/<ns>/properties`` (doShowProperties)."""
        import re as _re

        from .sparql.engine import SparqlEngine
        from .store import TripleStore

        if not _re.fullmatch(r"[A-Za-z0-9_.-]+", name or ""):
            raise InvalidNamespaceName(f"invalid namespace name {name!r}")
        if name in self.engines:
            raise ValueError(f"namespace {name!r} already exists")
        spark = self.engine.store.spark
        self.engines[name] = SparqlEngine(
            TripleStore.from_python_triples(spark, [])
        )
        self._namespace_props[name] = {
            "com.bigdata.rdf.sail.namespace": name,
            **(props or {}),
        }
        return self.engines[name]

    def namespace_properties_xml(self, name: str) -> str:
        """GET ``/namespace/<ns>/properties`` (MultiTenancyServlet
        doShowProperties): the namespace's effective configuration as a
        java.util.Properties XML document.  KeyError for unknown
        namespaces."""
        from xml.sax.saxutils import escape as _esc
        from xml.sax.saxutils import quoteattr

        if name not in self.engines:
            raise KeyError(name)
        props = dict(
            self._namespace_props.get(
                name, {"com.bigdata.rdf.sail.namespace": name}
            )
        )
        eng = self.engines[name]
        props.setdefault(
            "com.bigdata.rdf.store.AbstractTripleStore.quads",
            str(bool(eng.store.has_named)).lower(),
        )
        entries = "".join(
            f"<entry key={quoteattr(k)}>{_esc(str(v))}</entry>"
            for k, v in sorted(props.items())
        )
        return (
            '<?xml version="1.0" encoding="UTF-8"?>'
            '<!DOCTYPE properties SYSTEM '
            '"http://java.sun.com/dtd/properties.dtd">'
            f"<properties>{entries}</properties>"
        )

    def delete_namespace(self, name: str) -> None:
        """DELETE-NAMESPACE (MultiTenancyServlet doDelete); the default
        namespace is not deletable, matching the reference's guard."""
        if name == self.default_namespace:
            raise ValueError("cannot delete the default namespace")
        del self.engines[name]
        self._namespace_props.pop(name, None)

    # ------------------------------------------------------------ eval
    def explain(self, query: str, engine=None) -> tuple[str, str]:
        """``?explain`` (reference ``QueryServlet.java:799-813``
        ``explainQuery``): instead of results, return the parsed
        algebra (the reference shows the optimized AST) and the
        physical plan Catalyst chose — ``explain('formatted')`` output
        with the scan pushdown evidence (``PushedFilters`` /
        ``PartitionFilters``) a user needs to debug a slow query.
        Plain text; the reference wraps the same content in HTML."""
        import contextlib
        import io

        from .sparql import ast as A
        from .sparql.parser import parse_query

        engine = engine or self.engine
        q = parse_query(query)
        if isinstance(q, A.AskQuery):
            c = engine._compiler(dataset=q.dataset, hints=getattr(q, "hints", None))
            with engine._hint_scope(q):
                df = c.compile_group(q.where).df.limit(1)
        elif isinstance(q, A.ConstructQuery):
            df = engine.construct(query)
        elif isinstance(q, A.DescribeQuery):
            df = engine.describe(query)
        else:
            df = engine.select(query).df
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        body = (
            "=== Query ===\n"
            f"{query.strip()}\n\n"
            "=== Parsed algebra ===\n"
            f"{q!r}\n\n"
            "=== Physical plan (Catalyst, formatted) ===\n"
            f"{buf.getvalue()}"
        )
        return body, "text/plain"

    def evaluate(
        self,
        query: str,
        accept: str = "",
        engine=None,
        limit: int | None = None,
        offset: int | None = None,
    ):
        """Run one protocol request; returns (body, content_type) where
        body is a ``str`` for small fixed replies (ASK) or a PRIMED
        iterator of string chunks for SELECT/CONSTRUCT/DESCRIBE — the
        HTTP layer streams it chunked, so a big result never
        materializes as one driver-side string.  Priming (pulling the
        first chunks eagerly) forces query compilation + the first
        Spark job, so evaluation errors and deadline cancellations
        surface BEFORE the 200 status line is committed.

        ``limit``/``offset`` page the RESULT SET (protocol-level slice
        — SliceServiceFactory's convenience shape): applied as
        DataFrame offset/limit on top of whatever the query computed,
        so the workbench pages without editing the query.  Page
        boundaries are deterministic only under ORDER BY, same as
        SPARQL's own OFFSET."""
        engine = engine or self.engine
        from .rio import writers as W
        from .sparql import ast as A
        from .sparql.parser import parse_query

        q = parse_query(query)
        fmt = _negotiate(accept)
        if isinstance(q, A.AskQuery):
            got = engine.ask(query)
            if fmt == "xml":
                return (
                    '<?xml version="1.0"?><sparql xmlns="http://www.w3.org/'
                    '2005/sparql-results#"><head/><boolean>'
                    f"{str(got).lower()}</boolean></sparql>",
                    CONTENT_TYPES["xml"],
                )
            if fmt == "html":
                return (
                    f"<!DOCTYPE html><html><body><p>{str(got).lower()}</p>"
                    "</body></html>",
                    CONTENT_TYPES["html"],
                )
            return (
                json.dumps({"head": {}, "boolean": got}),
                CONTENT_TYPES["json"],
            )
        if isinstance(q, (A.ConstructQuery, A.DescribeQuery)):
            df = (
                engine.construct(query)
                if isinstance(q, A.ConstructQuery)
                else engine.describe(query)
            )
            if offset:
                df = df.offset(offset)
            if limit is not None:
                df = df.limit(limit)
            # graph content negotiation (ConnegUtil): Turtle, RDF/XML
            # and JSON-LD writers; N-Triples default — all streamed
            kinds = [
                part.split(";")[0].strip().lower()
                for part in (accept or "").split(",")
            ]
            if any(k in ("text/turtle", "application/x-turtle") for k in kinds):
                return _primed(W.iter_turtle(df)), "text/turtle"
            if "application/rdf+xml" in kinds:
                return _primed(W.iter_rdfxml(df)), "application/rdf+xml"
            if "application/ld+json" in kinds:
                return _primed(W.iter_jsonld(df)), "application/ld+json"
            return _primed(W.iter_ntriples(df)), "application/n-triples"
        res = engine.select(query)
        if offset:
            res.df = res.df.offset(offset)
        if limit is not None:
            res.df = res.df.limit(limit)
        writer = {
            "json": W.iter_results_json,
            "xml": W.iter_results_xml,
            "csv": W.iter_results_csv,
            "tsv": W.iter_results_tsv,
            "html": W.iter_results_html,
        }[fmt]
        return _primed(writer(res)), CONTENT_TYPES[fmt]

    # ------------------------------------------------------------ life
    @property
    def url(self) -> str:
        host, port = self._server.server_address[:2]
        return f"http://{host}:{port}/sparql"

    def start(self) -> "SparqlEndpoint":
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()
