"""Transactional UPDATE: commit points, snapshot isolation, optimistic
conflict detection (reference: journal commit points + CommitOp)."""

import pytest

from database_spark.journal import CommitConflict, Journal

EX = "http://example.org/"


def names(engine_or_tx):
    res = engine_or_tx.select(
        f'PREFIX ex: <{EX}> SELECT ?n WHERE {{ ?s ex:name ?n }} ORDER BY ?n'
    )
    return [r["n"]["lex"] for r in res.df.collect()]


@pytest.fixture()
def journal(spark, tmp_path):
    return Journal(spark, str(tmp_path / "journal"))


def test_commit_advances_head_and_persists(journal):
    assert journal.head() == 0
    tx = journal.begin()
    tx.update(f'PREFIX ex: <{EX}> INSERT DATA {{ ex:a ex:name "Alice" }}')
    assert tx.commit("add alice") == 1
    assert journal.head() == 1

    tx2 = journal.begin()
    tx2.update(f'PREFIX ex: <{EX}> INSERT DATA {{ ex:b ex:name "Bob" }}')
    assert tx2.commit("add bob") == 2
    assert names(journal.begin()) == ["Alice", "Bob"]


def test_snapshot_isolation_reader_pins_version(journal):
    tx = journal.begin()
    tx.update(f'PREFIX ex: <{EX}> INSERT DATA {{ ex:a ex:name "Alice" }}')
    tx.commit()

    reader = journal.begin()  # pins v1
    writer = journal.begin()
    writer.update(f'PREFIX ex: <{EX}> DELETE DATA {{ ex:a ex:name "Alice" }}')
    writer.update(f'PREFIX ex: <{EX}> INSERT DATA {{ ex:c ex:name "Cara" }}')
    writer.commit()

    # the reader still sees its snapshot; a fresh tx sees the new head
    assert names(reader) == ["Alice"]
    assert names(journal.begin()) == ["Cara"]


def test_optimistic_conflict_detected(journal):
    tx = journal.begin()
    tx.update(f'PREFIX ex: <{EX}> INSERT DATA {{ ex:a ex:name "Alice" }}')
    tx.commit()

    t1 = journal.begin()
    t2 = journal.begin()
    t1.update(f'PREFIX ex: <{EX}> INSERT DATA {{ ex:b ex:name "Bob" }}')
    t2.update(f'PREFIX ex: <{EX}> INSERT DATA {{ ex:c ex:name "Cara" }}')
    t1.commit()
    with pytest.raises(CommitConflict):
        t2.commit()
    # retry on the new head succeeds
    t3 = journal.begin()
    t3.update(f'PREFIX ex: <{EX}> INSERT DATA {{ ex:c ex:name "Cara" }}')
    t3.commit()
    assert names(journal.begin()) == ["Alice", "Bob", "Cara"]


def test_time_travel_read(journal):
    tx = journal.begin()
    tx.update(f'PREFIX ex: <{EX}> INSERT DATA {{ ex:a ex:name "Alice" }}')
    tx.commit()
    tx = journal.begin()
    tx.update(f'PREFIX ex: <{EX}> DELETE DATA {{ ex:a ex:name "Alice" }}')
    tx.commit()

    from database_spark.sparql.engine import SparqlEngine

    old = SparqlEngine(journal.open(version=1))
    assert names(old) == ["Alice"]
    assert names(journal.begin()) == []


def test_delta_commits_record_kinds_and_compact(journal):
    """CRUD commits write DELTAS (kilobytes, not the store); every
    COMPACT_EVERY-th version materializes full, bounding reconstruction
    to COMPACT_EVERY-1 folds; an empty commit records an empty kind."""
    n = journal.COMPACT_EVERY
    for i in range(n - 1):
        tx = journal.begin()
        tx.update(
            f'PREFIX ex: <{EX}> INSERT DATA {{ ex:p{i} ex:name "N{i}" }}'
        )
        tx.commit(f"c{i}")
    # before the full materialization every commit is a tracked delta
    kinds = journal._kinds()
    assert all(kinds[str(v)] == "delta" for v in range(1, n))
    tx = journal.begin()
    tx.update(
        f'PREFIX ex: <{EX}> INSERT DATA {{ ex:p{n - 1} ex:name "N{n - 1}" }}'
    )
    tx.commit(f"c{n - 1}")
    kinds = journal._kinds()
    assert kinds[str(n)] == "full"  # compaction fired
    # …and PRUNED the map below it (pointer metadata stays bounded);
    # pruned versions resolve by probing the immutable dirs
    assert all(int(v) >= n for v in kinds)
    assert journal._kind_of(2, kinds) == "delta"
    # empty commit → empty kind, still a commit point
    tx = journal.begin()
    assert tx.commit("noop") == n + 1
    assert journal._kinds()[str(n + 1)] == "empty"
    # reconstruction across the chain and time travel into it
    assert len(names(journal.begin())) == n
    from database_spark.sparql.engine import SparqlEngine

    assert names(SparqlEngine(journal.open(version=3))) == ["N0", "N1", "N2"]


def test_delta_add_then_remove_folds_to_net(journal):
    """Several updates in ONE tx fold to the net delta: an add that a
    later remove cancels never reaches storage as an add."""
    tx = journal.begin()
    tx.update(f'PREFIX ex: <{EX}> INSERT DATA {{ ex:a ex:name "Keep" }}')
    tx.update(f'PREFIX ex: <{EX}> INSERT DATA {{ ex:b ex:name "Gone" }}')
    tx.update(f'PREFIX ex: <{EX}> DELETE DATA {{ ex:b ex:name "Gone" }}')
    tx.commit()
    assert names(journal.begin()) == ["Keep"]
    # remove-then-revive across two updates
    tx = journal.begin()
    tx.update(f'PREFIX ex: <{EX}> DELETE DATA {{ ex:a ex:name "Keep" }}')
    tx.update(f'PREFIX ex: <{EX}> INSERT DATA {{ ex:a ex:name "Keep" }}')
    tx.commit()
    assert names(journal.begin()) == ["Keep"]


def test_full_commit_api_still_interoperates(journal):
    """Direct Journal.commit (full snapshot) and delta commits mix:
    kinds track each, and reconstruction uses the nearest full base."""
    tx = journal.begin()
    tx.update(f'PREFIX ex: <{EX}> INSERT DATA {{ ex:a ex:name "A" }}')
    tx.commit()  # delta v1
    journal.commit(journal.open(), message="manual full")  # full v2
    tx = journal.begin()
    tx.update(f'PREFIX ex: <{EX}> INSERT DATA {{ ex:b ex:name "B" }}')
    tx.commit()  # delta v3 on full base v2
    kinds = journal._kinds()
    # the manual full at v2 pruned v1's entry; v1 resolves by fs probe
    assert (kinds["2"], kinds["3"]) == ("full", "delta")
    assert "1" not in kinds
    assert journal._kind_of(1, kinds) == "delta"
    assert names(journal.begin()) == ["A", "B"]


def test_durable_engine_survives_restart(spark, tmp_path):
    """A journal-backed engine persists every commit as a delta; a new
    engine over the same journal path replays the head commit point —
    the durable-namespace shape."""
    path = str(tmp_path / "durable")
    eng = Journal(spark, path).durable_engine()
    eng.update(f'PREFIX ex: <{EX}> INSERT DATA {{ ex:a ex:name "Alice" }}')
    eng.update(f'PREFIX ex: <{EX}> INSERT DATA {{ ex:b ex:name "Bob" }}')
    eng.update(f'PREFIX ex: <{EX}> DELETE DATA {{ ex:a ex:name "Alice" }}')
    del eng

    # "restart": a fresh Journal object on the same path
    j2 = Journal(spark, path)
    assert j2.head() == 3
    eng2 = j2.durable_engine()
    assert names(eng2) == ["Bob"]
    eng2.update(f'PREFIX ex: <{EX}> INSERT DATA {{ ex:c ex:name "Cara" }}')
    assert names(Journal(spark, path).durable_engine()) == ["Bob", "Cara"]


def test_delta_replay_equivalence_randomized(journal):
    """Randomized add/remove sequences across several delta commits:
    after every commit, reconstructing the head from base+deltas must
    equal the committing engine's own store (the delta fold algebra is
    the correctness-critical surface)."""
    import random

    rng = random.Random(20260815)
    universe = [(f"s{i}", f"v{i % 3}") for i in range(8)]
    live: set = set()
    for commit_i in range(5):
        tx = journal.begin()
        for _ in range(rng.randint(1, 4)):
            s, v = rng.choice(universe)
            if rng.random() < 0.6 or (s, v) not in live:
                tx.update(
                    f'PREFIX ex: <{EX}> INSERT DATA {{ ex:{s} ex:name "{v}" }}'
                )
                live.add((s, v))
            else:
                tx.update(
                    f'PREFIX ex: <{EX}> DELETE DATA {{ ex:{s} ex:name "{v}" }}'
                )
                live.discard((s, v))
        tx.commit(f"r{commit_i}")
        got = {
            (r["s"]["lex"].rsplit("/", 1)[-1], r["n"]["lex"])
            for r in journal.begin()
            .select(f'PREFIX ex: <{EX}> SELECT ?s ?n WHERE {{ ?s ex:name ?n }}')
            .df.collect()
        }
        assert got == live, f"divergence after commit {commit_i + 1}"


def test_dump_journal_offline_introspection(journal, tmp_path):
    """tools/dump_journal.py (reference DumpJournal.java): version
    chain, delta insert/tombstone splits, head reconstruction depth,
    and dangling-dir detection — all offline (json + parquet footers,
    no SparkSession)."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from dump_journal import dump_journal

    eng = journal.durable_engine()
    eng.update(f'PREFIX ex: <{EX}> INSERT DATA {{ ex:a ex:name "Alice" }}')
    eng.update(f'PREFIX ex: <{EX}> INSERT DATA {{ ex:b ex:name "Bob" }}')
    eng.update(f'PREFIX ex: <{EX}> DELETE DATA {{ ex:a ex:name "Alice" }}')
    rep = dump_journal(journal.path)
    assert rep["head"] == 3
    kinds = [e["kind"] for e in rep["versions"]]
    assert kinds == ["delta", "delta", "delta"]
    assert [e["inserts"] for e in rep["versions"]] == [1, 1, 0]
    assert [e["tombstones"] for e in rep["versions"]] == [0, 0, 1]
    assert rep["head_reconstruction_depth"] == 3  # no full base yet
    assert rep["total_bytes"] > 0 and not rep["dangling"]

    # push past a full materialization: depth resets, cadence recorded
    for i in range(journal.COMPACT_EVERY):
        eng.update(f'PREFIX ex: <{EX}> INSERT DATA {{ ex:c{i} ex:name "N{i}" }}')
    rep = dump_journal(journal.path)
    assert rep["head"] == 3 + journal.COMPACT_EVERY
    fulls = [e["version"] for e in rep["versions"] if e["kind"] == "full"]
    assert fulls == [journal.COMPACT_EVERY]
    assert rep["head_reconstruction_depth"] == 3
    # net statements at v8: Bob + c0..c4 (Alice inserted then deleted)
    full_rows = next(e for e in rep["versions"] if e["kind"] == "full")["rows"]
    assert full_rows == 6

    # a version dir past the head pointer = crash residue → dangling
    os.makedirs(os.path.join(journal.path, "versions", "v99999999"))
    rep = dump_journal(journal.path)
    assert rep["dangling"] == [os.path.join("versions", "v99999999")]


def test_journal_deltas_preserve_layout_family(spark, tmp_path):
    """A journal whose base commit carries the three-layout family
    keeps it alive across DELTA commits and across the every-8th
    compaction (r10 missing #1; the reference maintains every index
    permutation per write — SPORelation.java): the reconstructed head
    still partition-prunes AND serves the delta rows, and the
    compacted full version re-materializes all three layouts."""
    import contextlib
    import io
    import os
    import sys

    from database_spark.sparql.engine import SparqlEngine
    from database_spark.store import TripleStore
    from database_spark.terms import Term

    journal = Journal(spark, str(tmp_path / "layout_journal"))
    trips = [
        (Term.iri(EX + f"s{i}"), Term.iri(EX + f"p{i % 5}"), Term.integer(i))
        for i in range(50)
    ]
    journal.commit(
        TripleStore.from_python_triples(spark, trips),
        partition_by_predicate=True,
    )
    tx = journal.begin()
    tx.update(f'PREFIX ex: <{EX}> INSERT DATA {{ ex:s1 ex:brandnew 4242 }}')
    tx.commit()
    head = journal.open()
    assert head.p_buckets and head.s_df is not None and head.o_df is not None
    res = SparqlEngine(head).select(
        f'PREFIX ex: <{EX}> SELECT ?p ?o WHERE {{ ex:s1 ?p ?o }}'
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        res.df.explain("formatted")
    plan = buf.getvalue()
    assert any(
        "PartitionFilters" in l and "s_bucket" in l for l in plan.splitlines()
    ), plan
    lex = sorted(r["o"]["lex"] for r in res.df.collect())
    assert "4242" in lex and len(lex) == 2
    # drive past the compaction point: the full materialization must
    # re-bucket ALL layouts, not flatten them away
    for i in range(journal.COMPACT_EVERY):
        tx = journal.begin()
        tx.update(f'PREFIX ex: <{EX}> INSERT DATA {{ ex:n{i} ex:name "N{i}" }}')
        tx.commit()
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from dump_journal import dump_journal

    rep = dump_journal(journal.path)
    fulls = [e for e in rep["versions"] if e["kind"] == "full"]
    assert fulls and fulls[-1]["layouts"] == ["p", "s", "o"]
    deltas = [e for e in rep["versions"] if e["kind"] == "delta"]
    assert deltas and all(e["layout_scope"] == "all" for e in deltas)
    head2 = journal.open()
    assert head2.p_buckets and head2.s_df is not None and head2.o_df is not None
    assert len(names(journal.begin())) == journal.COMPACT_EVERY


def test_journal_quads_base_keeps_g_layout(spark, tmp_path):
    """Quads journal: a base commit carrying the context-keyed
    ``_g_index`` keeps serving pruned GRAPH-bound scans across delta
    commits that touch named graphs."""
    import contextlib
    import io

    from database_spark.sparql.engine import SparqlEngine
    from database_spark.store import TripleStore
    from database_spark.terms import Term

    journal = Journal(spark, str(tmp_path / "quads_journal"))
    trips = [
        (
            Term.iri(EX + f"s{i}"),
            Term.iri(EX + f"p{i % 4}"),
            Term.integer(i),
            Term.iri(EX + f"g{i % 3}"),
        )
        for i in range(40)
    ]
    journal.commit(
        TripleStore.from_python_triples(spark, trips),
        partition_by_predicate=True,
    )
    tx = journal.begin()
    tx.update(
        f'PREFIX ex: <{EX}> INSERT DATA {{ GRAPH ex:g1 {{ ex:zz ex:pz 777 }} }}'
    )
    tx.update(
        f'PREFIX ex: <{EX}> DELETE DATA {{ GRAPH ex:g1 {{ ex:s1 ex:p1 1 }} }}'
    )
    tx.commit()
    head = journal.open()
    assert head.g_df is not None and head.g_buckets
    res = SparqlEngine(head).select(
        f'PREFIX ex: <{EX}> SELECT ?s ?o WHERE {{ GRAPH ex:g1 {{ ?s ?p ?o }} }}'
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        res.df.explain("formatted")
    assert any(
        "PartitionFilters" in l and "g_bucket" in l
        for l in buf.getvalue().splitlines()
    )
    lex = sorted(r["o"]["lex"] for r in res.df.collect())
    assert "777" in lex and "1" not in lex
    # g1 originally held i % 3 == 1 → 13 rows; -1 removed +1 added
    assert len(lex) == 13


def test_incremental_compaction_rewrites_touched_buckets_only(spark, tmp_path):
    """r11 verdict wrong #4: compaction used to rewrite ALL layouts in
    full every COMPACT_EVERY-th commit — O(store), not O(delta).  With
    a partitioned full base, the compaction now clones untouched bucket
    dirs (hardlinks locally — same inode as the base) and rewrites only
    the buckets the folded deltas touched, per layout; reconstruction
    and the next commit chain stay green, and dump_journal reports the
    mixed version."""
    import os

    from database_spark.store import TripleStore
    from database_spark.terms import Term

    journal = Journal(spark, str(tmp_path / "incr_journal"))
    journal.COMPACT_EVERY = 4
    base_dir = str(tmp_path / "incr_base")
    trips = [
        (Term.iri(EX + f"s{i}"), Term.iri(EX + f"p{i % 5}"), Term.integer(i))
        for i in range(60)
    ]
    TripleStore.from_python_triples(spark, trips).save(
        base_dir, partition_by_predicate=True, buckets=8
    )
    journal.commit(TripleStore.load(spark, base_dir))  # full v1, buckets=8

    # three delta commits: two single-triple inserts + one delete
    for i in range(2):
        tx = journal.begin()
        tx.update(f'PREFIX ex: <{EX}> INSERT DATA {{ ex:new{i} ex:p0 {1000 + i} }}')
        tx.commit(f"d{i}")
    tx = journal.begin()
    tx.update(f'PREFIX ex: <{EX}> DELETE DATA {{ ex:s7 ex:p2 7 }}')
    tx.commit("del")  # v4 => compaction fires

    kinds = journal._kinds()
    assert kinds["4"] == "full"
    v4 = journal._vdir(4)
    meta = TripleStore._read_meta(spark, v4)
    comp = meta.get("compaction")
    assert comp and comp["mode"] == "incremental" and comp["base"] == 1
    # a strict subset of buckets was rewritten, for every layout
    for layout in ("p", "s", "o"):
        assert 0 < len(comp["rewritten"][layout]) < 8, (layout, comp)

    # filesystem: untouched bucket dirs are hardlinks of the base files
    v1 = journal._vdir(1)
    touched_p = set(comp["rewritten"]["p"])

    def inode_map(d):
        out = {}
        for root, dirs, files in os.walk(d):
            for f in files:
                if f.endswith(".parquet"):
                    out[os.path.relpath(os.path.join(root, f), d)] = os.stat(
                        os.path.join(root, f)
                    ).st_ino
        return out

    base_inodes, new_inodes = inode_map(v1), inode_map(v4)
    shared = {k for k in new_inodes if base_inodes.get(k) == new_inodes[k]}
    assert shared, "untouched buckets must be hardlinked, not rewritten"
    for rel in shared:  # no shared file sits in a touched p bucket
        if rel.startswith("p_bucket="):
            assert int(rel.split("=", 1)[1].split("/")[0]) not in touched_p
    # and at least one file in v4 is genuinely new (the touched rewrite)
    assert any(k for k in new_inodes if k not in shared)

    # reconstruction: head == base + inserts - delete, via the v4 full
    head = journal.open()
    assert head.p_buckets == 8 and head.s_df is not None
    assert head.df.count() == 60 + 2 - 1
    from database_spark.sparql.engine import SparqlEngine

    res = SparqlEngine(head).select(
        f'PREFIX ex: <{EX}> SELECT ?o WHERE {{ ex:new0 ex:p0 ?o }}'
    )
    assert [r["o"]["lex"] for r in res.df.collect()] == ["1000"]
    res2 = SparqlEngine(head).select(
        f'PREFIX ex: <{EX}> SELECT ?o WHERE {{ ex:s7 ex:p2 ?o }}'
    )
    assert res2.df.count() == 0

    # the chain continues: another round of deltas compacts on base v4
    for i in range(2, 6):
        tx = journal.begin()
        tx.update(f'PREFIX ex: <{EX}> INSERT DATA {{ ex:new{i} ex:p1 {1000 + i} }}')
        tx.commit(f"d{i}")
    assert journal.head() == 8
    meta8 = TripleStore._read_meta(spark, journal._vdir(8))
    assert meta8.get("compaction", {}).get("base") == 4
    assert journal.open().df.count() == 60 + 6 - 1

    # dump_journal surfaces the mixed versions, no dangling dirs
    from tools.dump_journal import dump_journal
    rep = dump_journal(journal.path)
    full_entries = [e for e in rep["versions"] if e["kind"] == "full"]
    assert any(e.get("compaction", {}).get("mode") == "incremental"
               for e in full_entries)
    assert rep["dangling"] == []


def test_incremental_compaction_falls_back_without_partitioned_base(
    spark, tmp_path
):
    """A flat (unpartitioned) base cannot prune buckets: compaction
    falls back to the classic full rewrite and records no compaction
    metadata."""
    from database_spark.store import TripleStore

    journal = Journal(spark, str(tmp_path / "flat_journal"))
    journal.COMPACT_EVERY = 2
    tx = journal.begin()
    tx.update(f'PREFIX ex: <{EX}> INSERT DATA {{ ex:a ex:name "A" }}')
    tx.commit()  # delta v1 (no full base at all)
    tx = journal.begin()
    tx.update(f'PREFIX ex: <{EX}> INSERT DATA {{ ex:b ex:name "B" }}')
    tx.commit()  # v2: compaction -> full save fallback
    assert journal._kinds()["2"] == "full"
    meta = TripleStore._read_meta(spark, journal._vdir(2))
    assert "compaction" not in meta
    assert sorted(names(journal.begin())) == ["A", "B"]


def test_commit_delta_with_in_memory_store_takes_full_rewrite(spark, tmp_path):
    """The incremental compaction's provenance guard must refuse a
    store whose frames read NO files: a checkpointed (rebuilt) store
    with the base's bucket layout is not provably fold(base, deltas),
    so ``commit_delta(..., store=...)`` takes the classic full rewrite
    instead of cloning untouched buckets from the base."""
    from database_spark.journal import _files_under
    from database_spark.operators import lifecycle as L
    from database_spark.store import TripleStore
    from database_spark.terms import Term

    journal = Journal(spark, str(tmp_path / "mem_journal"))
    journal.COMPACT_EVERY = 2
    base_dir = str(tmp_path / "mem_base")
    trips = [
        (Term.iri(EX + f"s{i}"), Term.iri(EX + f"p{i % 5}"), Term.integer(i))
        for i in range(30)
    ]
    TripleStore.from_python_triples(spark, trips).save(
        base_dir, partition_by_predicate=True, buckets=8
    )
    journal.commit(TripleStore.load(spark, base_dir))  # full v1, buckets=8
    added = TripleStore.from_python_triples(
        spark, [(Term.iri(EX + "n"), Term.iri(EX + "p0"), Term.integer(99))]
    ).df.select("st", "pt", "ot", "gt")
    folded = TripleStore.load(spark, base_dir).add(added)
    store = folded.rebuilt()  # same statements, reads no files
    assert store.p_buckets == 8 and store.s_df is not None
    assert not _files_under(store.df, journal._vdir(1))
    assert not _files_under(
        TripleStore.from_python_triples(spark, trips).df, str(tmp_path / "nowhere")
    )
    assert journal.commit_delta(added, None, store=store) == 2
    assert journal._kinds()["2"] == "full"
    assert "compaction" not in TripleStore._read_meta(spark, journal._vdir(2))
    assert journal.open().df.count() == 31
    for snap in (*folded.snaps, *store.snaps):
        L.unprotect_and_free(snap)
