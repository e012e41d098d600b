"""Regression tests for round-1 advisor findings (ADVICE.md r1):
DISTINCT+ORDER BY ordering, RDFterm-equal across categories,
EXISTS-marker join with maybe-unbound vars, null booleans in rdfize.
(The fixpoint truncation tests live in test_iterate.py.)"""

import pytest
from pyspark.sql import functions as F

from database_spark import terms as T
from database_spark.sparql.engine import SparqlEngine
from database_spark.store import RdfMapping, TripleStore, rdfize
from database_spark.terms import Term

EX = "http://example.org/"


def iri(x):
    return Term.iri(EX + x)


@pytest.fixture(scope="module")
def engine(spark):
    knows, name, age = iri("knows"), iri("name"), iri("age")
    trips = [
        (iri("alice"), name, Term.literal("Alice")),
        (iri("alice"), age, Term.integer(30)),
        (iri("alice"), knows, iri("bob")),
        (iri("bob"), name, Term.literal("Bob")),
        (iri("bob"), age, Term.integer(25)),
        (iri("bob"), knows, iri("carol")),
        (iri("carol"), name, Term.literal("Carol")),
        (iri("dave"), name, Term.literal("Dave")),
        # duplicate-value names to make DISTINCT meaningful
        (iri("alice2"), name, Term.literal("Alice")),
        (iri("bob2"), name, Term.literal("Bob")),
    ]
    store = TripleStore.from_python_triples(spark, trips)
    store = TripleStore(spark, store.df.localCheckpoint())
    return SparqlEngine(store)


def lex_rows(res):
    return [
        tuple((r[v]["lex"] if r[v] is not None else None) for v in res.vars)
        for r in res.df.collect()
    ]


def test_distinct_order_by_limit_keeps_order(engine):
    # dropDuplicates is a hash aggregate: without the re-sort, LIMIT
    # keeps arbitrary rows (ADVICE r1 #1)
    res = engine.select(f"""
        PREFIX ex: <{EX}>
        SELECT DISTINCT ?n WHERE {{ ?p ex:name ?n }} ORDER BY DESC(?n) LIMIT 2""")
    assert lex_rows(res) == [("Dave",), ("Carol",)]
    res2 = engine.select(f"""
        PREFIX ex: <{EX}>
        SELECT DISTINCT ?n WHERE {{ ?p ex:name ?n }} ORDER BY ?n""")
    assert lex_rows(res2) == [("Alice",), ("Bob",), ("Carol",), ("Dave",)]


def test_term_inequality_across_categories(engine):
    # FILTER(?f != "nobody"): ?f is an IRI, literal on the right —
    # RDFterm-equal says different kinds are unequal, so != is true
    # (previously a type error → row dropped)
    res = engine.select(f"""
        PREFIX ex: <{EX}>
        SELECT ?f WHERE {{ ?p ex:knows ?f . FILTER(?f != "nobody") }}""")
    assert sorted(lex_rows(res)) == [(EX + "bob",), (EX + "carol",)]
    # '=' between an IRI and a literal is false, not an error
    res2 = engine.select(f"""
        PREFIX ex: <{EX}>
        SELECT ?f WHERE {{ ?p ex:knows ?f . FILTER(?f = "nobody") }}""")
    assert lex_rows(res2) == []


def test_exists_marker_with_maybe_unbound_var(engine):
    # EXISTS nested in || forces the marker path; ?f is maybe-unbound
    # (OPTIONAL). Unbound vars are FREE in the EXISTS pattern per the
    # spec's substitution rule, so the pattern still matches.
    res = engine.select(f"""
        PREFIX ex: <{EX}>
        SELECT ?n WHERE {{
          ?p ex:name ?n .
          OPTIONAL {{ ?p ex:knows ?f }}
          FILTER(EXISTS {{ ?f ex:name ?fn }} || ?n = "zzz")
        }}""")
    got = sorted(lex_rows(res))
    # every person qualifies: alice/bob have a bound known-with-name;
    # the rest have ?f unbound → free var → non-empty pattern.
    # exactly once each — the null-compatible join must not multiply rows
    assert got == [("Alice",), ("Alice",), ("Bob",), ("Bob",), ("Carol",), ("Dave",)]


def test_rdfize_null_boolean_skipped(spark):
    df = spark.createDataFrame(
        [(1, True), (2, None), (3, False)], "id long, flag boolean"
    )
    mapping = RdfMapping(
        subject_key="id", subject_prefix="urn:x:", predicates={"flag": EX + "flag"}
    )
    trips = rdfize(spark, df, mapping)
    got = {
        r["st"]["lex"].rsplit(":", 1)[-1]: r["ot"]["lex"]
        for r in trips.collect()
    }
    # null boolean emits NO triple (previously a spurious "false")
    assert got == {"1": "true", "3": "false"}
