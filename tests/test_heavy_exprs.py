"""Heavy (computed-BIND) variable handling in expression compilation.

Catalyst's filter pushdown substitutes a BIND's defining expression
into every reference of the bound variable; consumers that fan a
variable out k times (compare's category ladder, IN lists) then grow
the physical plan k·|expr|-fold.  The compiler marks computed binds as
HEAVY and `_let`-binds references to them so the defining tree is
embedded exactly once (functions.ExprCompiler.heavy).  These tests pin
(a) the single-embedding property, (b) unchanged results, and (c) the
sort-key width contract the ORDER BY wrapping relies on.
"""

import pyspark.sql.functions as F
import pytest

from database_spark import terms as T
from database_spark.sparql import ast as A
from database_spark.sparql.engine import SparqlEngine
from database_spark.sparql.functions import ExprCompiler
from database_spark.store import TripleStore
from database_spark.terms import Term


def _cmp_expr():
    return A.Op(
        ">",
        [A.Var("fee"), A.Const(Term.integer(900))],
    )


def test_heavy_var_embedded_once(spark):
    resolve = lambda name: F.col(name)  # noqa: E731
    plain = ExprCompiler(resolve).bool(_cmp_expr())
    heavy = ExprCompiler(resolve, heavy={"fee"}).bool(_cmp_expr())
    n_plain = repr(plain).count("fee")
    n_heavy = repr(heavy).count("fee")
    # the let-binding embeds the operand exactly once; the plain path
    # fans it out through the comparison ladder
    assert n_heavy == 1
    assert n_plain > 1


def test_heavy_var_marked_after_construction_is_seen(spark):
    """The compiler hands ExprCompiler its LIVE ``_heavy_vars`` set,
    which a later BIND extends: an empty set at construction must stay
    aliased (``heavy or ()`` replaced it with a fresh tuple)."""
    resolve = lambda name: F.col(name)  # noqa: E731
    heavy: set = set()
    ec = ExprCompiler(resolve, heavy=heavy)
    heavy.add("fee")
    assert ec.heavy is heavy
    assert repr(ec.bool(_cmp_expr())).count("fee") == 1


@pytest.fixture(scope="module")
def eng(spark):
    iri = Term.iri
    typ = iri("http://www.w3.org/1999/02/22-rdf-syntax-ns#type")
    item, key = iri("urn:t:Item"), iri("urn:t:key")
    trips = []
    for i in range(30):
        node = iri(f"urn:i:{i}")
        trips += [(node, typ, item), (node, key, Term.integer(i))]
    store = TripleStore.from_python_triples(spark, trips)
    store = TripleStore(spark, store.df.localCheckpoint())
    return SparqlEngine(store)


def test_heavy_filter_results_identical(eng):
    """BIND + FILTER(cmp && IN) + ORDER BY over a computed value: the
    heavy-var plan (wrapped references) returns the same rows a literal
    recomputation predicts."""
    q = """
    SELECT ?key2 WHERE {
      ?n a <urn:t:Item> ; <urn:t:key> ?k .
      BIND(?k * 2 + 1 AS ?key2)
      FILTER(?key2 > 20 && ?key2 IN (21, 23, 25, 29, 31, 37, 41, 43, 45, 47, 49))
    } ORDER BY DESC(?key2)
    """
    got = [int(r["key2"]["lex"]) for r in eng.select(q).df.collect()]
    want = sorted(
        (
            v
            for v in (2 * i + 1 for i in range(30))
            if v > 20 and v in {21, 23, 25, 29, 31, 37, 41, 43, 45, 47, 49}
        ),
        reverse=True,
    )
    assert got == want


def test_sort_key_width_contract(spark):
    t = F.lit(None).cast(T.TERM_TYPE)
    assert len(T.sort_key(t)) == T.SORT_KEY_WIDTH


def test_plan_size_bounded_for_bind_filter(spark, eng):
    """The pushed-down FILTER over a computed BIND must not replicate
    the bind tree: physical-plan text stays far below the pre-fix
    blowup (>90KB for one BIND+FILTER pair)."""
    q = """
    SELECT ?n ?fee WHERE {
      ?n a <urn:t:Item> ; <urn:t:key> ?k .
      BIND(?k * 0.1 AS ?fee)
      FILTER(?fee > 1.5)
    }
    """
    df = eng.select(q).df
    jvm = spark._jvm
    plan = df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert len(plan) < 60_000, f"plan blew up to {len(plan)} chars"
