"""SPARQL value-expression compiler → Spark Columns.

Reference: one BOp class per function under
``bigdata-rdf/.../internal/constraints/`` (e.g. ``CompareBOp.java:59``
for type-promoting comparison, ``EBVBOp.java`` for effective boolean
value, ``MathBOp.java`` for promoted arithmetic), registered in
``FunctionRegistry.java:125-249``.  Errors raise
``SparqlTypeErrorException`` which FILTER treats as false and BIND as
unbound (``SPARQLConstraint.java:45``, ``ConditionalBind.java:25``).

Spark design: an expression compiles to either
* a TERM struct Column (``compile_term``) — null = error/unbound, or
* a boolean Column (``compile_bool``) — null = error,
so Spark's 3-valued logic *is* SPARQL's error logic (null AND false =
false; null OR true = true — exactly the SPARQL truth tables), and a
FILTER is ``coalesce(expr, false)``.  Catalyst collapses the
struct-pack/field-extract pairs these produce (SimplifyExtractValueOps),
so the term-struct calling convention costs nothing at runtime.
"""

from __future__ import annotations

import contextvars

from pyspark.sql import Column
from pyspark.sql import functions as F

from .. import terms as T
from . import ast as A

#: query hints of the query currently being COMPILED (expressions are
#: built eagerly driver-side, so a compile-scoped contextvar is enough;
#: set by SparqlEngine around each compile)
QUERY_HINTS: contextvars.ContextVar[dict] = contextvars.ContextVar(
    "QUERY_HINTS", default={}
)

def NUM_DTS():
    """Snapshot at expression-build time so datatypes registered via
    terms.register_datatype (IExtension analog) are honored by later
    queries."""
    return list(T.NUMERIC_DATATYPES.keys())


def INTEGER_DTS():
    return [dt for dt, fam in T.NUMERIC_DATATYPES.items() if fam == "integer"]
DOUBLE_DTS = [T.XSD_DOUBLE, T.XSD_FLOAT]


def _is_simple(e) -> bool:
    """AST nodes whose compiled column is a flat reference/literal —
    safe to inline into promotion CASE trees without size blowup."""
    return isinstance(e, (A.Var, A.Const))


def _let(cols: list, fn, simple: list | None = None) -> Column:
    """HOF-based 'let' binding: embed each non-trivial operand tree
    exactly ONCE and give ``fn`` lambda-variable references to it
    (``transform`` over a one-element array of a struct).  Catalyst
    shares no common subexpressions at analysis time, so without this
    nested type-promotion CASE trees duplicate their operands at every
    level — exponential in expression depth.  Operands flagged
    ``simple`` are passed through unchanged (keeps flat arithmetic in
    whole-stage codegen with zero wrapping)."""
    simple = simple if simple is not None else [False] * len(cols)
    if all(simple):
        return fn(*cols)
    bound = [c for c, s in zip(cols, simple) if not s]
    packed = F.struct(*[c.alias(f"__l{i}") for i, c in enumerate(bound)])

    def body(x):
        args, j = [], 0
        for c, s in zip(cols, simple):
            if s:
                args.append(c)
            else:
                args.append(x.getField(f"__l{j}"))
                j += 1
        return fn(*args)

    return F.transform(F.array(packed), body)[0]


class SparqlCompileError(Exception):
    pass


# -------------------------------------------------------- custom aggregates
#: IRI → fn(input: term-struct Column, distinct: bool) -> aggregate
#: term-struct Column.  The reference's IAggregate extension point
#: (CORE/bop/aggregate/IAggregate.java): user code registers an
#: aggregate under an IRI and uses it like a builtin in GROUP BY
#: queries.  Implementations should return a TERM struct (use the
#: pack_* helpers) so results flow through projection/ORDER BY like
#: any other value.  Prefer built-in Spark aggregate expressions
#: (JVM-side, partial+final); a pandas_udf GROUPED_AGG also works.
CUSTOM_AGGREGATES: dict = {}

#: IRI → fn(*term_struct_columns) -> term-struct Column.  The
#: reference's FunctionRegistry.add() extension point for scalar
#: functions: register once, call by IRI from any expression.
CUSTOM_FUNCTIONS: dict = {}


def register_aggregate(iri: str, fn) -> None:
    CUSTOM_AGGREGATES[iri] = fn


def unregister_aggregate(iri: str) -> None:
    CUSTOM_AGGREGATES.pop(iri, None)


def register_function(iri: str, fn) -> None:
    CUSTOM_FUNCTIONS[iri] = fn


def unregister_function(iri: str) -> None:
    CUSTOM_FUNCTIONS.pop(iri, None)


# ---------------------------------------------------------------- packing
def pack_string(col: Column) -> Column:
    return F.when(col.isNotNull(), T.term_struct(F.lit(T.KIND_LITERAL), col, F.lit(T.XSD_STRING), F.lit(None)))


def pack_bool(col: Column) -> Column:
    return F.when(
        col.isNotNull(),
        T.term_struct(F.lit(T.KIND_LITERAL), F.when(col, "true").otherwise("false"), F.lit(T.XSD_BOOLEAN), F.lit(None)),
    )


def pack_integer(col: Column) -> Column:
    return F.when(
        col.isNotNull(),
        T.term_struct(F.lit(T.KIND_LITERAL), col.cast("long").cast("string"), F.lit(T.XSD_INTEGER), F.lit(None)),
    )


def pack_double(col: Column) -> Column:
    return F.when(
        col.isNotNull(),
        T.term_struct(F.lit(T.KIND_LITERAL), col.cast("double").cast("string"), F.lit(T.XSD_DOUBLE), F.lit(None)),
    )


def _num_lex(value: Column, dt: Column) -> Column:
    """Lexical form of a numeric result under result-datatype `dt`."""
    return (
        F.when(dt == T.XSD_INTEGER, value.cast("long").cast("string"))
        .when(dt == T.XSD_DECIMAL, value.cast("decimal(38,12)").cast("string"))
        # float results print at float32 precision (Java
        # Float.toString semantics — bsbm-bi-q5 AVG over xsd:float)
        .when(dt == T.XSD_FLOAT, value.cast("float").cast("string"))
        .otherwise(value.cast("string"))
    )


def pack_numeric(value: Column, dt: Column) -> Column:
    """Pack a double value as a literal of runtime datatype `dt`."""
    return F.when(
        value.isNotNull() & dt.isNotNull(),
        T.term_struct(F.lit(T.KIND_LITERAL), _num_lex(value, dt), dt, F.lit(None)),
    )


def pack_datetime(col: Column) -> Column:
    lex = F.date_format(col, "yyyy-MM-dd'T'HH:mm:ss")
    return F.when(col.isNotNull(), T.term_struct(F.lit(T.KIND_LITERAL), lex, F.lit(T.XSD_DATETIME), F.lit(None)))


# ------------------------------------------------------------- accessors
def kind(t: Column) -> Column:
    return t.getField("kind")


def lex(t: Column) -> Column:
    return t.getField("lex")


def dt_of(t: Column) -> Column:
    return t.getField("dt")


def lang_of(t: Column) -> Column:
    return t.getField("lang")


def is_literal(t: Column) -> Column:
    return t.isNotNull() & (kind(t) == T.KIND_LITERAL)


def is_numeric(t: Column) -> Column:
    return is_literal(t) & dt_of(t).isin(*NUM_DTS()) & T.numeric_value(t).isNotNull()


def is_stringish(t: Column) -> Column:
    """simple / xsd:string / lang-tagged — the STR-function domain."""
    return is_literal(t) & (dt_of(t).isin(T.XSD_STRING, T.RDF_LANGSTRING))


def str_value(t: Column) -> Column:
    """String value for string functions: error (null) unless string-ish."""
    return F.when(is_stringish(t), lex(t))


def _literal_lex(t: Column) -> Column:
    """Lexical form of ANY literal (error/null for IRIs and bnodes) —
    the reference's IVValueExpression.getAndCheckLiteralValue contract."""
    return F.when(kind(t) == T.KIND_LITERAL, lex(t))


def dt_rank(t: Column) -> Column:
    """Numeric promotion rank: integer<decimal<float/double (SUM.java:53)."""
    d = dt_of(t)
    return (
        F.when(d.isin(*INTEGER_DTS()), F.lit(0))
        .when(d == T.XSD_DECIMAL, F.lit(1))
        .when(d == T.XSD_FLOAT, F.lit(2))
        .when(d == T.XSD_DOUBLE, F.lit(3))
    )


def rank_dt(rank: Column) -> Column:
    return (
        F.when(rank == 0, F.lit(T.XSD_INTEGER))
        .when(rank == 1, F.lit(T.XSD_DECIMAL))
        .when(rank == 2, F.lit(T.XSD_FLOAT))
        .otherwise(F.lit(T.XSD_DOUBLE))
    )


def ebv(t: Column) -> Column:
    """Effective boolean value (EBVBOp.java); null = type error."""
    d = dt_of(t)
    n = T.numeric_value(t)
    return (
        F.when(t.isNull(), F.lit(None).cast("boolean"))
        .when(kind(t) != T.KIND_LITERAL, F.lit(None).cast("boolean"))
        .when(d == T.XSD_BOOLEAN, T.boolean_value(t))
        .when(d.isin(*NUM_DTS()), F.when(n.isNotNull(), n != 0))
        .when(d.isin(T.XSD_STRING, T.RDF_LANGSTRING), F.length(lex(t)) > 0)
    )


# ------------------------------------------------------------ comparison
_CMP = {
    "=": lambda a, b: a == b,
    "!=": lambda a, b: a != b,
    "<": lambda a, b: a < b,
    ">": lambda a, b: a > b,
    "<=": lambda a, b: a <= b,
    ">=": lambda a, b: a >= b,
}


def term_equal(a: Column, b: Column) -> Column:
    """RDF term identity (sameTerm)."""
    return (
        (kind(a) == kind(b))
        & (lex(a) == lex(b))
        & (F.coalesce(dt_of(a), F.lit("")) == F.coalesce(dt_of(b), F.lit("")))
        & (F.coalesce(lang_of(a), F.lit("")) == F.coalesce(lang_of(b), F.lit("")))
    )


def const_info(e) -> dict | None:
    """Static category of an A.Const operand (compile-time type
    narrowing, the analog of the reference comparing INLINE IVs without
    the cross-category machinery).  None = not statically known."""
    from . import ast as A  # local alias to avoid cycle at import time

    if not isinstance(e, A.Const):
        return None
    t = e.term
    if t.kind != T.KIND_LITERAL:
        return {"cat": "nonlit"}
    dt = t.dt or T.XSD_STRING
    if dt in T.NUMERIC_DATATYPES:
        try:
            rank = (
                0
                if T.NUMERIC_DATATYPES[dt] == "integer"
                else 1
                if dt == T.XSD_DECIMAL
                else 2
                if dt == T.XSD_FLOAT
                else 3
            )
            return {"cat": "num", "val": float(t.lex), "rank": rank}
        except (TypeError, ValueError):
            return None
    if dt == T.XSD_STRING:
        return {"cat": "str"}
    if dt == T.RDF_LANGSTRING:
        return {"cat": "lang"}
    if dt == T.XSD_BOOLEAN:
        return {"cat": "bool"}
    if dt in (T.XSD_DATETIME, T.XSD_DATE):
        return {"cat": "dt"}
    return None


def compare(a: Column, b: Column, op: str, ia: dict | None = None, ib: dict | None = None) -> Column:
    """SPARQL operator mapping w/ type promotion (CompareBOp.java:59).

    Value comparison within numeric / string / boolean / dateTime
    categories; `=`/`!=` additionally defined on IRIs & bnodes as term
    identity; anything else is a type error (null).

    ia/ib: optional static operand categories (``const_info``).  A
    known category prunes every impossible branch from the CASE tree —
    the common ``?x > 900`` filter then compiles to the numeric branch
    alone instead of the full cross-category ladder (smaller plan,
    faster driver-side build, tighter codegen).
    """
    f = _CMP[op]

    def feasible(cat_set) -> bool:
        ok_a = ia is None or ia["cat"] in cat_set
        ok_b = ib is None or ib["cat"] in cat_set
        return ok_a and ok_b

    result = F.when(a.isNull() | b.isNull(), F.lit(None).cast("boolean"))
    if feasible({"num"}):
        va = F.lit(ia["val"]) if ia else T.numeric_value(a)
        vb = F.lit(ib["val"]) if ib else T.numeric_value(b)
        both_num = (
            (F.lit(True) if ia else is_numeric(a))
            & (F.lit(True) if ib else is_numeric(b))
        )
        result = result.when(both_num, f(va, vb))
    if feasible({"str"}):
        simple_a = is_literal(a) & (dt_of(a) == T.XSD_STRING)
        simple_b = is_literal(b) & (dt_of(b) == T.XSD_STRING)
        result = result.when(simple_a & simple_b, f(lex(a), lex(b)))
    if feasible({"lang"}):
        lang_pair = (
            is_literal(a) & is_literal(b)
            & (dt_of(a) == T.RDF_LANGSTRING) & (dt_of(b) == T.RDF_LANGSTRING)
            & (lang_of(a) == lang_of(b))
        )
        result = result.when(lang_pair, f(lex(a), lex(b)))
    if feasible({"bool"}):
        both_bool = (dt_of(a) == T.XSD_BOOLEAN) & (dt_of(b) == T.XSD_BOOLEAN)
        result = result.when(both_bool, f(T.boolean_value(a), T.boolean_value(b)))
    if feasible({"dt"}):
        both_dt = T.datetime_value(a).isNotNull() & T.datetime_value(b).isNotNull()
        result = result.when(both_dt, f(T.datetime_value(a), T.datetime_value(b)))
    if op in ("=", "!="):
        # static substitutions for a known-const side
        a_is_lit = F.lit(ia["cat"] != "nonlit") if ia else is_literal(a)
        b_is_lit = F.lit(ib["cat"] != "nonlit") if ib else is_literal(b)
        a_lang = F.lit(ia["cat"] == "lang") if ia else (dt_of(a) == T.RDF_LANGSTRING)
        b_lang = F.lit(ib["cat"] == "lang") if ib else (dt_of(b) == T.RDF_LANGSTRING)
        ident = term_equal(a, b)
        if (ia is None or ia["cat"] == "nonlit") and (
            ib is None or ib["cat"] == "nonlit"
        ):
            non_lit = (kind(a) != T.KIND_LITERAL) & (kind(b) != T.KIND_LITERAL)
            result = result.when(non_lit, ident if op == "=" else ~ident)
        # RDFterm-equal: terms of different kinds (IRI vs literal vs bnode)
        # are never equal — '=' is false, '!=' true. Only both-literal
        # mismatches can remain a type error (values might still coincide).
        if ia is None or ib is None or (
            (ia["cat"] == "nonlit") != (ib["cat"] == "nonlit")
        ):
            result = result.when(kind(a) != kind(b), F.lit(op == "!="))
        # same unknown-datatype literals: identical term => equal;
        # different terms of unsupported types remain an error for '='
        if (ia is None or ia["cat"] != "nonlit") and (
            ib is None or ib["cat"] != "nonlit"
        ):
            result = result.when(a_is_lit & b_is_lit & ident, F.lit(op == "="))
            # a language-tagged literal is provably distinct from any
            # non-lang literal, and from a lang literal with another tag —
            # false, not a type error (W3C open-eq-12: x2/x3 rows are
            # excluded, not error→unbound)
            result = result.when(
                a_is_lit & b_is_lit & (a_lang != b_lang), F.lit(op == "!=")
            )
            if (ia is None or ia["cat"] == "lang") and (
                ib is None or ib["cat"] == "lang"
            ):
                result = result.when(a_lang & b_lang, F.lit(op == "!="))
    return result


# ------------------------------------------------------------- compiler
class ExprCompiler:
    """Compiles AST expressions against a variable→Column resolver.

    `resolve(name)` must return the TERM struct Column for a variable
    (or raise KeyError for out-of-scope vars → compiled as unbound).
    `replacements` maps id(node) → Column for pre-computed subtrees
    (EXISTS markers, aggregate result columns).
    """

    def __init__(self, resolve, replacements: dict | None = None, agg_pairs: list | None = None, heavy=None):
        #: variable names whose resolved column is EXPRESSION-BACKED
        #: (computed BINDs): Catalyst's project-collapse/filter-pushdown
        #: substitutes the defining expression into every downstream
        #: reference, so a consumer that fans a heavy var out k times
        #: (compare's category ladder, IN lists, builtin arg probes)
        #: grows the physical plan k·|expr|-fold — the optimizer and
        #: codegen then chew megabyte expression trees (measured:
        #: sparql_bind's FILTER on a BIND-computed value produced a
        #: 95 KB Filter condition).  Heavy vars are treated as
        #: NON-simple so `_let` embeds them exactly once; plain scan
        #: vars keep the zero-wrapping fast path and their plans are
        #: bit-identical.
        # `is not None`, not `or`: an empty set is the compiler's LIVE
        # _heavy_vars, which later BINDs extend after construction
        self.heavy = heavy if heavy is not None else ()
        self.resolve = resolve
        self.replacements = replacements or {}
        self.agg_pairs = agg_pairs or []

    def _agg_col(self, e):
        for node, col in self.agg_pairs:
            if node is e or node == e:
                return col
        return None

    def _simple(self, e) -> bool:
        """Like module-level ``_is_simple`` but a reference to a HEAVY
        (computed-BIND) variable counts as non-trivial — the attribute
        is cheap NOW, but Catalyst will substitute the defining
        expression into every copy of it (see ``heavy``)."""
        if isinstance(e, A.Var):
            return e.name not in self.heavy
        return _is_simple(e)

    # ---- dispatch
    def term(self, e) -> Column:
        if id(e) in self.replacements:
            return self.replacements[id(e)]
        if isinstance(e, A.AggExpr):
            col = self._agg_col(e)
            if col is None:
                raise SparqlCompileError(f"aggregate outside aggregation context: {e!r}")
            return col
        if isinstance(e, A.Var):
            try:
                return self.resolve(e.name)
            except KeyError:
                return F.lit(None).cast(T.TERM_TYPE)
        if isinstance(e, A.Const):
            return T.lit_term(e.term)
        if isinstance(e, A.Op):
            if e.op in ("||", "&&", "!", "=", "!=", "<", ">", "<=", ">="):
                return pack_bool(self.bool(e))
            return self._arith(e)
        if isinstance(e, A.FuncCall):
            return self._func(e)
        if isinstance(e, A.InExpr):
            return pack_bool(self.bool(e))
        if isinstance(e, A.SidExpr):
            return T.sid_col(
                self.term(e.s), self.term(e.p), self.term(e.o)
            )
        if isinstance(e, A.ExistsExpr):
            raise SparqlCompileError("EXISTS must be pre-bound by the pattern compiler")
        raise SparqlCompileError(f"cannot compile expression {e!r}")

    def bool(self, e) -> Column:
        if id(e) in self.replacements:
            return ebv(self.replacements[id(e)])
        if isinstance(e, A.AggExpr):
            return ebv(self.term(e))
        if isinstance(e, A.Op):
            if e.op == "||":
                return self.bool(e.args[0]) | self.bool(e.args[1])
            if e.op == "&&":
                return self.bool(e.args[0]) & self.bool(e.args[1])
            if e.op == "!":
                return ~self.bool(e.args[0])
            if e.op in _CMP:
                # _let-bound: compare's category ladder references each
                # operand several times — fine for plain column refs,
                # plan-exploding for computed operands / heavy vars
                ia, ib = const_info(e.args[0]), const_info(e.args[1])
                return _let(
                    [self.term(e.args[0]), self.term(e.args[1])],
                    lambda a, b: compare(a, b, e.op, ia, ib),
                    simple=[self._simple(x) for x in e.args],
                )
        if isinstance(e, A.InExpr):
            iexp = const_info(e.expr)

            def in_tests(t: Column) -> Column:
                tests = [
                    compare(t, self.term(o), "=", iexp, const_info(o))
                    for o in e.options
                ]
                if not tests:
                    return F.lit(not e.negated) & t.isNotNull()
                acc = tests[0]
                for x in tests[1:]:
                    acc = acc | x
                return ~acc if e.negated else acc

            return _let(
                [self.term(e.expr)], in_tests, simple=[self._simple(e.expr)]
            )
        if isinstance(e, A.FuncCall) and e.name in ("ISIRI", "ISURI", "ISBLANK", "ISLITERAL", "ISNUMERIC", "BOUND", "SAMETERM", "LANGMATCHES", "REGEX", "CONTAINS", "STRSTARTS", "STRENDS"):
            return self._bool_func(e)
        # generic: EBV of the term value
        return ebv(self.term(e))

    # ---- arithmetic (MathBOp.java promotion ladder)
    def _arith(self, e: A.Op) -> Column:
        """Type-promotion CASE-WHEN trees reference each operand many
        times; with nested arithmetic that duplication compounds
        EXPONENTIALLY (round(?x*100)/100 alone produced a plan Catalyst
        could not analyze in minutes).  ``_let`` binds each non-trivial
        operand as a higher-order-function lambda variable so its tree
        is embedded exactly once — growth becomes linear in nesting
        depth.  Trivial operands (plain column refs / literals) are
        inlined unchanged, keeping flat hot-path expressions (e.g.
        ?price * (1 - ?disc)) inside whole-stage codegen."""
        if e.op == "neg":
            return _let(
                [self.term(e.args[0])],
                lambda a: pack_numeric(
                    -T.numeric_value(a), rank_dt(dt_rank(a))
                ),
                simple=[self._simple(e.args[0])],
            )

        # compile-time narrowing: a numeric-constant operand skips its
        # parse ladder, rank CASE and is_numeric probe entirely
        _ia, _ib = const_info(e.args[0]), const_info(e.args[1])
        ia = _ia if _ia and _ia["cat"] == "num" else None
        ib = _ib if _ib and _ib["cat"] == "num" else None

        def body(a: Column, b: Column) -> Column:
            va = F.lit(ia["val"]) if ia else T.numeric_value(a)
            vb = F.lit(ib["val"]) if ib else T.numeric_value(b)
            ra = F.lit(ia["rank"]) if ia else dt_rank(a)
            rb = F.lit(ib["rank"]) if ib else dt_rank(b)
            if ia and ib:
                rank = F.lit(max(ia["rank"], ib["rank"]))
            else:
                rank = F.greatest(ra, rb)
            if e.op == "+":
                v = va + vb
            elif e.op == "-":
                v = va - vb
            elif e.op == "*":
                v = va * vb
            elif e.op == "/":
                v = F.when(vb != 0, va / vb)  # div-by-zero = error for exact
                v = F.when(rank >= 2, va / vb).otherwise(v)  # double: inf ok
                rank = F.greatest(rank, F.lit(1))  # int/int -> decimal
            else:
                raise SparqlCompileError(f"unknown arithmetic op {e.op}")
            both_num = (
                (F.lit(True) if ia else is_numeric(a))
                & (F.lit(True) if ib else is_numeric(b))
            )
            return pack_numeric(F.when(both_num, v), rank_dt(rank))

        return _let(
            [self.term(e.args[0]), self.term(e.args[1])],
            body,
            simple=[self._simple(x) for x in e.args],
        )

    # ---- boolean-only builtins
    def _bool_func(self, e: A.FuncCall) -> Column:
        n = e.name
        args = [self.term(a) for a in e.args]
        if n == "BOUND":
            return args[0].isNotNull()
        if n in ("ISIRI", "ISURI"):
            return F.when(args[0].isNotNull(), kind(args[0]) == T.KIND_IRI)
        if n == "ISBLANK":
            return F.when(args[0].isNotNull(), kind(args[0]) == T.KIND_BNODE)
        if n == "ISLITERAL":
            return F.when(args[0].isNotNull(), kind(args[0]) == T.KIND_LITERAL)
        if n == "ISNUMERIC":
            return F.when(args[0].isNotNull(), is_numeric(args[0]))
        if n == "SAMETERM":
            return F.when(args[0].isNotNull() & args[1].isNotNull(), term_equal(args[0], args[1]))
        if n == "LANGMATCHES":
            tag, rng = str_value_or_plain(args[0]), str_value_or_plain(args[1])
            return F.when(
                rng == "*", F.length(tag) > 0
            ).otherwise(
                (F.lower(tag) == F.lower(rng))
                | F.lower(tag).startswith(F.concat(F.lower(rng), F.lit("-")))
            )
        if n == "REGEX":
            if QUERY_HINTS.get().get("regexMatchNonString", "").lower() == "true":
                # hint:regexMatchNonString — apply STR() first so IRIs
                # and typed literals regex-match on their lexical form
                # (reference: QueryHints.REGEX_MATCH_NON_STRING)
                s = lex(args[0])
            else:
                s = str_value(args[0])
            pat = lex(args[1])
            if len(args) > 2:
                pat = F.concat(_regex_flags(lex(args[2])), pat)
            return F.rlike(s, pat)
        # CONTAINS/STRSTARTS/STRENDS: the reference only requires the
        # args to be LITERALS (IVValueExpression.getAndCheckLiteralValue
        # — no xsd:string restriction), so custom-datatype literals
        # (e.g. geospatial points) compare on their lexical form
        # (geo-defaults04)
        if n == "CONTAINS":
            return F.contains(_literal_lex(args[0]), _literal_lex(args[1]))
        if n == "STRSTARTS":
            return F.startswith(_literal_lex(args[0]), _literal_lex(args[1]))
        if n == "STRENDS":
            return F.endswith(_literal_lex(args[0]), _literal_lex(args[1]))
        raise SparqlCompileError(n)

    # ---- general builtins
    def _func(self, e: A.FuncCall) -> Column:
        n = e.name
        if n in CUSTOM_FUNCTIONS:
            return CUSTOM_FUNCTIONS[n](*[self.term(a) for a in e.args])
        if n in ("ISIRI", "ISURI", "ISBLANK", "ISLITERAL", "ISNUMERIC", "BOUND",
                 "SAMETERM", "LANGMATCHES", "REGEX", "CONTAINS", "STRSTARTS", "STRENDS"):
            return pack_bool(self._bool_func(e))
        if n == "COALESCE":
            return F.coalesce(*[self.term(a) for a in e.args])
        if n == "IF":
            c = self.bool(e.args[0])
            return F.when(c, self.term(e.args[1])).when(~c, self.term(e.args[2]))
        # bind non-trivial args as HOF lambda vars (see _let): builtins
        # below reference their args repeatedly (value extraction +
        # datatype branches), which compounds exponentially when args
        # are themselves computed expressions
        args = [self.term(a) for a in e.args]
        return _let(
            args,
            lambda *xs: self._apply_func(n, e, list(xs)),
            simple=[self._simple(a) for a in e.args],
        )

    def _apply_func(self, n: str, e: A.FuncCall, args: list) -> Column:
        if n == "STR":
            t = args[0]
            return F.when(t.isNotNull() & (kind(t) != T.KIND_BNODE), pack_string(lex(t)))
        if n == "LANG":
            return F.when(is_literal(args[0]), pack_string(F.coalesce(lang_of(args[0]), F.lit(""))))
        if n == "DATATYPE":
            t = args[0]
            return F.when(
                is_literal(t),
                T.term_struct(F.lit(T.KIND_IRI), F.coalesce(dt_of(t), F.lit(T.XSD_STRING)), F.lit(None), F.lit(None)),
            )
        if n in ("IRI", "URI"):
            t = args[0]
            as_iri = F.when(kind(t) == T.KIND_IRI, lex(t)).when(
                dt_of(t) == T.XSD_STRING, lex(t)
            )
            return F.when(as_iri.isNotNull(), T.term_struct(F.lit(T.KIND_IRI), as_iri, F.lit(None), F.lit(None)))
        if n == "BNODE":
            lbl = F.sha1(lex(args[0])) if args else F.sha1(F.concat(F.rand().cast("string")))
            return T.term_struct(F.lit(T.KIND_BNODE), lbl, F.lit(None), F.lit(None))
        if n == "STRDT":
            return F.when(
                (dt_of(args[0]) == T.XSD_STRING) & (kind(args[1]) == T.KIND_IRI),
                T.term_struct(F.lit(T.KIND_LITERAL), lex(args[0]), lex(args[1]), F.lit(None)),
            )
        if n == "STRLANG":
            return F.when(
                (dt_of(args[0]) == T.XSD_STRING) & (dt_of(args[1]) == T.XSD_STRING),
                T.term_struct(F.lit(T.KIND_LITERAL), lex(args[0]), F.lit(T.RDF_LANGSTRING), F.lower(lex(args[1]))),
            )
        if n in ("UUID",):
            return T.term_struct(F.lit(T.KIND_IRI), F.concat(F.lit("urn:uuid:"), F.uuid()), F.lit(None), F.lit(None))
        if n == "STRUUID":
            return pack_string(F.uuid())
        if n == "RAND":
            return pack_double(F.rand())
        if n == "NOW":
            return pack_datetime(F.current_timestamp())
        if n == "ABS":
            return pack_numeric(F.abs(T.numeric_value(args[0])), rank_dt(dt_rank(args[0])))
        if n in ("CEIL", "FLOOR", "ROUND"):
            # result datatype families mirror MathUtility.numericalFunc
            # (not XPath): integer-family operands pass through UNCHANGED
            # (NumericBOp.get short-circuit — ceil(2^^xsd:int) stays in
            # the integer family); decimal stays decimal; otherwise
            # ROUND is Math.round → integer family, CEIL/FLOOR are
            # Math.ceil/floor → DOUBLE
            fn = {"CEIL": F.ceil, "FLOOR": F.floor, "ROUND": F.round}[n]
            a = args[0]
            v = fn(T.numeric_value(a)).cast("double")
            is_dec = dt_of(a) == T.XSD_DECIMAL
            rank = F.when(is_dec, F.lit(1)).otherwise(
                F.lit(0) if n == "ROUND" else F.lit(3)
            )
            return F.when(
                is_numeric(a) & (dt_rank(a) == 0), a
            ).otherwise(pack_numeric(v, rank_dt(rank)))
        if n == "STRLEN":
            return F.when(str_value(args[0]).isNotNull(), pack_integer(F.length(str_value(args[0]))))
        if n == "SUBSTR":
            s = str_value(args[0])
            start = T.numeric_value(args[1]).cast("int")
            if len(args) > 2:
                ln = T.numeric_value(args[2]).cast("int")
                out = s.substr(start, ln)
            else:
                out = s.substr(start, F.lit(2_000_000_000))
            return self._like_string(args[0], out)
        if n == "UCASE":
            return self._like_string(args[0], F.upper(str_value(args[0])))
        if n == "LCASE":
            return self._like_string(args[0], F.lower(str_value(args[0])))
        if n == "ENCODE_FOR_URI":
            return pack_string(F.url_encode(str_value(args[0])))
        if n == "CONCAT":
            parts = [str_value_or_plain(a) for a in args]
            return pack_string(F.concat(*parts)) if parts else pack_string(F.lit(""))
        if n == "STRBEFORE":
            s, sub = str_value(args[0]), str_value(args[1])
            out = F.when(F.length(sub) == 0, F.lit("")).when(
                F.contains(s, sub), F.substring_index(s, sub, 1)
            ).otherwise(F.lit(""))
            return self._like_string(args[0], F.when(s.isNotNull() & sub.isNotNull(), out))
        if n == "STRAFTER":
            s, sub = str_value(args[0]), str_value(args[1])
            out = F.when(F.length(sub) == 0, s).when(
                F.contains(s, sub),
                F.substr(s, F.instr(s, sub) + F.length(sub), F.lit(2_000_000_000)),
            ).otherwise(F.lit(""))
            return self._like_string(args[0], F.when(s.isNotNull() & sub.isNotNull(), out))
        if n == "REPLACE":
            s = str_value(args[0])
            pat, rep = lex(args[1]), lex(args[2])
            if len(args) > 3:
                pat = F.concat(_regex_flags(lex(args[3])), pat)
            return self._like_string(args[0], F.regexp_replace(s, pat, rep))
        if n in ("YEAR", "MONTH", "DAY", "HOURS", "MINUTES"):
            fn = {"YEAR": F.year, "MONTH": F.month, "DAY": F.dayofmonth, "HOURS": F.hour, "MINUTES": F.minute}[n]
            return pack_integer(fn(T.datetime_value(args[0])))
        if n == "SECONDS":
            return pack_numeric(F.second(T.datetime_value(args[0])).cast("double"), F.lit(T.XSD_DECIMAL))
        if n in ("TIMEZONE", "TZ"):
            # lexical timezone suffix ("Z", "+05:00", or "")
            tz = F.regexp_extract(lex(args[0]), r"(Z|[+-]\d\d:\d\d)$", 1)
            if n == "TZ":
                return F.when(T.datetime_value(args[0]).isNotNull(), pack_string(tz))
            return F.when(
                T.datetime_value(args[0]).isNotNull() & (F.length(tz) > 0),
                T.term_struct(
                    F.lit(T.KIND_LITERAL),
                    F.when(tz == "Z", "PT0S").otherwise(tz),
                    F.lit(T.XSD + "dayTimeDuration"),
                    F.lit(None),
                ),
            )
        if n == "MD5":
            return pack_string(F.md5(str_value(args[0]).cast("binary")))
        if n == "SHA1":
            return pack_string(F.sha1(str_value(args[0]).cast("binary")))
        if n in ("SHA256", "SHA384", "SHA512"):
            return pack_string(F.sha2(str_value(args[0]).cast("binary"), int(n[3:])))
        if n.startswith(T.XSD):
            return self._xsd_cast(n, args[0])
        raise SparqlCompileError(f"unknown function {n}")

    def _like_string(self, src: Column, out: Column) -> Column:
        """Result carries the lang/dt of the source string arg (SUBSTR/UCASE/...)."""
        return F.when(
            out.isNotNull(),
            T.term_struct(F.lit(T.KIND_LITERAL), out, dt_of(src), lang_of(src)),
        )

    # ---- XSD constructor casts (FunctionRegistry.java:240-249)
    def _xsd_cast(self, dt: str, t: Column) -> Column:
        v = lex(t)
        src_num = T.numeric_value(t)
        src_bool = T.boolean_value(t)
        if dt == T.XSD_STRING:
            return F.when(kind(t) != T.KIND_BNODE, pack_string(lex(t)))
        if dt in (T.XSD_INTEGER, T.XSD + "int", T.XSD + "long"):
            out = F.when(is_numeric(t), src_num.cast("long")).when(
                dt_of(t) == T.XSD_BOOLEAN, F.when(src_bool, 1).otherwise(0)
            ).otherwise((v).try_cast("long"))
            return F.when(out.isNotNull(), T.term_struct(F.lit(T.KIND_LITERAL), out.cast("string"), F.lit(dt), F.lit(None)))
        if dt == T.XSD_DECIMAL:
            out = F.when(is_numeric(t), src_num).otherwise((v).try_cast("double"))
            return F.when(out.isNotNull(), T.term_struct(F.lit(T.KIND_LITERAL), out.cast("decimal(38,12)").cast("string"), F.lit(dt), F.lit(None)))
        if dt in (T.XSD_DOUBLE, T.XSD_FLOAT):
            out = F.when(is_numeric(t), src_num).when(
                dt_of(t) == T.XSD_BOOLEAN, F.when(src_bool, 1.0).otherwise(0.0)
            ).otherwise((v).try_cast("double"))
            return F.when(out.isNotNull(), T.term_struct(F.lit(T.KIND_LITERAL), out.cast("string"), F.lit(dt), F.lit(None)))
        if dt == T.XSD_BOOLEAN:
            out = (
                F.when(dt_of(t) == T.XSD_BOOLEAN, src_bool)
                .when(is_numeric(t), src_num != 0)
                .when(v.isin("true", "1"), F.lit(True))
                .when(v.isin("false", "0"), F.lit(False))
            )
            return pack_bool(out)
        if dt in (T.XSD_DATETIME, T.XSD_DATE):
            ts = F.when(
                T.datetime_value(t).isNotNull(), T.datetime_value(t)
            ).otherwise(F.replace(v, F.lit("T"), F.lit(" ")).try_cast("timestamp"))
            if dt == T.XSD_DATE:
                lexo = F.date_format(ts, "yyyy-MM-dd")
            else:
                lexo = F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss")
            return F.when(ts.isNotNull(), T.term_struct(F.lit(T.KIND_LITERAL), lexo, F.lit(dt), F.lit(None)))
        local = dt[len(T.XSD):]
        if local in _INT_RANGES:
            # bounded integer types (xsd:unsignedLong etc.) — go through
            # decimal(38,0) so the full uint64 range round-trips (long
            # would overflow at 2^63); out-of-range → type error (unbound)
            lo, hi = _INT_RANGES[local]
            dec = (
                F.when(dt_of(t) == T.XSD_BOOLEAN, F.when(src_bool, 1).otherwise(0).cast("decimal(38,0)"))
                # integer-shaped lexical forms parse exactly from the lex —
                # numeric_value() goes through double and would corrupt
                # values past 2^53 (e.g. the uint64 max)
                .when(v.rlike("^[+-]?[0-9]+$"), v.try_cast("decimal(38,0)"))
                .when(is_numeric(t), src_num.cast("decimal(38,0)"))
                .otherwise(v.try_cast("decimal(38,0)"))
            )
            ok = dec.isNotNull()
            if lo is not None:
                ok = ok & (dec >= F.lit(str(lo)).cast("decimal(38,0)"))
            if hi is not None:
                ok = ok & (dec <= F.lit(str(hi)).cast("decimal(38,0)"))
            return F.when(ok, T.term_struct(F.lit(T.KIND_LITERAL), dec.cast("string"), F.lit(dt), F.lit(None)))
        raise SparqlCompileError(f"unsupported cast {dt}")


# value ranges for the bounded XSD integer types
# (reference: FunctionRegistry.java XSD constructor casts)
_INT_RANGES = {
    "unsignedLong": (0, 2**64 - 1),
    "unsignedInt": (0, 2**32 - 1),
    "unsignedShort": (0, 2**16 - 1),
    "unsignedByte": (0, 2**8 - 1),
    "nonNegativeInteger": (0, None),
    "positiveInteger": (1, None),
    "nonPositiveInteger": (None, 0),
    "negativeInteger": (None, -1),
    "short": (-(2**15), 2**15 - 1),
    "byte": (-(2**7), 2**7 - 1),
}


def str_value_or_plain(t: Column) -> Column:
    """String content for functions that accept IRIs too (CONCAT args are
    strings only per spec, but LANGMATCHES takes plain output of LANG)."""
    return F.when(is_stringish(t), lex(t))


def ebv_or_bool(col: Column) -> Column:
    if isinstance(col, Column):
        return col
    return col


def _regex_flags(flags: Column) -> Column:
    """SPARQL regex flags → Java embedded flags ((?i) etc.)."""
    return F.when(F.length(flags) > 0, F.concat(F.lit("(?"), flags, F.lit(")"))).otherwise(F.lit(""))
