"""RDFS(+OWL-fragment) forward-chaining closure as DataFrame datalog.

Reference: ``InferenceEngine.java`` driving ``FullClosure``/
``FastClosure`` over ~40 rules (``RuleRdfs02..11.java``,
``RuleOwlSameAs1/2/3.java``, ``RuleOwlTransitiveProperty1/2.java``,
``RuleOwlInverseOf1/2.java`` under ``bigdata-rdf/.../rules/``), with
truth maintenance on retraction.

Spark-native: a semi-naive fixpoint — each round evaluates every rule
body as a DataFrame join against the current closure, unions the heads,
anti-joins out known statements, and marks them ``inferred=1``
(``StatementEnum`` Inferred).  Retraction = justification-based DRed
(``tm_retract`` over the JUST table the closure emits) — cost bounded
by the affected cone, mirroring the reference's Justification index.

Rules implemented (the RDFS core + OWL-lite fragment with visible
effect on instance data):
  rdfs2  (p dom c)  & (s p o)            → (s type c)
  rdfs3  (p rng c)  & (s p o), o IRI/bn  → (o type c)
  rdfs5  subPropertyOf transitivity
  rdfs7  (p subP q) & (s p o)            → (s q o)
  rdfs9  (c subC d) & (s type c)         → (s type d)
  rdfs11 subClassOf transitivity
  owl:inverseOf (both directions), owl:SymmetricProperty,
  owl:TransitiveProperty, owl:equivalentClass (↔ subClassOf),
  owl:equivalentProperty (↔ subPropertyOf),
  owl:sameAs (RuleOwlSameAs1/1b/2/3: symmetry, transitivity, and
  subject/object rewriting of non-sameAs statements)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import terms as T
from ..operators import lifecycle as L
from ..operators.iterate import seminaive_fixpoint
from ..store import EXPLICIT, INFERRED, TripleStore

RDF_TYPE = T.Term.iri(T.RDF + "type")
SUBCLASS = T.Term.iri(T.RDFS + "subClassOf")
SUBPROP = T.Term.iri(T.RDFS + "subPropertyOf")
DOMAIN = T.Term.iri(T.RDFS + "domain")
RANGE = T.Term.iri(T.RDFS + "range")
INVERSE = T.Term.iri(T.OWL + "inverseOf")
SAMEAS = T.Term.iri(T.OWL + "sameAs")
SYMMETRIC = T.Term.iri(T.OWL + "SymmetricProperty")
TRANSITIVE = T.Term.iri(T.OWL + "TransitiveProperty")
EQ_CLASS = T.Term.iri(T.OWL + "equivalentClass")
EQ_PROP = T.Term.iri(T.OWL + "equivalentProperty")


def _pid(term: T.Term):
    return T.term_id(T.lit_term(term))


def _mk(s_cols, p_term: T.Term, o_cols) -> list:
    """Build head select-list: (st,pt,ot) from column pairs / const."""
    st, sid = s_cols
    ot, oid = o_cols
    return [
        st.alias("st"),
        T.lit_term(p_term).alias("pt"),
        ot.alias("ot"),
        sid.alias("s"),
        _pid(p_term).alias("p"),
        oid.alias("o"),
    ]


def _p3(s, p, o):
    """One justification premise as a (s,p,o) id struct."""
    return F.struct(s.alias("s"), p.alias("p"), o.alias("o"))


JUST_SCHEMA = "s long, p long, o long, prem array<struct<s:long,p:long,o:long>>"


def rdfs_closure(
    store: TripleStore,
    max_iter: int | None = None,
    with_justifications: bool = False,
):
    """Compute the closure; returns a store whose df includes inferred
    statements (inferred=1).  Default graph only (g null), like the
    reference's per-namespace closure.

    with_justifications=True additionally returns a justification table
    ``(s, p, o, prem: array<struct<s,p,o>>)`` — one row per rule firing
    with the statement ids of its premises (the Spark analog of the
    reference's JUST index, ``Justification.java``) — and the result is
    the tuple (store, justifications).  Because every round re-runs all
    active rules over the FULL closure, the final (empty-delta) round's
    firings enumerate every derivation the closure supports, so the
    table is complete, not just first-proof."""
    spark = store.spark
    base = store.df.where(F.col("g").isNull()).select("s", "p", "o", "st", "pt", "ot")
    # the closure is a lazy union of the base checkpoint and one layer
    # per round (``seminaive_fixpoint``); a round's single action also
    # collects its new schema pairs for the next round's activation
    # probe, so a round pays one barrier
    seed = L.checkpoint(base)

    def head_df(df: DataFrame, cols: list, prem=None) -> DataFrame:
        sel = cols + ([prem.alias("prem")] if prem is not None else [])
        out_cols = ["s", "p", "o", "st", "pt", "ot"] + (
            ["prem"] if prem is not None else []
        )
        return df.select(*sel).select(*out_cols)

    # Evaluate the schema-term hash ids to plain longs once (the _pid
    # expressions are Columns; the probe below needs literal values).
    _names = (
        ("subp", SUBPROP), ("subc", SUBCLASS), ("dom", DOMAIN),
        ("rng", RANGE), ("inv", INVERSE), ("eqc", EQ_CLASS),
        ("eqp", EQ_PROP), ("type", RDF_TYPE), ("sym", SYMMETRIC),
        ("tr", TRANSITIVE), ("sameas", SAMEAS),
    )
    ids = spark.range(1).select(
        *[_pid(term).alias(name) for name, term in _names]
    ).first().asDict()
    type_id, sym_id, tr_id = ids["type"], ids["sym"], ids["tr"]
    schema_ids = {
        name: ids[name]
        for name in ("subp", "subc", "dom", "rng", "inv", "eqc", "eqp", "sameas")
    }

    # Rule activation probe (FastClosure-style rule pruning): which
    # schema predicates exist in the current closure; only rules whose
    # schema frame is non-empty join each round.  Exact, not heuristic:
    # the base contributes its pairs once here, every round's DELTA
    # contributes its pairs from the same fused aggregate that counts
    # it (total = base ∪ deltas, so the union of pair sets is exactly
    # the per-round full-closure probe of the old shape) — a schema
    # triple derived in round k still activates its rules in round k+1.
    probe_cond = (
        F.col("p").isin(*schema_ids.values())
        | ((F.col("p") == type_id) & F.col("o").isin(sym_id, tr_id))
    )
    present = {
        (r["p"], r["o"])
        for r in base.select("p", "o").where(probe_cond).distinct().collect()
    }
    last_fires = None  # complete on the final (empty-delta) round

    def fire(t: DataFrame, _delta) -> DataFrame | None:
        """One round: every active rule over the closure so far ``t``."""
        nonlocal last_fires
        pvals = {p for p, _ in present}
        active = {name for name, pid in schema_ids.items() if pid in pvals}
        if (type_id, sym_id) in present:
            active.add("sym")
        if (type_id, tr_id) in present:
            active.add("trans")
        if not active:
            return None

        # schema-level frames (small → broadcast by Catalyst/AQE)
        subp = t.where(F.col("p") == _pid(SUBPROP)).select(
            F.col("s").alias("sp_s"), F.col("o").alias("sp_o"),
            F.col("st").alias("sp_st"), F.col("ot").alias("sp_ot"),
        )
        subc = t.where(F.col("p") == _pid(SUBCLASS)).select(
            F.col("s").alias("sc_s"), F.col("o").alias("sc_o"),
            F.col("st").alias("sc_st"), F.col("ot").alias("sc_ot"),
        )
        dom = t.where(F.col("p") == _pid(DOMAIN)).select(
            F.col("s").alias("d_p"), F.col("o").alias("d_c"), F.col("ot").alias("d_ct")
        )
        rng = t.where(F.col("p") == _pid(RANGE)).select(
            F.col("s").alias("r_p"), F.col("o").alias("r_c"), F.col("ot").alias("r_ct")
        )
        inv = t.where(F.col("p") == _pid(INVERSE)).select(
            F.col("s").alias("i_p"), F.col("o").alias("i_q"),
            F.col("st").alias("i_pt"), F.col("ot").alias("i_qt"),
        )
        sym = t.where(
            (F.col("p") == _pid(RDF_TYPE)) & (F.col("o") == _pid(SYMMETRIC))
        ).select(F.col("s").alias("y_p"))
        trans = t.where(
            (F.col("p") == _pid(RDF_TYPE)) & (F.col("o") == _pid(TRANSITIVE))
        ).select(F.col("s").alias("tr_p"))
        eqc = t.where(F.col("p") == _pid(EQ_CLASS)).select(
            F.col("s").alias("ec_s"), F.col("o").alias("ec_o"),
            F.col("st").alias("ec_st"), F.col("ot").alias("ec_ot"),
        )
        eqp = t.where(F.col("p") == _pid(EQ_PROP)).select(
            F.col("s").alias("ep_s"), F.col("o").alias("ep_o"),
            F.col("st").alias("ep_st"), F.col("ot").alias("ep_ot"),
        )
        sa = t.where(F.col("p") == _pid(SAMEAS)).select(
            F.col("s").alias("sa_x"), F.col("o").alias("sa_y"),
            F.col("st").alias("sa_xt"), F.col("ot").alias("sa_yt"),
        )
        types = t.where(F.col("p") == _pid(RDF_TYPE))

        heads = []
        if "subp" in active:
            # rdfs7: s p o & p subP q → s q o
            heads.append(
                t.join(subp, t["p"] == subp["sp_s"]).select(
                    "st", F.col("sp_ot").alias("pt"), "ot",
                    "s", F.col("sp_o").alias("p"), "o",
                    F.array(
                        _p3(F.col("s"), F.col("p"), F.col("o")),
                        _p3(F.col("p"), F.lit(ids["subp"]), F.col("sp_o")),
                    ).alias("prem"),
                ).select("s", "p", "o", "st", "pt", "ot", "prem")
            )
            # rdfs5: subP transitivity
            sp2 = subp.select(
                F.col("sp_s").alias("a"), F.col("sp_o").alias("b"), F.col("sp_st").alias("at")
            ).join(
                subp.select(F.col("sp_s").alias("b"), F.col("sp_o").alias("c"), F.col("sp_ot").alias("ct")),
                "b",
            )
            heads.append(head_df(
                sp2,
                _mk((F.col("at"), F.col("a")), SUBPROP, (F.col("ct"), F.col("c"))),
                F.array(
                    _p3(F.col("a"), F.lit(ids["subp"]), F.col("b")),
                    _p3(F.col("b"), F.lit(ids["subp"]), F.col("c")),
                ),
            ))
        if "subc" in active:
            # rdfs11: subC transitivity
            sc2 = subc.select(
                F.col("sc_s").alias("a"), F.col("sc_o").alias("b"), F.col("sc_st").alias("at")
            ).join(
                subc.select(F.col("sc_s").alias("b"), F.col("sc_o").alias("c"), F.col("sc_ot").alias("ct")),
                "b",
            )
            heads.append(head_df(
                sc2,
                _mk((F.col("at"), F.col("a")), SUBCLASS, (F.col("ct"), F.col("c"))),
                F.array(
                    _p3(F.col("a"), F.lit(ids["subc"]), F.col("b")),
                    _p3(F.col("b"), F.lit(ids["subc"]), F.col("c")),
                ),
            ))
        if "dom" in active:
            # rdfs2: p dom c & s p o → s type c
            d = t.join(dom, t["p"] == dom["d_p"])
            heads.append(head_df(
                d,
                _mk((F.col("st"), F.col("s")), RDF_TYPE, (F.col("d_ct"), F.col("d_c"))),
                F.array(
                    _p3(F.col("s"), F.col("p"), F.col("o")),
                    _p3(F.col("p"), F.lit(ids["dom"]), F.col("d_c")),
                ),
            ))
        if "rng" in active:
            # rdfs3: p rng c & s p o (o resource) → o type c
            r = t.join(rng, t["p"] == rng["r_p"]).where(F.col("ot").getField("kind") != T.KIND_LITERAL)
            heads.append(head_df(
                r,
                _mk((F.col("ot"), F.col("o")), RDF_TYPE, (F.col("r_ct"), F.col("r_c"))),
                F.array(
                    _p3(F.col("s"), F.col("p"), F.col("o")),
                    _p3(F.col("p"), F.lit(ids["rng"]), F.col("r_c")),
                ),
            ))
        if "subc" in active:
            # rdfs9: s type c & c subC d → s type d
            t9 = types.join(subc, types["o"] == subc["sc_s"])
            heads.append(head_df(
                t9,
                _mk((F.col("st"), F.col("s")), RDF_TYPE, (F.col("sc_ot"), F.col("sc_o"))),
                F.array(
                    _p3(F.col("s"), F.col("p"), F.col("o")),
                    _p3(F.col("o"), F.lit(ids["subc"]), F.col("sc_o")),
                ),
            ))
        if "inv" in active:
            # owl:inverseOf: s p o & p inv q → o q s (and reverse direction)
            iv1 = t.join(inv, t["p"] == inv["i_p"]).select(
                F.col("ot").alias("st"), F.col("i_qt").alias("pt"), F.col("st").alias("ot"),
                F.col("o").alias("s"), F.col("i_q").alias("p"), F.col("s").alias("o"),
                F.array(
                    _p3(F.col("s"), F.col("p"), F.col("o")),
                    _p3(F.col("p"), F.lit(ids["inv"]), F.col("i_q")),
                ).alias("prem"),
            ).select("s", "p", "o", "st", "pt", "ot", "prem")
            iv2 = t.join(inv, t["p"] == inv["i_q"]).select(
                F.col("ot").alias("st"), F.col("i_pt").alias("pt"), F.col("st").alias("ot"),
                F.col("o").alias("s"), F.col("i_p").alias("p"), F.col("s").alias("o"),
                F.array(
                    _p3(F.col("s"), F.col("p"), F.col("o")),
                    _p3(F.col("i_p"), F.lit(ids["inv"]), F.col("p")),
                ).alias("prem"),
            ).select("s", "p", "o", "st", "pt", "ot", "prem")
            heads += [iv1, iv2]
        if "sym" in active:
            # symmetric: s p o & p type Symmetric → o p s
            sy = t.join(sym, t["p"] == sym["y_p"]).select(
                F.col("ot").alias("st"), F.col("pt"), F.col("st").alias("ot"),
                F.col("o").alias("s"), F.col("p"), F.col("s").alias("o"),
                F.array(
                    _p3(F.col("s"), F.col("p"), F.col("o")),
                    _p3(F.col("p"), F.lit(type_id), F.lit(sym_id)),
                ).alias("prem"),
            ).select("s", "p", "o", "st", "pt", "ot", "prem")
            heads.append(sy)
        if "trans" in active:
            # transitive: s p o & o p z & p type Transitive → s p z
            tr_edges = t.join(trans, t["p"] == trans["tr_p"])
            tr2 = tr_edges.alias("L").join(
                tr_edges.alias("R"),
                (F.col("L.o") == F.col("R.s")) & (F.col("L.p") == F.col("R.p")),
            ).select(
                F.col("L.s").alias("s"), F.col("L.p").alias("p"), F.col("R.o").alias("o"),
                F.col("L.st").alias("st"), F.col("L.pt").alias("pt"), F.col("R.ot").alias("ot"),
                F.array(
                    _p3(F.col("L.s"), F.col("L.p"), F.col("L.o")),
                    _p3(F.col("R.s"), F.col("R.p"), F.col("R.o")),
                    _p3(F.col("L.p"), F.lit(type_id), F.lit(tr_id)),
                ).alias("prem"),
            )
            heads.append(tr2)
        if "eqc" in active:
            # equivalentClass ↔ mutual subClassOf
            eqc_prem = F.array(
                _p3(F.col("ec_s"), F.lit(ids["eqc"]), F.col("ec_o"))
            )
            heads.append(head_df(eqc, _mk((F.col("ec_st"), F.col("ec_s")), SUBCLASS, (F.col("ec_ot"), F.col("ec_o"))), eqc_prem))
            heads.append(head_df(eqc, _mk((F.col("ec_ot"), F.col("ec_o")), SUBCLASS, (F.col("ec_st"), F.col("ec_s"))), eqc_prem))
        if "eqp" in active:
            # equivalentProperty ↔ mutual subPropertyOf
            eqp_prem = F.array(
                _p3(F.col("ep_s"), F.lit(ids["eqp"]), F.col("ep_o"))
            )
            heads.append(head_df(eqp, _mk((F.col("ep_st"), F.col("ep_s")), SUBPROP, (F.col("ep_ot"), F.col("ep_o"))), eqp_prem))
            heads.append(head_df(eqp, _mk((F.col("ep_ot"), F.col("ep_o")), SUBPROP, (F.col("ep_st"), F.col("ep_s"))), eqp_prem))

        if "sameas" in active:
            sameas_id = ids["sameas"]
            # owl:sameAs1 — (x sameAs y) → (y sameAs x)
            heads.append(head_df(
                sa.where(F.col("sa_x") != F.col("sa_y")),
                _mk((F.col("sa_yt"), F.col("sa_y")), SAMEAS, (F.col("sa_xt"), F.col("sa_x"))),
                F.array(_p3(F.col("sa_x"), F.lit(sameas_id), F.col("sa_y"))),
            ))
            # owl:sameAs1b — (x sameAs y),(y sameAs z) → (x sameAs z)
            sa2 = sa.select(
                F.col("sa_x").alias("a"), F.col("sa_y").alias("b"), F.col("sa_xt").alias("at")
            ).join(
                sa.select(F.col("sa_x").alias("b"), F.col("sa_y").alias("c"), F.col("sa_yt").alias("ct")),
                "b",
            ).where(F.col("a") != F.col("c"))
            heads.append(head_df(
                sa2,
                _mk((F.col("at"), F.col("a")), SAMEAS, (F.col("ct"), F.col("c"))),
                F.array(
                    _p3(F.col("a"), F.lit(sameas_id), F.col("b")),
                    _p3(F.col("b"), F.lit(sameas_id), F.col("c")),
                ),
            ))
            # owl:sameAs2 — (x sameAs y),(x a z) → (y a z), a != sameAs
            s2 = t.join(sa, (t["s"] == sa["sa_x"]) & (t["p"] != sameas_id)).where(
                F.col("sa_x") != F.col("sa_y")
            )
            heads.append(
                s2.select(
                    F.col("sa_yt").alias("st"), F.col("pt"), F.col("ot"),
                    F.col("sa_y").alias("s"), F.col("p"), F.col("o"),
                    F.array(
                        _p3(F.col("sa_x"), F.lit(sameas_id), F.col("sa_y")),
                        _p3(F.col("s"), F.col("p"), F.col("o")),
                    ).alias("prem"),
                ).select("s", "p", "o", "st", "pt", "ot", "prem")
            )
            # owl:sameAs3 — (x sameAs y),(z a x) → (z a y), a != sameAs
            s3 = t.join(sa, (t["o"] == sa["sa_x"]) & (t["p"] != sameas_id)).where(
                F.col("sa_x") != F.col("sa_y")
            )
            heads.append(
                s3.select(
                    F.col("st"), F.col("pt"), F.col("sa_yt").alias("ot"),
                    F.col("s"), F.col("p"), F.col("sa_y").alias("o"),
                    F.array(
                        _p3(F.col("sa_x"), F.lit(sameas_id), F.col("sa_y")),
                        _p3(F.col("s"), F.col("p"), F.col("o")),
                    ).alias("prem"),
                ).select("s", "p", "o", "st", "pt", "ot", "prem")
            )

        fires = heads[0]
        for h in heads[1:]:
            fires = fires.unionByName(h)
        last_fires = fires
        return fires.select("s", "p", "o", "st", "pt", "ot")

    total = seminaive_fixpoint(
        [seed], fire, ["s", "p", "o"], max_iter, "rdfs_closure",
        extra=(F.collect_set(F.when(probe_cond, F.struct("p", "o"))).alias("sch"),),
        on_round=lambda row: present.update((x["p"], x["o"]) for x in row["sch"]),
    )

    explicit_keys = store.df.where(F.col("g").isNull()).select("s", "p", "o")
    inferred = total.join(
        explicit_keys,
        ["s", "p", "o"],
        "left_anti",
    ).select(
        "s", "p", "o",
        F.lit(None).cast("long").alias("g"),
        "st", "pt", "ot",
        F.lit(None).cast(T.TERM_TYPE).alias("gt"),
        F.lit(INFERRED).cast("tinyint").alias("inferred"),
    ).select("s", "p", "o", "g", "st", "pt", "ot", "gt", "inferred")
    # the closure frame owns the loop's layers: L.free(out.df) releases them
    out_store = TripleStore(spark, L.adopt(store.df.unionByName(inferred), total))
    if not with_justifications:
        return out_store
    # justification table: every derivation of every statement —
    # including explicitly-asserted ones, whose proofs matter when the
    # explicit assertion is later retracted but remains entailed
    # (StatementEnum demotion to Inferred).  The last loop round ran
    # all active rules over the converged closure, so `last_fires`
    # enumerates the complete proof set.
    if last_fires is not None:
        justs = L.checkpoint(
            last_fires.select("s", "p", "o", "prem").dropDuplicates()
        )
    else:  # no schema → no rules ever fired
        justs = spark.createDataFrame([], JUST_SCHEMA)
    return out_store, justs


# ----------------------------------------------------- truth maintenance
def tm_retract(
    store: TripleStore,
    justs: DataFrame,
    deleted: DataFrame,
    max_iter: int | None = None,
):
    """Justification-based truth maintenance for retraction — the DRed
    (delete-and-rederive) algorithm over the justification table, the
    Spark analog of the reference's ``Justification.java`` +
    ``TruthMaintenance.java`` retraction path.

    ``store``   — the store AFTER the explicit statements were removed
                  (still carrying the now-possibly-unsupported inferred
                  rows).
    ``justs``   — the justification table from
                  ``rdfs_closure(..., with_justifications=True)``.
    ``deleted`` — DataFrame with term columns st/pt/ot of the retracted
                  explicit statements (ids derived content-hash-side).

    Returns ``(new_justs, (added_rows, removed_rows))``: the statements
    this retraction adds (explicit statements resurrected as
    inferences) and removes (unsupported inferred statements), as
    checkpointed frames.  The new store is ``store.apply(added_rows,
    removed_rows)`` — a delta-sized fold, never a full-store rewrite —
    and the same pair is the changesets API's truth-maintenance feed
    (reference: IChangeLog + TruthMaintenance).

    Cost: every job is a hash join keyed on statement ids between the
    checkpointed justification table and the (cone-sized) frontier —
    no rule re-evaluation over the data, no closure recompute.  At
    100 TB the justs table would be bucketed by premise id so these
    joins partition-prune; the reference pays the same storage in its
    JUST index.
    """
    from ..store import _with_ids

    D = L.checkpoint(
        _with_ids(deleted.select("st", "pt", "ot"))
        .select("s", "p", "o")
        .dropDuplicates()
    )
    jid = F.xxhash64("s", "p", "o", "prem")
    je = L.checkpoint(
        justs.select(
            "s", "p", "o", jid.alias("jid"), F.explode("prem").alias("q")
        ).select(
            "s", "p", "o", "jid",
            F.col("q").getField("s").alias("qs"),
            F.col("q").getField("p").alias("qp"),
            F.col("q").getField("o").alias("qo"),
        )
    )

    # -- 1. overdelete: transitively mark statements that have SOME
    # justification consuming a deleted/overdeleted statement.  An
    # EXPLICITLY asserted statement never loses support, so the walk
    # neither marks nor propagates through one.
    explicit_now = L.checkpoint(
        store.df.where(F.col("g").isNull() & (F.col("inferred") == EXPLICIT))
        .select("s", "p", "o")
        .dropDuplicates()
    )

    # D is known to the walk but stays owned here: it is read again
    # after the loop, so layer compaction must never free it
    def overdelete(_over, frontier):
        f = frontier.select(
            F.col("s").alias("fs"), F.col("p").alias("fp"), F.col("o").alias("fo")
        )
        return (
            je.join(
                f,
                (F.col("qs") == F.col("fs"))
                & (F.col("qp") == F.col("fp"))
                & (F.col("qo") == F.col("fo")),
            )
            .select("s", "p", "o")
            .dropDuplicates()
            .join(explicit_now, ["s", "p", "o"], "left_anti")
        )

    over = seminaive_fixpoint(
        [], overdelete, ["s", "p", "o"], max_iter, "tm_overdelete", known=(D,)
    )

    # -- 2. rederive: a statement in `over` survives if some
    # justification has ALL premises outside the final removed set
    def rederive(remaining, _delta):
        rem = remaining.select(
            F.col("s").alias("rs"), F.col("p").alias("rp"), F.col("o").alias("ro")
        )
        bad_jids = (
            je.join(
                rem,
                (F.col("qs") == F.col("rs"))
                & (F.col("qp") == F.col("rp"))
                & (F.col("qo") == F.col("ro")),
                "left_anti",
            )
            .select("jid")
            .dropDuplicates()
        )
        return (
            je.select("s", "p", "o", "jid")
            .dropDuplicates()
            .join(bad_jids, "jid", "left_anti")
            .select("s", "p", "o")
        )

    total_keys = store.df.where(F.col("g").isNull()).select("s", "p", "o")
    remaining = seminaive_fixpoint(
        [L.checkpoint(
            total_keys.join(over, ["s", "p", "o"], "left_anti").dropDuplicates()
        )],
        rederive, ["s", "p", "o"], max_iter, "tm_rederive",
    )

    removed = L.checkpoint(
        over.join(remaining, ["s", "p", "o"], "left_anti")
    )
    # deleted explicit statements that are still derivable come back as
    # INFERRED rows (their terms travel on `deleted`)
    resurrected = (
        _with_ids(deleted.select("st", "pt", "ot"))
        .join(remaining, ["s", "p", "o"])
        .select(
            "s", "p", "o",
            F.lit(None).cast("long").alias("g"),
            "st", "pt", "ot",
            F.lit(None).cast(T.TERM_TYPE).alias("gt"),
            F.lit(INFERRED).cast("tinyint").alias("inferred"),
        )
    )
    rm = removed.select(
        F.col("s").alias("xs"), F.col("p").alias("xp"), F.col("o").alias("xo")
    )
    # prune dead justifications: any row whose head or some premise is
    # in the removed set, or was a deleted explicit support that did
    # NOT survive as inferred
    gone = removed.unionByName(
        D.join(remaining, ["s", "p", "o"], "left_anti")
    ).dropDuplicates()
    g2 = gone.select(
        F.col("s").alias("gs"), F.col("p").alias("gp"), F.col("o").alias("go")
    )
    dead_jids = (
        je.join(
            g2,
            ((F.col("qs") == F.col("gs")) & (F.col("qp") == F.col("gp")) & (F.col("qo") == F.col("go")))
            | ((F.col("s") == F.col("gs")) & (F.col("p") == F.col("gp")) & (F.col("o") == F.col("go"))),
        )
        .select("jid")
        .dropDuplicates()
    )
    new_justs = L.checkpoint(
        justs.withColumn("jid", jid)
        .join(dead_jids, "jid", "left_anti")
        .drop("jid")
    )
    # materialize BEFORE freeing the checkpointed inputs they read
    # (a lazy plan over freed blocks dies at runtime)
    rm_rows = L.checkpoint(
        store.df.join(
            rm,
            F.col("g").isNull()
            & (F.col("s") == F.col("xs"))
            & (F.col("p") == F.col("xp"))
            & (F.col("o") == F.col("xo")),
            "left_semi",
        ).select("st", "pt", "ot", "gt", "inferred")
    )
    add_rows = L.checkpoint(
        resurrected.select("st", "pt", "ot", "gt", "inferred")
    )
    # `over` is D itself when the walk found nothing: free is idempotent
    L.free(D, over, je, remaining, removed, explicit_now)
    return new_justs, (add_rows, rm_rows)
