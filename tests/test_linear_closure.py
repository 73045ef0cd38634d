"""One ``derive_linear`` pass is the whole J1-J6 closure.

``RuleEngine.derive_linear`` composes the six single-atom rules on the driver
and derives in one broadcast join.  The reference here is the plain fixpoint
of the single steps, written over Python sets straight from the ``TBoxIndex``
and ``Scope`` (each rule filtering its own output, as the ``rule_*`` methods
do); every example also checks one step of it against the ``rule_*`` frames
themselves.  Random TBoxes draw subClassOf/subPropertyOf chains with cycles,
domain/range, inverseOf and SymmetricProperty — axioms on rdf:type included —
under the owl, rdfs and eq_as_edges views, with IRI and literal objects and a
random or absent scope.
"""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from re_shacl_spark.model.triples import iri_triple, lit_triple, triples_df, vocab
from re_shacl_spark.reasoning.rules import RuleEngine, Scope
from re_shacl_spark.reasoning.tbox import build_tbox_index

XSD = "http://www.w3.org/2001/XMLSchema#"
CLASSES = ["c:A", "c:B", "c:C", "c:D"]
PROPS = ["p:p", "p:q", "p:r", vocab.TYPE]
# class IRIs double as nodes, so rdf:type may land a data node in a class
# slot (p ⊑ rdf:type, symmetric rdf:type) and J4 must read its value
NODES = ["n:a", "n:b"] + CLASSES[:2]

SETTINGS = settings(
    max_examples=60,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

axiom_st = st.one_of(
    st.tuples(st.sampled_from(CLASSES), st.just(vocab.SUBCLASS), st.sampled_from(CLASSES)),
    st.tuples(st.sampled_from(CLASSES), st.just(vocab.EQCLASS), st.sampled_from(CLASSES)),
    st.tuples(st.sampled_from(PROPS), st.just(vocab.SUBPROP), st.sampled_from(PROPS)),
    st.tuples(st.sampled_from(PROPS), st.just(vocab.EQPROP), st.sampled_from(PROPS)),
    st.tuples(st.sampled_from(PROPS), st.sampled_from([vocab.DOMAIN, vocab.RANGE]),
              st.sampled_from(CLASSES)),
    st.tuples(st.sampled_from(PROPS), st.just(vocab.INVERSEOF), st.sampled_from(PROPS)),
    st.tuples(st.sampled_from(PROPS), st.just(vocab.TYPE), st.just(vocab.SYMMETRIC)),
)
# object: ("I", iri) or ("L", lexical form punning an IRI, datatype)
object_st = st.one_of(
    st.sampled_from(NODES + CLASSES).map(lambda o: ("I", o)),
    st.tuples(st.just("L"), st.sampled_from(NODES + CLASSES),
              st.sampled_from([XSD + "string", XSD + "integer"])),
)
abox_st = st.lists(
    st.tuples(st.sampled_from(NODES), st.sampled_from(PROPS), object_st),
    min_size=1, max_size=6, unique=True,
)
subset_st = lambda pool: st.none() | st.sets(st.sampled_from(pool)).map(set)  # noqa: E731


def _rows(abox):
    return [
        iri_triple(s, p, o[1]) if o[0] == "I" else lit_triple(s, p, o[1], dtype=o[2])
        for s, p, o in abox
    ]


def _key(s, p, o, o_lit):
    return (s, p, o, tuple(o_lit) if o_lit is not None else None)


def _collect(df):
    rows = df.collect()
    assert all(r.is_lit == (r.o_lit is not None) for r in rows)
    return {_key(r.s, r.p, r.o, r.o_lit) for r in rows}


def _one_step(facts, tbox, scope, owl):
    """The single steps J1-J6 once over (s, p, o, o_lit) facts — the rule_*
    semantics, each rule filtering its output through the scope."""
    keep_c = lambda c: scope.classes is None or c in scope.classes  # noqa: E731
    keep_p = lambda p: scope.properties is None or p in scope.properties  # noqa: E731
    out = set()
    for s, p, o, o_lit in facts:
        lit = o_lit is not None
        out |= {(s, vocab.TYPE, c, None) for c in tbox.domain.get(p, ()) if keep_c(c)}
        if p == vocab.TYPE:  # J4 joins on o, literal or not, like rule_subclass
            out |= {(s, p, d, None) for d in tbox.superclasses.get(o, ()) if keep_c(d)}
        else:
            out |= {(s, q, o, o_lit) for q in tbox.superprops.get(p, ()) if keep_p(q)}
        if lit:
            continue
        out |= {(o, vocab.TYPE, c, None) for c in tbox.range.get(p, ()) if keep_c(c)}
        if owl:
            out |= {(o, q, s, None) for q in tbox.inverses.get(p, ()) if keep_p(p) or keep_p(q)}
            if p in tbox.symmetric and keep_p(p):
                out.add((o, p, s, None))
    return out


def _fixpoint(facts, tbox, scope, owl):
    closed = set(facts)
    frontier = closed
    while frontier:
        frontier = _one_step(frontier, tbox, scope, owl) - closed
        closed |= frontier
    return closed


T, STR = vocab.TYPE, XSD + "string"


@SETTINGS
# axioms on rdf:type that move a class-valued node into the class slot, where
# J4 must read its value: p ⊑ rdf:type (IRI and literal object), a symmetric
# rdf:type, and an inverse of rdf:type under a scope
@example([("p:p", vocab.SUBPROP, T), ("c:A", vocab.SUBCLASS, "c:B")],
         [("n:a", "p:p", ("I", "c:A")), ("n:b", "p:p", ("L", "c:A", STR))], "owl", None, None)
@example([(T, T, vocab.SYMMETRIC), ("c:A", vocab.SUBCLASS, "c:D"), ("c:B", vocab.SUBCLASS, "c:C")],
         [("c:A", T, ("I", "c:B"))], "owl", None, None)
@example([("p:q", vocab.INVERSEOF, T), ("c:B", vocab.SUBCLASS, "c:C"), (T, vocab.RANGE, "c:D")],
         [("c:B", "p:q", ("I", "c:A"))], "eq_as_edges", {"c:C", "c:D"}, {T})
@given(
    st.lists(axiom_st, min_size=1, max_size=8),
    abox_st,
    st.sampled_from(["owl", "rdfs", "eq_as_edges"]),
    subset_st(CLASSES),
    subset_st(PROPS),
)
def test_derive_linear_is_the_single_step_fixpoint(spark, axioms, abox, view, classes, props):
    tbox = build_tbox_index(axioms, rdfs_mode=view == "rdfs", eq_as_edges=view == "eq_as_edges")
    scope = Scope(classes=classes, properties=props)
    profile = "rdfs" if view == "rdfs" else "owl"
    engine = RuleEngine(spark, tbox, scope, profile=profile)
    t = triples_df(spark, _rows(abox))
    facts = _collect(t)

    # the Python single step is the rule_* steps' semantics
    steps = [engine.rule_domain, engine.rule_range, engine.rule_subproperty, engine.rule_subclass]
    if profile == "owl":
        steps += [engine.rule_inverse, engine.rule_symmetric]
    union = steps[0](t)
    for step in steps[1:]:
        union = union.unionByName(step(t))
    assert _collect(union) == _one_step(facts, tbox, scope, profile == "owl")

    got = facts | _collect(engine.derive_linear(t))
    want = _fixpoint(facts, tbox, scope, profile == "owl")
    assert got == want, f"missing={sorted(want - got, key=str)[:6]} extra={sorted(got - want, key=str)[:6]}"


def test_derive_linear_closes_a_forty_level_chain(spark):
    """p0 ⊑ p1 inverseOf p2 ⊑ p3 inverseOf p4 ... p40 range C: every level
    is one single step (the subproperty map closes p2k ⊑ p2k+1 only), so the
    chain needs 40 rule levels — one derive_linear pass, and one fuse, close
    it."""
    from re_shacl_spark.pipeline import fuse

    tbox_rows = [
        iri_triple(f"p:{i}", vocab.SUBPROP if i % 2 == 0 else vocab.INVERSEOF, f"p:{i + 1}")
        for i in range(40)
    ] + [iri_triple("p:40", vocab.RANGE, "c:C")]
    edge = iri_triple("n:a", "p:0", "n:b")
    tbox = build_tbox_index([r[:3] for r in tbox_rows])
    engine = RuleEngine(spark, tbox)
    t = triples_df(spark, [edge])
    facts = _collect(t)
    got = facts | _collect(engine.derive_linear(t))
    assert got == _fixpoint(facts, tbox, Scope.unrestricted(), owl=True)
    # p4k / p4k+1 run a→b, p4k+2 / p4k+3 run b→a; p40 lands a→b, typing b
    want = {
        ("n:a", f"p:{i}", "n:b") if i % 4 in (0, 1) else ("n:b", f"p:{i}", "n:a")
        for i in range(41)
    } | {("n:b", vocab.TYPE, "c:C")}
    assert want <= {(s, p, o) for s, p, o, _ in got}

    fused = fuse(spark, triples_df(spark, tbox_rows + [edge]))
    assert want <= {(r.s, r.p, r.o) for r in fused.triples.collect()}
