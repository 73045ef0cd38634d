"""SHACL validation engine against hand-computed oracles (constraint kinds from
the reference's committed shape graphs, SURVEY §2.9)."""

from __future__ import annotations

from re_shacl_spark.model.triples import iri_triple, lit_triple, triples_df, vocab
from re_shacl_spark.query import Path
from re_shacl_spark.validate.engine import validate
from re_shacl_spark.validate.shapes import NodeShape, PropertyConstraint, rewrite_shapes
from re_shacl_spark.validate.sparql import SparqlConstraint

EX = "http://x.org/"
XSD_INT = vocab.XSD + "integer"
XSD_STR = vocab.XSD + "string"


def _graph(spark):
    rows = [
        iri_triple(EX + "p1", vocab.TYPE, EX + "Person"),
        iri_triple(EX + "p2", vocab.TYPE, EX + "Person"),
        iri_triple(EX + "p3", vocab.TYPE, EX + "Person"),
        iri_triple(EX + "p1", EX + "knows", EX + "p2"),
        iri_triple(EX + "p1", EX + "knows", EX + "p3"),
        lit_triple(EX + "p1", EX + "age", "42", XSD_INT),
        lit_triple(EX + "p2", EX + "age", "young", XSD_STR),
        iri_triple(EX + "p3", EX + "age", EX + "unknown"),  # IRI where literal expected
        lit_triple(EX + "p1", EX + "status", "active", XSD_STR),
        lit_triple(EX + "p2", EX + "status", "retired", XSD_STR),
    ]
    return triples_df(spark, rows)


def _viol(spark, g, shapes):
    rep = validate(spark, g, shapes)
    return {(r.focus, r.constraint, r.value) for r in rep.violations.collect()}, rep


def test_mincount_maxcount(spark):
    g = _graph(spark)
    shapes = [NodeShape("S", target_classes=[EX + "Person"],
                        properties=[PropertyConstraint(path=EX + "knows", min_count=1, max_count=1)])]
    got, rep = _viol(spark, g, shapes)
    assert got == {(EX + "p1", "maxCount", "2"), (EX + "p2", "minCount", "0"), (EX + "p3", "minCount", "0")}
    assert not rep.conforms


def test_datatype_and_nodekind(spark):
    g = _graph(spark)
    shapes = [NodeShape("S", target_classes=[EX + "Person"],
                        properties=[PropertyConstraint(path=EX + "age", datatype=XSD_INT)])]
    got, _ = _viol(spark, g, shapes)
    assert got == {(EX + "p2", "value", "young"), (EX + "p3", "value", EX + "unknown")}

    shapes = [NodeShape("S", target_classes=[EX + "Person"],
                        properties=[PropertyConstraint(path=EX + "age", node_kind=vocab.SH + "Literal")])]
    got, _ = _viol(spark, g, shapes)
    assert got == {(EX + "p3", "value", EX + "unknown")}


def test_in_values_and_negation(spark):
    g = _graph(spark)
    shapes = [NodeShape("S", target_classes=[EX + "Person"],
                        properties=[PropertyConstraint(path=EX + "status", in_values=["active"])])]
    got, _ = _viol(spark, g, shapes)
    assert got == {(EX + "p2", "value", "retired")}

    shapes = [NodeShape("S", target_classes=[EX + "Person"],
                        properties=[PropertyConstraint(path=EX + "status", in_values=["active"], negated=True)])]
    got, _ = _viol(spark, g, shapes)
    assert got == {(EX + "p1", "value", "active")}


def test_sh_or_branches(spark):
    g = _graph(spark)
    # age must be integer-typed OR an IRI — only p2's plain string fails
    pc = PropertyConstraint(
        path=EX + "age",
        or_branches=[
            PropertyConstraint(datatype=XSD_INT),
            PropertyConstraint(node_kind=vocab.SH + "IRI"),
        ],
    )
    shapes = [NodeShape("S", target_classes=[EX + "Person"], properties=[pc])]
    got, _ = _viol(spark, g, shapes)
    assert got == {(EX + "p2", "value", "young")}


def test_sh_class_and_node_ref(spark):
    g = _graph(spark)
    # knows-values must conform to a shape requiring integer age
    ref = NodeShape("AgeShape", properties=[PropertyConstraint(path=EX + "age", datatype=XSD_INT, min_count=1)])
    outer = NodeShape(
        "S",
        target_classes=[EX + "Person"],
        properties=[PropertyConstraint(path=EX + "knows", node_ref="AgeShape")],
    )
    got, _ = _viol(spark, g, [outer, ref])
    # p1 knows p2 (string age → ref fails) and p3 (IRI age → ref fails)
    focus_vals = {(f, v) for f, c, v in got if c == "value" and f == EX + "p1"}
    assert focus_vals == {(EX + "p1", EX + "p2"), (EX + "p1", EX + "p3")}


def test_target_node_and_has_value(spark):
    g = _graph(spark)
    shapes = [NodeShape("S", target_nodes=[EX + "p2"],
                        properties=[PropertyConstraint(path=EX + "status", has_value="active")])]
    got, _ = _viol(spark, g, shapes)
    assert got == {(EX + "p2", "hasValue", "active")}


def test_conforming_graph(spark):
    g = _graph(spark)
    shapes = [NodeShape("S", target_classes=[EX + "Person"],
                        properties=[PropertyConstraint(path=EX + "status", max_count=5)])]
    got, rep = _viol(spark, g, shapes)
    assert got == set() and rep.conforms


def test_fail_fast_stops_at_first_violating_shape(spark):
    from re_shacl_spark.validate.engine import validate_fail_fast

    g = _graph(spark)
    bad = NodeShape("Bad", target_classes=[EX + "Person"],
                    properties=[PropertyConstraint(path=EX + "knows", min_count=5)])
    never = NodeShape("Never", target_classes=[EX + "Person"],
                      properties=[PropertyConstraint(path=EX + "status", min_count=99)])
    rep = validate_fail_fast(spark, g, [bad, never])
    assert not rep.conforms
    assert rep.shapes_evaluated == 1  # 'Never' was never evaluated
    assert {r.shape for r in rep.violations.collect()} == {"Bad"}

    ok = NodeShape("Ok", target_classes=[EX + "Person"],
                   properties=[PropertyConstraint(path=EX + "status", max_count=9)])
    rep2 = validate_fail_fast(spark, g, [ok, ok])
    assert rep2.conforms and rep2.shapes_evaluated == 2

    # two failing shapes landing in the SAME doubling chunk: the report must
    # still name the first one in list order, with its violations only
    bad2 = NodeShape("Bad2", target_classes=[EX + "Person"],
                     properties=[PropertyConstraint(path=EX + "knows", min_count=7)])
    rep3 = validate_fail_fast(spark, g, [ok, bad, bad2])
    assert not rep3.conforms and rep3.shapes_evaluated == 2
    assert {r.shape for r in rep3.violations.collect()} == {"Bad"}


def test_node_ref_value_not_target_typed_conforms(spark):
    """SHACL semantics (ADVICE r2): sh:node asks whether the VALUE conforms to
    the referenced shape's constraints — membership in the shape's target
    class is not required.  a1 satisfies AgeShape without being Person-typed."""
    rows = [
        iri_triple(EX + "p1", vocab.TYPE, EX + "Person"),
        iri_triple(EX + "p1", EX + "advisor", EX + "a1"),  # conforms, untyped
        iri_triple(EX + "p1", EX + "advisor", EX + "a2"),  # no age → ref fails
        lit_triple(EX + "a1", EX + "age", "50", XSD_INT),
    ]
    g = triples_df(spark, rows)
    ref = NodeShape(
        "AgeShape",
        target_classes=[EX + "Person"],
        properties=[PropertyConstraint(path=EX + "age", datatype=XSD_INT, min_count=1)],
    )
    outer = NodeShape(
        "S",
        target_classes=[EX + "Person"],
        properties=[PropertyConstraint(path=EX + "advisor", node_ref="AgeShape")],
    )
    got, _ = _viol(spark, g, [outer, ref])
    # AgeShape still REPORTS only on its targets (p1, ageless); a1's
    # conformance is evaluated but never reported; a2 fails the reference
    assert got == {
        (EX + "p1", "minCount", "0"),
        (EX + "p1", "value", EX + "a2"),
    }


# --- round-3 constraint kinds: logical combinators, counts over qualified
# value shapes, range/language facets, property pairs, closed shapes ---------


def test_sh_and_branches(spark):
    g = _graph(spark)
    # age must be a literal AND integer-typed — p2 (string lit) and p3 (IRI) fail
    pc = PropertyConstraint(
        path=EX + "age",
        and_branches=[
            PropertyConstraint(node_kind=vocab.SH + "Literal"),
            PropertyConstraint(datatype=XSD_INT),
        ],
    )
    got, _ = _viol(spark, g, [NodeShape("S", target_classes=[EX + "Person"], properties=[pc])])
    assert got == {(EX + "p2", "value", "young"), (EX + "p3", "value", EX + "unknown")}


def test_sh_xone_branches(spark):
    g = _graph(spark)
    # exactly one of {integer-typed, literal}: p1's "42"^^int matches BOTH
    # branches (xone violation); p2's "young" matches literal only (ok);
    # p3's IRI matches neither (violation)
    pc = PropertyConstraint(
        path=EX + "age",
        xone_branches=[
            PropertyConstraint(datatype=XSD_INT),
            PropertyConstraint(node_kind=vocab.SH + "Literal"),
        ],
    )
    got, _ = _viol(spark, g, [NodeShape("S", target_classes=[EX + "Person"], properties=[pc])])
    assert got == {(EX + "p1", "value", "42"), (EX + "p3", "value", EX + "unknown")}


def test_qualified_min_max_count(spark):
    g = _graph(spark)
    # each Person needs >=1 knows-value that is itself typed Person — all of
    # p1's are; p2/p3 have no knows values at all (q_cnt 0 < 1)
    pc = PropertyConstraint(
        path=EX + "knows",
        qualified=PropertyConstraint(clazz=EX + "Person"),
        q_min_count=1,
    )
    got, _ = _viol(spark, g, [NodeShape("S", target_classes=[EX + "Person"], properties=[pc])])
    assert got == {(EX + "p2", "qualifiedMinCount", "0"), (EX + "p3", "qualifiedMinCount", "0")}

    pc = PropertyConstraint(
        path=EX + "knows",
        qualified=PropertyConstraint(clazz=EX + "Person"),
        q_max_count=1,
    )
    got, _ = _viol(spark, g, [NodeShape("S", target_classes=[EX + "Person"], properties=[pc])])
    assert got == {(EX + "p1", "qualifiedMaxCount", "2")}


def test_numeric_range_facets(spark):
    g = _graph(spark)
    # age in [10, 41]: p1's 42 exceeds maxInclusive; p2's non-numeric "young"
    # and p3's IRI cannot be compared (both violate per SHACL)
    pc = PropertyConstraint(path=EX + "age", min_inclusive="10", max_inclusive="41")
    got, _ = _viol(spark, g, [NodeShape("S", target_classes=[EX + "Person"], properties=[pc])])
    assert got == {
        (EX + "p1", "value", "42"),
        (EX + "p2", "value", "young"),
        (EX + "p3", "value", EX + "unknown"),
    }
    # exclusive bound: 42 > 42 is false
    pc = PropertyConstraint(path=EX + "age", min_exclusive="42")
    got, _ = _viol(spark, g, [NodeShape("S", target_classes=[EX + "p1"], properties=[pc])],
                   )
    # retarget via targetNode to isolate p1
    shapes = [NodeShape("S", target_nodes=[EX + "p1"], properties=[pc])]
    got, _ = _viol(spark, g, shapes)
    assert got == {(EX + "p1", "value", "42")}


def test_language_in_and_unique_lang(spark):
    from re_shacl_spark.model.triples import triples_df

    rows = [
        iri_triple(EX + "d1", vocab.TYPE, EX + "Doc"),
        iri_triple(EX + "d2", vocab.TYPE, EX + "Doc"),
        lit_triple(EX + "d1", EX + "label", "hello", lang="en"),
        lit_triple(EX + "d1", EX + "label", "hallo", lang="de"),
        lit_triple(EX + "d2", EX + "label", "bonjour", lang="fr"),  # not allowed
        lit_triple(EX + "d2", EX + "label", "salut", lang="fr"),    # dup tag
    ]
    g = triples_df(spark, rows)
    pc = PropertyConstraint(path=EX + "label", language_in=["en", "de"])
    got, _ = _viol(spark, g, [NodeShape("S", target_classes=[EX + "Doc"], properties=[pc])])
    assert got == {(EX + "d2", "value", "bonjour"), (EX + "d2", "value", "salut")}

    pc = PropertyConstraint(path=EX + "label", unique_lang=True)
    got, _ = _viol(spark, g, [NodeShape("S", target_classes=[EX + "Doc"], properties=[pc])])
    assert got == {(EX + "d2", "uniqueLang", "1")}


def test_property_pair_constraints(spark):
    from re_shacl_spark.model.triples import triples_df

    rows = [
        iri_triple(EX + "e1", vocab.TYPE, EX + "Ev"),
        iri_triple(EX + "e2", vocab.TYPE, EX + "Ev"),
        lit_triple(EX + "e1", EX + "start", "3", XSD_INT),
        lit_triple(EX + "e1", EX + "end", "5", XSD_INT),
        lit_triple(EX + "e2", EX + "start", "9", XSD_INT),
        lit_triple(EX + "e2", EX + "end", "9", XSD_INT),
        lit_triple(EX + "e1", EX + "alias", "A", XSD_STR),
        lit_triple(EX + "e1", EX + "name", "A", XSD_STR),
        lit_triple(EX + "e2", EX + "alias", "B", XSD_STR),
        lit_triple(EX + "e2", EX + "name", "C", XSD_STR),
    ]
    g = triples_df(spark, rows)
    S = lambda pc: [NodeShape("S", target_classes=[EX + "Ev"], properties=[pc])]  # noqa: E731

    got, _ = _viol(spark, g, S(PropertyConstraint(path=EX + "start", less_than=EX + "end")))
    assert got == {(EX + "e2", "lessThan", "9")}

    got, _ = _viol(spark, g, S(PropertyConstraint(path=EX + "start", less_than_or_equals=EX + "end")))
    assert got == set()

    got, _ = _viol(spark, g, S(PropertyConstraint(path=EX + "alias", disjoint=EX + "name")))
    assert got == {(EX + "e1", "disjoint", "A")}

    got, _ = _viol(spark, g, S(PropertyConstraint(path=EX + "alias", equals=EX + "name")))
    assert got == {(EX + "e2", "equals", "B"), (EX + "e2", "equals", "C")}


def test_closed_shape(spark):
    g = _graph(spark)
    # Person closed over {knows, age}: the status edges violate
    ns = NodeShape(
        "S", target_classes=[EX + "Person"],
        properties=[
            PropertyConstraint(path=EX + "knows"),
            PropertyConstraint(path=EX + "age"),
        ],
        closed=True,
    )
    got, _ = _viol(spark, g, [ns])
    assert got == {(EX + "p1", "closed", "active"), (EX + "p2", "closed", "retired")}

    ns.ignored_properties = [EX + "status"]
    got, rep = _viol(spark, g, [ns])
    assert got == set() and rep.conforms


def test_target_subjects_and_objects_of(spark):
    g = _graph(spark)
    # subjects of knows: p1 only; objects of knows: p2, p3
    ns = NodeShape("S", target_subjects_of=[EX + "knows"],
                   properties=[PropertyConstraint(path=EX + "knows", max_count=1)])
    got, _ = _viol(spark, g, [ns])
    assert got == {(EX + "p1", "maxCount", "2")}

    ns = NodeShape("S", target_objects_of=[EX + "knows"],
                   properties=[PropertyConstraint(path=EX + "status", min_count=1)])
    got, _ = _viol(spark, g, [ns])
    # p2 has a status; p3 does not
    assert got == {(EX + "p3", "minCount", "0")}


def test_deactivated_shape_skipped(spark):
    g = _graph(spark)
    ns = NodeShape("S", target_classes=[EX + "Person"], deactivated=True,
                   properties=[PropertyConstraint(path=EX + "knows", min_count=99)])
    got, rep = _viol(spark, g, [ns])
    assert got == set() and rep.conforms and rep.shapes_evaluated == 0


def test_inverse_path(spark):
    g = _graph(spark)
    # inverse of knows: who points AT the focus.  p2/p3 are known-by p1 (ok);
    # p1 is known-by nobody (minCount violation)
    pc = PropertyConstraint(path=EX + "knows", inverse=True, min_count=1,
                            clazz=EX + "Person")
    got, _ = _viol(spark, g, [NodeShape("S", target_classes=[EX + "Person"], properties=[pc])])
    assert got == {(EX + "p1", "minCount", "0")}


def test_severity_and_message_details(spark):
    g = _graph(spark)
    shapes = [NodeShape(
        "S", target_classes=[EX + "Person"],
        severity=vocab.SH + "Warning", message="shape default",
        properties=[
            PropertyConstraint(path=EX + "knows", max_count=1),
            PropertyConstraint(path=EX + "age", datatype=XSD_INT,
                               severity=vocab.SH + "Info", message="age must be int"),
        ],
    )]
    rep = validate(spark, g, shapes, with_details=True)
    got = {(r.focus, r.constraint, r.severity, r.message) for r in rep.violations.collect()}
    assert (EX + "p1", "maxCount", vocab.SH + "Warning", "shape default") in got
    assert (EX + "p2", "value", vocab.SH + "Info", "age must be int") in got
    # default schema (no details) unchanged
    rep2 = validate(spark, g, shapes)
    assert rep2.violations.columns == ["focus", "shape", "path", "constraint", "value"]
    # severity defaults to sh:Violation when neither shape nor pc sets one
    shapes2 = [NodeShape("S", target_classes=[EX + "Person"],
                         properties=[PropertyConstraint(path=EX + "knows", min_count=3)])]
    rep3 = validate(spark, g, shapes2, with_details=True)
    assert {r.severity for r in rep3.violations.collect()} == {vocab.SH + "Violation"}
    # pair + closed passes carry details too
    shapes3 = [NodeShape(
        "S", target_classes=[EX + "Person"], closed=True, severity=vocab.SH + "Warning",
        properties=[PropertyConstraint(path=EX + "knows"), PropertyConstraint(path=EX + "age"),
                    PropertyConstraint(path=EX + "knows", disjoint=EX + "knows",
                                       message="self-overlap")],
    )]
    rep4 = validate(spark, g, shapes3, with_details=True)
    got4 = {(r.constraint, r.severity, r.message) for r in rep4.violations.collect()}
    assert ("closed", vocab.SH + "Warning", None) in got4
    assert ("disjoint", vocab.SH + "Warning", "self-overlap") in got4


def test_shacl_complex_paths(spark):
    from re_shacl_spark.query import Path as PathExpr

    rows = [
        iri_triple(EX + "p1", vocab.TYPE, EX + "Person"),
        iri_triple(EX + "p2", vocab.TYPE, EX + "Person"),
        iri_triple(EX + "p1", EX + "knows", EX + "p2"),
        iri_triple(EX + "p2", EX + "knows", EX + "p3"),
        lit_triple(EX + "p2", EX + "name", "Bob"),
        lit_triple(EX + "p3", EX + "name", "42", XSD_INT),
    ]
    g = triples_df(spark, rows)
    # sequence path knows/name with sh:datatype xsd:string:
    # p1 -> p2 -> "Bob" (ok); p2 -> p3 -> 42^^int (violation)
    shapes = [NodeShape("S", target_classes=[EX + "Person"], properties=[
        PropertyConstraint(path=PathExpr(f"<{EX}knows>/<{EX}name>"),
                           datatype=XSD_STR),
    ])]
    got, _ = _viol(spark, g, shapes)
    assert got == {(EX + "p2", "value", "42")}
    # one-or-more closure with minCount: p1 reaches p2,p3 (2 ok); p2 reaches p3 (1 bad)
    shapes2 = [NodeShape("S", target_classes=[EX + "Person"], properties=[
        PropertyConstraint(path=PathExpr(f"<{EX}knows>+"), min_count=2),
    ])]
    got2, _ = _viol(spark, g, shapes2)
    assert got2 == {(EX + "p2", "minCount", "1")}
    # report path column carries the expression string
    rep = validate(spark, g, shapes2)
    assert {r.path for r in rep.violations.collect()} == {f"<{EX}knows>+"}


def test_shacl_path_compile_from_ttl(spark):
    from re_shacl_spark.model.ttl import parse_ttl
    from re_shacl_spark.query import Path as PathExpr
    from re_shacl_spark.validate.shapes import compile_shapes

    ttl = """
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix ex: <http://x.org/> .
    ex:S a sh:NodeShape ;
      sh:targetClass ex:Person ;
      sh:property [ sh:path ( ex:knows ex:name ) ; sh:minCount 1 ] ;
      sh:property [ sh:path [ sh:oneOrMorePath ex:knows ] ; sh:maxCount 5 ] ;
      sh:property [ sh:path [ sh:alternativePath ( ex:knows ex:likes ) ] ] ;
      sh:property [ sh:path [ sh:inversePath ex:knows ] ; sh:minCount 0 ] ;
      sh:property [ sh:path [ sh:inversePath [ sh:zeroOrOnePath ex:knows ] ] ] .
    """
    shapes = compile_shapes(parse_ttl(ttl))
    assert len(shapes) == 1
    paths = {str(pc.path) if not isinstance(pc.path, PathExpr) else pc.path.expr
             for pc in shapes[0].properties}
    inv = [pc for pc in shapes[0].properties if pc.inverse]
    assert f"<{EX}knows>/<{EX}name>" in paths
    assert f"<{EX}knows>+" in paths
    assert f"<{EX}knows>|<{EX}likes>" in paths
    # plain single inverse keeps the native fast path (str + inverse flag)
    assert len(inv) == 1 and inv[0].path == EX + "knows"
    # nested inverse-of-zeroOrOne compiles to a Path expression
    assert f"^(<{EX}knows>?)" in paths
    # and the compiled shapes actually validate
    g = triples_df(spark, [
        iri_triple(EX + "p1", vocab.TYPE, EX + "Person"),
        iri_triple(EX + "p1", EX + "knows", EX + "p2"),
        lit_triple(EX + "p2", EX + "name", "Bob"),
    ])
    rep = validate(spark, g, shapes)
    assert rep.conforms


def test_validate_delta_matches_full(spark):
    from re_shacl_spark.validate.incremental import validate_delta

    def rows_for(n_orders):
        rows = []
        for i in range(1, 5):
            rows.append(iri_triple(EX + f"c{i}", vocab.TYPE, EX + "Cust"))
        for c, n in n_orders.items():
            for j in range(n):
                rows.append(iri_triple(EX + c, EX + "ordered", EX + f"o{c}{j}"))
        return rows

    # base: c1 has 2 orders (ok), c2 has 1 (minCount viol), c3 has 0 (viol),
    # c4 has 3 (maxCount 2 viol)
    base_rows = rows_for({"c1": 2, "c2": 1, "c3": 0, "c4": 3})
    shapes = [NodeShape("S", target_classes=[EX + "Cust"], properties=[
        PropertyConstraint(path=EX + "ordered", min_count=2, max_count=2),
    ])]
    base = triples_df(spark, base_rows)
    base_rep = validate(spark, base, shapes)
    # delta: fixes c2 (adds 1 order), worsens c1 (adds 1 -> maxCount viol),
    # adds a brand-new target c5 with zero orders (via its type edge only)
    delta = triples_df(spark, [
        iri_triple(EX + "c2", EX + "ordered", EX + "oX"),
        iri_triple(EX + "c1", EX + "ordered", EX + "oY"),
        iri_triple(EX + "c5", vocab.TYPE, EX + "Cust"),
    ])
    inc = validate_delta(spark, base, delta, shapes, base_rep)
    full = validate(spark, base.unionByName(delta), shapes)
    got = {tuple(r) for r in inc.violations.collect()}
    want = {tuple(r) for r in full.violations.collect()}
    assert got == want
    assert (EX + "c2", "S", EX + "ordered", "minCount", "1") not in got  # fixed
    assert (EX + "c1", "S", EX + "ordered", "maxCount", "3") in got      # new
    assert (EX + "c5", "S", EX + "ordered", "minCount", "0") in got      # new target
    assert (EX + "c3", "S", EX + "ordered", "minCount", "0") in got      # kept


def test_validate_delta_node_ref_widening(spark):
    from re_shacl_spark.validate.incremental import validate_delta

    # f -knows-> v ; shape S: values at knows must conform to R (needs name).
    # base: v has no name -> f violates sh:node.  delta adds v's name — f is
    # NOT a delta subject/object, only reachable via the reverse ref path.
    base = triples_df(spark, [
        iri_triple(EX + "f", vocab.TYPE, EX + "Person"),
        iri_triple(EX + "f", EX + "knows", EX + "v"),
        iri_triple(EX + "v", vocab.TYPE, EX + "Person"),
        lit_triple(EX + "v", EX + "age", "1", XSD_INT),
    ])
    shapes = [
        NodeShape("S", target_classes=[EX + "Person"], properties=[
            PropertyConstraint(path=EX + "knows", node_ref="R"),
        ]),
        NodeShape("R", properties=[
            PropertyConstraint(path=EX + "name", min_count=1),
        ]),
    ]
    base_rep = validate(spark, base, shapes)
    assert not base_rep.conforms
    delta = triples_df(spark, [lit_triple(EX + "v", EX + "name", "Vee")])
    inc = validate_delta(spark, base, delta, shapes, base_rep)
    full = validate(spark, base.unionByName(delta), shapes)
    assert {tuple(r) for r in inc.violations.collect()} == \
        {tuple(r) for r in full.violations.collect()}
    assert inc.conforms


def test_validate_delta_class_widening(spark):
    # ADVICE r3 (high): a delta rdf:type triple on a VALUE node must
    # invalidate foci with sh:class constraints on that value even though no
    # edge of the focus changed.
    from re_shacl_spark.validate.incremental import validate_delta

    # f -knows-> v ; S requires values at knows to be of class Person.
    # base: v untyped -> f violates sh:class.  delta adds (v, rdf:type,
    # Person) — f is neither delta subject nor object.
    base = triples_df(spark, [
        iri_triple(EX + "f", vocab.TYPE, EX + "Person"),
        iri_triple(EX + "f", EX + "knows", EX + "v"),
    ])
    shapes = [NodeShape("S", target_classes=[EX + "Person"], properties=[
        PropertyConstraint(path=EX + "knows", clazz=EX + "Person"),
    ])]
    base_rep = validate(spark, base, shapes)
    assert not base_rep.conforms
    delta = triples_df(spark, [iri_triple(EX + "v", vocab.TYPE, EX + "Person")])
    inc = validate_delta(spark, base, delta, shapes, base_rep)
    full = validate(spark, base.unionByName(delta), shapes)
    assert {tuple(r) for r in inc.violations.collect()} == \
        {tuple(r) for r in full.violations.collect()}
    # v itself became a (conforming) focus; f's stale sh:class row is gone
    assert inc.conforms


def test_validate_delta_qualified_class_widening(spark):
    # same, with the class constraint buried in a qualifiedValueShape branch
    from re_shacl_spark.validate.incremental import validate_delta

    base = triples_df(spark, [
        iri_triple(EX + "f", vocab.TYPE, EX + "Team"),
        iri_triple(EX + "f", EX + "member", EX + "v"),
        iri_triple(EX + "v", vocab.TYPE, EX + "Team"),  # keeps v a non-focus of the q-shape
    ])
    shapes = [NodeShape("S", target_classes=[EX + "Team"], properties=[
        PropertyConstraint(
            path=EX + "member",
            qualified=PropertyConstraint(clazz=EX + "Lead"),
            q_min_count=1,
        ),
    ])]
    base_rep = validate(spark, base, shapes)
    delta = triples_df(spark, [iri_triple(EX + "v", vocab.TYPE, EX + "Lead")])
    inc = validate_delta(spark, base, delta, shapes, base_rep)
    full = validate(spark, base.unionByName(delta), shapes)
    assert {tuple(r) for r in inc.violations.collect()} == \
        {tuple(r) for r in full.violations.collect()}


def test_validate_delta_fallbacks(spark):
    from re_shacl_spark.query import Path as PathExpr
    from re_shacl_spark.validate.incremental import validate_delta

    base = triples_df(spark, [
        iri_triple(EX + "a", vocab.TYPE, EX + "T"),
        iri_triple(EX + "a", EX + "n", EX + "b"),
    ])
    delta = triples_df(spark, [iri_triple(EX + "b", EX + "n", EX + "c")])
    # complex path -> full validation, still equal to full run
    shapes = [NodeShape("S", target_classes=[EX + "T"], properties=[
        PropertyConstraint(path=PathExpr(f"<{EX}n>+"), min_count=2),
    ])]
    base_rep = validate(spark, base, shapes)
    inc = validate_delta(spark, base, delta, shapes, base_rep)
    full = validate(spark, base.unionByName(delta), shapes)
    assert {tuple(r) for r in inc.violations.collect()} == \
        {tuple(r) for r in full.violations.collect()}
    assert inc.conforms  # a reaches b,c after the delta


def _every_kind_graph(spark):
    rows = [
        iri_triple(EX + "p1", vocab.TYPE, EX + "Person"),
        iri_triple(EX + "p2", vocab.TYPE, EX + "Person"),
        iri_triple(EX + "p3", vocab.TYPE, EX + "Person"),
        iri_triple(EX + "p1", EX + "knows", EX + "p2"),
        iri_triple(EX + "p1", EX + "knows", EX + "p3"),
        lit_triple(EX + "p1", EX + "age", "42", XSD_INT),
        # two bad values sharing one lexical form: two report rows, same text
        lit_triple(EX + "p2", EX + "age", "7", XSD_STR),
        lit_triple(EX + "p2", EX + "age", "7", vocab.XSD + "decimal"),
        lit_triple(EX + "p1", EX + "status", "active", XSD_STR),
        lit_triple(EX + "p2", EX + "status", "retired", XSD_STR),
        lit_triple(EX + "p1", EX + "label", "a", lang="en"),
        lit_triple(EX + "p1", EX + "label", "b", lang="en"),
    ]
    return triples_df(spark, rows)


def _every_kind_shapes():
    return [NodeShape(
        "S", target_classes=[EX + "Person"],
        properties=[
            # two kinds from one aggregate row each (count + qualified count)
            PropertyConstraint(path=EX + "knows", min_count=1, max_count=1,
                               qualified=PropertyConstraint(clazz=EX + "Person"),
                               q_min_count=1, q_max_count=1),
            # a count kind and per-value rows from the same aggregate row
            PropertyConstraint(path=EX + "age", datatype=XSD_INT, max_count=1,
                               severity=vocab.SH + "Info", message="age"),
            PropertyConstraint(path=EX + "status", has_value="active"),
            PropertyConstraint(path=EX + "label", unique_lang=True),
        ],
        not_properties=[
            # violated where the inner shape conforms
            PropertyConstraint(path=EX + "status", min_count=1),
            # inner bad values are NOT reported as 'value' rows; p3 has no
            # status, so the inner shape conforms vacuously there
            PropertyConstraint(path=EX + "status", datatype=XSD_INT),
        ],
    )]


def test_validate_every_kind_as_multiset(spark):
    """Row multiplicity of the one-pass report: every aggregate kind, sh:not,
    and per-value rows, including two distinct bad values that print alike."""
    from collections import Counter

    k, a, st, lb = EX + "knows", EX + "age", EX + "status", EX + "label"
    want = Counter([
        (EX + "p1", "S", k, "maxCount", "2"),
        (EX + "p1", "S", k, "qualifiedMaxCount", "2"),
        (EX + "p2", "S", k, "minCount", "0"),
        (EX + "p2", "S", k, "qualifiedMinCount", "0"),
        (EX + "p3", "S", k, "minCount", "0"),
        (EX + "p3", "S", k, "qualifiedMinCount", "0"),
        (EX + "p2", "S", a, "maxCount", "2"),
        (EX + "p2", "S", a, "value", "7"),
        (EX + "p2", "S", a, "value", "7"),
        (EX + "p2", "S", st, "hasValue", "active"),
        (EX + "p3", "S", st, "hasValue", "active"),
        (EX + "p1", "S", lb, "uniqueLang", "1"),
        (EX + "p1", "S", st, "not", "1"),
        (EX + "p2", "S", st, "not", "1"),
        (EX + "p3", "S", st, "not", "0"),
    ])
    g, shapes = _every_kind_graph(spark), _every_kind_shapes()
    rep = validate(spark, g, shapes)
    assert Counter(tuple(r) for r in rep.violations.collect()) == want
    assert not rep.conforms

    def details(row):
        return (vocab.SH + "Info", "age") if row[2] == a else (vocab.SH + "Violation", None)

    rep = validate(spark, g, shapes, with_details=True)
    assert rep.violations.columns == [
        "focus", "shape", "path", "constraint", "value", "severity", "message"
    ]
    assert Counter(tuple(r) for r in rep.violations.collect()) == Counter(
        {row + details(row): n for row, n in want.items()}
    )


def test_validate_delta_evaluates_lazy_delta_once(spark):
    """A lazy delta plan runs once, at validate_delta's entry: a counting UDF
    in the delta's plan ticks once per delta row, however many branches of
    the re-validation read the delta."""
    from pyspark.sql import functions as F

    from re_shacl_spark.validate.incremental import validate_delta

    base = _every_kind_graph(spark)
    shapes = _every_kind_shapes()
    base_rep = validate(spark, base, shapes)
    rows = [
        iri_triple(EX + "p2", EX + "knows", EX + "p1"),
        iri_triple(EX + "p4", vocab.TYPE, EX + "Person"),
        lit_triple(EX + "p3", EX + "status", "active", XSD_STR),
    ]
    ticks = spark.sparkContext.accumulator(0)

    def tick(s):
        ticks.add(1)
        return s

    delta = triples_df(spark, rows).withColumn("s", F.udf(tick, "string")("s"))
    inc = validate_delta(spark, base, delta, shapes, base_rep)
    got = sorted(tuple(r) for r in inc.violations.collect())
    assert ticks.value == len(rows)
    full = validate(spark, base.unionByName(triples_df(spark, rows)), shapes)
    assert got == sorted(tuple(r) for r in full.violations.collect())


def test_duplicate_rows_count_once_and_alike_terms_stay_two(spark):
    """A triple stated twice (two src_url) is one value: it counts once for
    minCount and maxCount and gives one value row.  Distinct terms that print
    alike ("7"^^xsd:integer, "7"^^xsd:string, "7"^^xsd:decimal) stay three
    values and two value rows."""
    from collections import Counter

    a = EX + "age"
    rows = [
        iri_triple(EX + "p1", vocab.TYPE, EX + "Person", src_url="u1"),
        iri_triple(EX + "p2", vocab.TYPE, EX + "Person", src_url="u1"),
        iri_triple(EX + "p2", vocab.TYPE, EX + "Person", src_url="u2"),
        lit_triple(EX + "p1", a, "7", XSD_INT, src_url="u1"),
        lit_triple(EX + "p1", a, "7", XSD_INT, src_url="u2"),
        lit_triple(EX + "p1", a, "7", XSD_STR, src_url="u1"),
        lit_triple(EX + "p1", a, "7", XSD_STR, src_url="u2"),
        lit_triple(EX + "p1", a, "7", vocab.XSD + "decimal", src_url="u1"),
        lit_triple(EX + "p2", a, "7", XSD_INT, src_url="u1"),
        lit_triple(EX + "p2", a, "7", XSD_INT, src_url="u2"),
    ]
    shapes = [NodeShape("S", target_classes=[EX + "Person"], properties=[
        PropertyConstraint(path=a, min_count=2, max_count=2, datatype=XSD_INT),
    ])]
    rep = validate(spark, triples_df(spark, rows), shapes)
    assert Counter(tuple(r) for r in rep.violations.collect()) == Counter([
        (EX + "p1", "S", a, "maxCount", "3"),
        (EX + "p1", "S", a, "value", "7"),
        (EX + "p1", "S", a, "value", "7"),
        (EX + "p2", "S", a, "minCount", "1"),
    ])


def _final_plans(spark, description: str) -> list[str]:
    """The final adaptive physical plan tree of every SQL execution that ran
    under job description ``description``, as text."""
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    execs = store.executionsList(max(0, n - 50), 50)
    plans = []
    for i in range(execs.size()):
        e = execs.apply(i)
        if e.description() == description:
            text = e.physicalPlanDescription()
            if "== Final Plan ==" in text:
                text = text.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
            plans.append(text.split("\n\n")[0])
    return plans


def test_validate_plan_has_one_shuffle_and_no_table_broadcast(spark):
    """With no sh:class and no sh:node, validate is one aggregation: its
    final adaptive plan has exactly one shuffle Exchange and no
    BroadcastExchange over a LocalTableScan (a driver-side table broadcast
    is a Spark job of its own), and repeated calls run equal job counts."""
    import re
    import time

    g = _graph(spark)
    shapes = [NodeShape("S", target_classes=[EX + "Person"], target_nodes=[EX + "p9"], properties=[
        PropertyConstraint(path=EX + "knows", min_count=1, max_count=1),
        PropertyConstraint(path=EX + "knows", inverse=True, max_count=1),
        PropertyConstraint(path=EX + "age", or_branches=[
            PropertyConstraint(datatype=XSD_INT), PropertyConstraint(node_kind=vocab.SH + "IRI"),
        ]),
        PropertyConstraint(path=EX + "status", has_value="active"),
    ])]
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    jobs, plans = [], []
    for i in range(3):
        group = f"validate-plan-{i}"
        sc.setJobGroup(group, group)
        try:
            rep = validate(spark, g, shapes)
        finally:
            sc.setJobGroup(group + "-sentinel", "sentinel")
            spark.range(1).collect()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        deadline = time.time() + 30
        while not tracker.getJobIdsForGroup(group + "-sentinel"):
            assert time.time() < deadline, "sentinel job never reached the status tracker"
            time.sleep(0.05)
        jobs.append(len(tracker.getJobIdsForGroup(group)))
        plans += _final_plans(spark, group)
    assert {(r.focus, r.constraint) for r in rep.violations.collect()} == {
        (EX + "p1", "maxCount"), (EX + "p2", "minCount"), (EX + "p3", "minCount"),
        (EX + "p9", "minCount"), (EX + "p2", "hasValue"), (EX + "p3", "hasValue"),
        (EX + "p9", "hasValue"), (EX + "p2", "value"),
    }
    assert len(set(jobs)) == 1, jobs
    assert len(plans) == 3
    for plan in plans:
        assert len(re.findall(r"(?<![A-Za-z])Exchange \(", plan)) == 1, plan
        lines = plan.splitlines()
        for i, line in enumerate(lines):
            if "BroadcastExchange" in line:
                depth = line.index("BroadcastExchange")
                subtree = []
                for below in lines[i + 1:]:
                    name = below.lstrip(" :+-|")
                    if len(below) - len(name) <= depth:
                        break
                    subtree.append(name)
                assert not any(n.startswith("LocalTableScan") for n in subtree), plan


def test_rewrite_shapes_keeps_every_field():
    """rewrite_shapes moves every term onto the fused reps and drops no field:
    node- and property-level sh:sparql and SHACL-AF targets survive, and a
    complex path's atoms go through the property reps like a plain path."""
    sel = SparqlConstraint(select=f"SELECT $this WHERE {{ $this <{EX}p> ?o }}")
    complex_pc = PropertyConstraint(path=Path(f"<{EX}old>/<{EX}q>+"), min_count=1)
    plain_pc = PropertyConstraint(path=EX + "old", max_count=1, sparql_constraints=[sel])
    shape = NodeShape(
        "sh:S", target_nodes=[EX + "b"], properties=[complex_pc, plain_pc],
        sparql_constraints=[sel], sparql_targets=[sel],
    )
    (out,) = rewrite_shapes([shape], {EX + "b": EX + "a"}, {}, {EX + "old": EX + "new"})
    assert out.sparql_constraints == [sel] and out.sparql_targets == [sel]
    assert out.properties[1].sparql_constraints == [sel]
    assert out.properties[0].path == Path(f"<{EX}new>/<{EX}q>+")
    assert out.properties[1].path == EX + "new"
    assert out.target_nodes == [EX + "a"]
    assert (out.properties[0].min_count, out.properties[1].max_count) == (1, 1)
