"""sh:sparql restricted SHACL-SPARQL constraints (validate/sparql.py):
parser unit tests, engine evaluation, and end-to-end through compile_shapes
with a triple-quoted sh:select in turtle (SHACL §5; the reference's committed
shape graphs use no SPARQL constraints — rebuilt-extension surface)."""

from __future__ import annotations

import pytest

from re_shacl_spark.model.triples import iri_triple, lit_triple, triples_df, vocab
from re_shacl_spark.model.ttl import parse_ttl
from re_shacl_spark.validate.engine import validate
from re_shacl_spark.validate.shapes import NodeShape, compile_shapes
from re_shacl_spark.validate.sparql import (
    SparqlConstraint,
    evaluate,
    parse_select,
)

EX = "http://x.org/"
XSD_INT = vocab.XSD + "integer"
XSD_STR = vocab.XSD + "string"


# ---------------------------------------------------------------------------
# parser
# ---------------------------------------------------------------------------

def test_parse_select_shapes_and_prefixes():
    q = parse_select(
        'PREFIX ex: <http://x.org/>\n'
        'SELECT $this ?value WHERE {\n'
        '  $this ex:bal ?value .\n'
        '  $this a ex:Customer .\n'
        '  FILTER (?value < 0 && STRLEN(?value) >= 2)\n'
        '}'
    )
    assert q.select_vars == ["this", "value"]
    assert q.patterns[0] == ("?this", EX + "bal", "?value")
    assert q.patterns[1] == ("?this", vocab.TYPE, EX + "Customer")
    assert len(q.filters) == 1 and q.filters[0][0] == "and"


def test_parse_select_literal_terms_and_star():
    from re_shacl_spark.query import Lit

    q = parse_select(
        'SELECT * WHERE { $this <http://x.org/seg> "BUILDING" . '
        '$this <http://x.org/n> 42 . }'
    )
    assert q.star
    assert q.patterns[0][2] == Lit("BUILDING")
    assert q.patterns[1][2] == Lit("42", dtype=XSD_INT)


def test_parse_select_undeclared_prefix_passes_through():
    # compact-IRI graphs (kg: convention): undeclared pnames stay verbatim
    q = parse_select("SELECT $this WHERE { $this kg:bal ?v . }")
    assert q.patterns[0][1] == "kg:bal"


def test_parse_select_pname_does_not_swallow_statement_dot():
    # a local name cannot end in '.': the dot terminates the triple
    q = parse_select("SELECT $this WHERE { $this a kg:Foo. $this kg:p ?v }")
    assert q.patterns == [("?this", vocab.TYPE, "kg:Foo"), ("?this", "kg:p", "?v")]
    q = parse_select("SELECT $this WHERE { $this kg:p kg:a.b. }")
    assert q.patterns == [("?this", "kg:p", "kg:a.b")]


@pytest.mark.parametrize("text", [
    "SELECT $this (COUNT(foo) AS ?c) WHERE { $this kg:p ?v } GROUP BY $this",
    "SELECT $this (COUNT(?v) AS c) WHERE { $this kg:p ?v } GROUP BY $this",
    "SELECT $this ?v WHERE { $this kg:p ?v } ORDER BY DESC(v)",
])
def test_parse_select_aggregate_and_order_keys_must_be_vars(text):
    with pytest.raises(ValueError, match="expected var"):
        parse_select(text)


def test_parse_select_constraint_must_project_this():
    with pytest.raises(ValueError, match=r"project \$this"):
        parse_select("SELECT ?value WHERE { $this kg:p ?value }")
    # free-standing queries have no focus node to project
    assert parse_select(
        "SELECT ?value WHERE { ?s kg:p ?value }", require_this=False
    ).select_vars == ["value"]


def test_parse_select_rejects_missing_this_and_empty():
    with pytest.raises(ValueError, match="mention"):
        parse_select("SELECT ?v WHERE { ?x <http://p> ?v . }")
    with pytest.raises(ValueError, match="empty"):
        parse_select("SELECT $this WHERE { }")


# ---------------------------------------------------------------------------
# evaluation
# ---------------------------------------------------------------------------

def _graph(spark):
    rows = [
        iri_triple(EX + "c1", vocab.TYPE, EX + "Customer"),
        iri_triple(EX + "c2", vocab.TYPE, EX + "Customer"),
        iri_triple(EX + "c3", vocab.TYPE, EX + "Customer"),
        lit_triple(EX + "c1", EX + "bal", "-12", XSD_INT),
        lit_triple(EX + "c2", EX + "bal", "55", XSD_INT),
        lit_triple(EX + "c3", EX + "bal", "oops", XSD_STR),
        lit_triple(EX + "c1", EX + "seg", "MACHINERY", XSD_STR),
        lit_triple(EX + "c2", EX + "seg", "BUILDING", XSD_STR),
        iri_triple(EX + "c3", EX + "seg", EX + "nowhere"),  # IRI pun
    ]
    return triples_df(spark, rows)


def test_evaluate_numeric_filter_drops_type_errors(spark):
    g = _graph(spark)
    q = parse_select(
        "PREFIX ex: <http://x.org/> "
        "SELECT $this ?value WHERE { $this ex:bal ?value . FILTER (?value < 0) }"
    )
    got = {(r.this, r.value) for r in evaluate(g, q).collect()}
    # 'oops' does not cast → SPARQL type error eliminates the row, no raise
    assert got == {(EX + "c1", "-12")}


def test_evaluate_string_and_term_predicates(spark):
    g = _graph(spark)
    q = parse_select(
        "PREFIX ex: <http://x.org/> "
        "SELECT $this WHERE { $this ex:seg ?s . "
        'FILTER (ISLITERAL(?s) && STRSTARTS(?s, "B") && ?s != "X") }'
    )
    assert {r.this for r in evaluate(g, q).collect()} == {EX + "c2"}
    q2 = parse_select(
        "PREFIX ex: <http://x.org/> "
        "SELECT $this WHERE { $this ex:seg ?s . FILTER (ISIRI(?s)) }"
    )
    assert {r.this for r in evaluate(g, q2).collect()} == {EX + "c3"}


# ---------------------------------------------------------------------------
# engine integration
# ---------------------------------------------------------------------------

def test_validate_sparql_only_shape(spark):
    """A shape with ONLY sh:sparql (no core grid) still validates: the
    pc_rows-empty fast path evaluates the SPARQL block against the targets."""
    g = _graph(spark)
    sc = SparqlConstraint(
        select="PREFIX ex: <http://x.org/> SELECT $this ?value "
               "WHERE { $this ex:bal ?value . FILTER (?value < 0) }",
        message="negative balance",
    )
    shapes = [NodeShape("S", target_classes=[EX + "Customer"],
                        sparql_constraints=[sc])]
    rep = validate(spark, g, shapes)
    got = {(r.focus, r.constraint, r.value) for r in rep.violations.collect()}
    assert got == {(EX + "c1", "sparql", "-12")}
    assert not rep.conforms

    det = validate(spark, g, shapes, with_details=True).violations.collect()
    assert det[0].message == "negative balance"
    assert det[0].severity == vocab.SH + "Violation"


def test_validate_sparql_scopes_to_targets(spark):
    """$this pre-binding: solutions outside the shape's target set are not
    violations (c9 has a negative bal but is not a Customer)."""
    rows = [
        iri_triple(EX + "c1", vocab.TYPE, EX + "Customer"),
        lit_triple(EX + "c1", EX + "bal", "-5", XSD_INT),
        lit_triple(EX + "c9", EX + "bal", "-7", XSD_INT),
    ]
    g = triples_df(spark, rows)
    sc = SparqlConstraint(
        select="PREFIX ex: <http://x.org/> SELECT $this ?value "
               "WHERE { $this ex:bal ?value . FILTER (?value < 0) }",
    )
    shapes = [NodeShape("S", target_classes=[EX + "Customer"],
                        sparql_constraints=[sc])]
    got = {r.focus for r in validate(spark, g, shapes).violations.collect()}
    assert got == {EX + "c1"}


def test_validate_sparql_alongside_core_constraints(spark):
    """sh:sparql rides the extras union next to the core grid."""
    from re_shacl_spark.validate.shapes import PropertyConstraint

    g = _graph(spark)
    sc = SparqlConstraint(
        select="PREFIX ex: <http://x.org/> SELECT $this WHERE "
               '{ $this ex:seg ?s . FILTER (ISIRI(?s)) }',
    )
    shapes = [NodeShape("S", target_classes=[EX + "Customer"],
                        properties=[PropertyConstraint(path=EX + "bal", min_count=1)],
                        sparql_constraints=[sc])]
    got = {(r.focus, r.constraint) for r in validate(spark, g, shapes).violations.collect()}
    assert got == {(EX + "c3", "sparql")}  # all three have bal; c3 trips sparql


def test_compile_shapes_sparql_from_ttl(spark):
    """End-to-end: triple-quoted sh:select + sh:declare prefixes through the
    turtle parser and shapes compiler."""
    ttl = '''
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://x.org/> .

ex:S a sh:NodeShape ;
  sh:targetClass ex:Customer ;
  sh:sparql [
    sh:message "negative balance" ;
    sh:prefixes ex: ;
    sh:select """
      SELECT $this ?value
      WHERE {
        $this ex:bal ?value .
        FILTER (?value < 0)
      }
    """ ;
  ] .

ex: sh:declare [ sh:prefix "ex" ; sh:namespace "http://x.org/" ] .
'''
    shapes = compile_shapes(parse_ttl(ttl))
    assert len(shapes) == 1 and len(shapes[0].sparql_constraints) == 1
    sc = shapes[0].sparql_constraints[0]
    assert sc.message == "negative balance"
    assert sc.prefixes == {"ex": "http://x.org/"}

    g = _graph(spark)
    got = {(r.focus, r.value) for r in validate(spark, g, shapes).violations.collect()}
    assert got == {(EX + "c1", "-12")}


def test_evaluate_optional_and_bound(spark):
    """OPTIONAL left-join + FILTER(!BOUND(...)) — SPARQL's negation-as-
    failure idiom; the filter scopes over the whole group (applies AFTER the
    OPTIONAL join)."""
    rows = [
        iri_triple(EX + "c1", vocab.TYPE, EX + "Customer"),
        iri_triple(EX + "c2", vocab.TYPE, EX + "Customer"),
        lit_triple(EX + "c1", EX + "bal", "5", XSD_INT),
        lit_triple(EX + "c2", EX + "bal", "9", XSD_INT),
        iri_triple(EX + "c1", EX + "vip", EX + "Gold"),
    ]
    g = triples_df(spark, rows)
    q = parse_select(
        "PREFIX ex: <http://x.org/> SELECT $this WHERE { "
        "$this ex:bal ?b . OPTIONAL { $this ex:vip ?f . } "
        "FILTER (!BOUND(?f)) }"
    )
    assert q.optionals == [("?this", EX + "vip", "?f")]
    assert {r.this for r in evaluate(g, q).collect()} == {EX + "c2"}

    q2 = parse_select(
        "PREFIX ex: <http://x.org/> SELECT $this ?f WHERE { "
        "$this ex:bal ?b . OPTIONAL { $this ex:vip ?f . } "
        "FILTER (BOUND(?f)) }"
    )
    got = {(r.this, r.f) for r in evaluate(g, q2).collect()}
    assert got == {(EX + "c1", EX + "Gold")}


def test_validate_delta_sparql_falls_back_to_full(spark):
    """Incremental validation has no local affected set for sh:sparql (a
    delta edge can flip a solution whose focus the reverse-path widening
    can't see) — it must fall back to full validation and stay row-for-row
    equal to validate(base ∪ delta)."""
    from re_shacl_spark.validate.incremental import validate_delta

    base = triples_df(spark, [
        iri_triple(EX + "c1", vocab.TYPE, EX + "Customer"),
        iri_triple(EX + "c2", vocab.TYPE, EX + "Customer"),
        lit_triple(EX + "c1", EX + "bal", "-4", XSD_INT),
        lit_triple(EX + "c2", EX + "bal", "8", XSD_INT),
    ])
    # delta adds the SECOND pattern's edge for c2 — c2's verdict flips even
    # though c2 itself is not a delta subject of the constrained path alone
    delta = triples_df(spark, [
        iri_triple(EX + "c2", EX + "flag", EX + "Risk"),
        lit_triple(EX + "c2", EX + "bal", "-9", XSD_INT),
    ])
    sc = SparqlConstraint(
        select="PREFIX ex: <http://x.org/> SELECT $this ?value WHERE { "
               "$this ex:bal ?value . $this ex:flag ex:Risk . "
               "FILTER (?value < 0) }",
    )
    shapes = [NodeShape("S", target_classes=[EX + "Customer"],
                        sparql_constraints=[sc])]
    base_rep = validate(spark, base, shapes)
    inc = validate_delta(spark, base, delta, shapes, base_rep)
    want = {(r.focus, r.constraint, r.value)
            for r in validate(spark, base.unionByName(delta), shapes).violations.collect()}
    got = {(r.focus, r.constraint, r.value) for r in inc.violations.collect()}
    assert got == want == {(EX + "c2", "sparql", "-9")}


def test_validate_delta_two_hop_sparql_target_falls_back_to_full(spark):
    """A SHACL-AF sh:target query can pull a focus in through a delta edge two
    hops away, outside any affected-focus widening: validate_delta must fall
    back to full validation, not drop the new focus's violation."""
    from re_shacl_spark.validate.incremental import validate_delta
    from re_shacl_spark.validate.shapes import PropertyConstraint

    base = triples_df(spark, [
        iri_triple("kg:c1", "kg:a", "kg:x1"),
        iri_triple("kg:c2", "kg:a", "kg:x2"),
        iri_triple("kg:x2", "kg:b", "kg:y2"),
        iri_triple("kg:c2", "kg:p", "kg:v2"),
    ])
    delta = triples_df(spark, [iri_triple("kg:x1", "kg:b", "kg:y1")])  # second hop
    tgt = SparqlConstraint(select="SELECT ?this WHERE { ?this kg:a ?x . ?x kg:b ?y }")
    shapes = [NodeShape("S", sparql_targets=[tgt],
                        properties=[PropertyConstraint(path="kg:p", min_count=1)])]
    base_rep = validate(spark, base, shapes)
    assert base_rep.conforms
    inc = validate_delta(spark, base, delta, shapes, base_rep)
    got = {(r.focus, r.constraint) for r in inc.violations.collect()}
    assert got == {("kg:c1", "minCount")}


# ---------------------------------------------------------------------------
# SHACL-AF: custom SPARQL targets + SPARQLRule inference
# ---------------------------------------------------------------------------

def test_sparql_custom_target(spark):
    """sh:target [sh:select …]: the query's ?this solutions ARE the focus
    set — no targetClass involved."""
    from re_shacl_spark.validate.shapes import PropertyConstraint

    rows = [
        lit_triple(EX + "c1", EX + "seg", "BUILDING", XSD_STR),
        lit_triple(EX + "c2", EX + "seg", "MACHINERY", XSD_STR),
        lit_triple(EX + "c3", EX + "seg", "BUILDING", XSD_STR),
        iri_triple(EX + "c1", EX + "vip", EX + "Gold"),
    ]
    g = triples_df(spark, rows)
    tgt = SparqlConstraint(
        select='PREFIX ex: <http://x.org/> SELECT ?this WHERE '
               '{ ?this ex:seg "BUILDING" . }',
    )
    shapes = [NodeShape("S", sparql_targets=[tgt],
                        properties=[PropertyConstraint(path=EX + "vip", min_count=1)])]
    got = {(r.focus, r.constraint) for r in validate(spark, g, shapes).violations.collect()}
    assert got == {(EX + "c3", "minCount")}  # c2 not targeted; c1 conforms


def test_apply_rules_single_round(spark):
    """sh:rule/sh:construct: derived triples minted from each focus binding."""
    from re_shacl_spark.validate.sparql import apply_rules, parse_construct

    rows = [
        iri_triple(EX + "c1", vocab.TYPE, EX + "Customer"),
        iri_triple(EX + "c1", EX + "inNation", EX + "n1"),
        iri_triple(EX + "n1", EX + "inRegion", EX + "r1"),
    ]
    g = triples_df(spark, rows)
    rule = SparqlConstraint(
        select="PREFIX ex: <http://x.org/> CONSTRUCT { $this ex:inRegion ?r } "
               "WHERE { $this ex:inNation ?n . ?n ex:inRegion ?r }",
    )
    pc = parse_construct(rule.select)
    assert pc.template == [("?this", EX + "inRegion", "?r")]
    shapes = [NodeShape("S", target_classes=[EX + "Customer"], rules=[rule])]
    out = apply_rules(spark, g, shapes)
    derived = {(r.s, r.p, r.o) for r in out.collect()} - {
        (r[0], r[1], r[2]) for r in rows
    }
    assert derived == {(EX + "c1", EX + "inRegion", EX + "r1")}


def test_apply_rules_fixpoint_chain(spark):
    """A rule whose output feeds its own next match (ancestor-style chain)
    converges in depth rounds, not one."""
    from re_shacl_spark.validate.sparql import apply_rules

    rows = [
        iri_triple(EX + "a", vocab.TYPE, EX + "Node"),
        iri_triple(EX + "b", vocab.TYPE, EX + "Node"),
        iri_triple(EX + "c", vocab.TYPE, EX + "Node"),
        iri_triple(EX + "a", EX + "next", EX + "b"),
        iri_triple(EX + "b", EX + "next", EX + "c"),
        iri_triple(EX + "c", EX + "next", EX + "d"),
    ]
    g = triples_df(spark, rows)
    rule = SparqlConstraint(
        select="PREFIX ex: <http://x.org/> CONSTRUCT { $this ex:reach ?z } "
               "WHERE { $this ex:next ?z }",
    )
    rule2 = SparqlConstraint(
        select="PREFIX ex: <http://x.org/> CONSTRUCT { $this ex:reach ?z } "
               "WHERE { $this ex:reach ?y . ?y ex:reach ?z }",
    )
    shapes = [NodeShape("S", target_classes=[EX + "Node"], rules=[rule, rule2])]
    out = apply_rules(spark, g, shapes)
    reach = {(r.s, r.o) for r in out.filter("p = '" + EX + "reach'").collect()}
    assert reach == {
        (EX + "a", EX + "b"), (EX + "a", EX + "c"), (EX + "a", EX + "d"),
        (EX + "b", EX + "c"), (EX + "b", EX + "d"),
        (EX + "c", EX + "d"),
    }


def test_apply_rules_literal_template(spark):
    """Lit template constants mint exact literals with full term identity."""
    from re_shacl_spark.validate.sparql import apply_rules

    rows = [
        iri_triple(EX + "c1", vocab.TYPE, EX + "Customer"),
        lit_triple(EX + "c1", EX + "bal", "-4", XSD_INT),
    ]
    g = triples_df(spark, rows)
    rule = SparqlConstraint(
        select='PREFIX ex: <http://x.org/> '
               'CONSTRUCT { $this ex:risk "high" } '
               'WHERE { $this ex:bal ?v . FILTER (?v < 0) }',
    )
    shapes = [NodeShape("S", target_classes=[EX + "Customer"], rules=[rule])]
    out = apply_rules(spark, g, shapes)
    new = out.filter("p = '" + EX + "risk'").collect()
    assert len(new) == 1
    r = new[0]
    assert (r.s, r.o, r.is_lit) == (EX + "c1", "high", True)
    assert r.o_lit.dtype == vocab.XSD + "string"
    # idempotent: re-application converges round 1 with no duplicates
    again = apply_rules(spark, out, shapes)
    assert again.count() == out.count()


def test_compile_shapes_af_from_ttl(spark):
    """sh:target + sh:rule parsed from turtle."""
    ttl = '''
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://x.org/> .

ex:S a sh:NodeShape ;
  sh:target [ sh:select "SELECT ?this WHERE { ?this ex:seg \\"BUILDING\\" . }" ] ;
  sh:rule [ a sh:SPARQLRule ;
            sh:construct """CONSTRUCT { $this a ex:Builder } WHERE { $this ex:seg ?s . }""" ] .

ex: sh:declare [ sh:prefix "ex" ; sh:namespace "http://x.org/" ] .
'''
    shapes = compile_shapes(parse_ttl(ttl))
    assert len(shapes[0].sparql_targets) == 1
    assert len(shapes[0].rules) == 1
    assert shapes[0].rules[0].prefixes == {"ex": "http://x.org/"}


# ---------------------------------------------------------------------------
# free-standing text query API
# ---------------------------------------------------------------------------

def test_sparql_query_select_modifiers(spark):
    from re_shacl_spark.validate.sparql import sparql_query

    g = _graph(spark)
    out = sparql_query(g, """
        PREFIX ex: <http://x.org/>
        SELECT DISTINCT ?c WHERE { ?c a ex:Customer . ?c ex:bal ?v . }
        ORDER BY DESC(?c) LIMIT 2 OFFSET 1
    """)
    # desc order c3,c2,c1 → offset 1, limit 2 → c2, c1
    assert [r.c for r in out.collect()] == [EX + "c2", EX + "c1"]


def test_sparql_query_construct_no_this(spark):
    from re_shacl_spark.validate.sparql import sparql_query

    g = _graph(spark)
    out = sparql_query(g, """
        PREFIX ex: <http://x.org/>
        CONSTRUCT { ?c ex:hasSeg ?s }
        WHERE { ?c ex:seg ?s . FILTER (ISLITERAL(?s)) }
    """)
    got = {(r.s, r.p, r.o) for r in out.collect()}
    assert got == {
        (EX + "c1", EX + "hasSeg", "MACHINERY"),
        (EX + "c2", EX + "hasSeg", "BUILDING"),
    }


def test_sparql_query_ask_and_describe(spark):
    from re_shacl_spark.validate.sparql import sparql_query

    g = _graph(spark)
    assert sparql_query(
        g, 'PREFIX ex: <http://x.org/> ASK { ?c ex:seg "BUILDING" . }'
    ) is True
    assert sparql_query(
        g, 'PREFIX ex: <http://x.org/> ASK { ?c ex:seg "NOPE" . }'
    ) is False
    d = sparql_query(g, "PREFIX ex: <http://x.org/> DESCRIBE ex:c1")
    assert {(r.s, r.p) for r in d.collect()} == {
        (EX + "c1", vocab.TYPE), (EX + "c1", EX + "bal"), (EX + "c1", EX + "seg"),
    }


def test_sparql_query_rejects_other_forms(spark):
    from re_shacl_spark.validate.sparql import sparql_query

    g = _graph(spark)
    with pytest.raises(ValueError, match="expected a SELECT"):
        sparql_query(g, "INSERT DATA { <a> <b> <c> }")


def test_sparql_query_aggregates(spark):
    from re_shacl_spark.validate.sparql import sparql_query

    rows = [
        iri_triple(EX + "c1", EX + "inNation", EX + "n1"),
        iri_triple(EX + "c2", EX + "inNation", EX + "n1"),
        iri_triple(EX + "c3", EX + "inNation", EX + "n2"),
        lit_triple(EX + "c1", EX + "bal", "10", XSD_INT),
        lit_triple(EX + "c2", EX + "bal", "5", XSD_INT),
        lit_triple(EX + "c3", EX + "bal", "7", XSD_INT),
    ]
    g = triples_df(spark, rows)
    out = sparql_query(g, """
        PREFIX ex: <http://x.org/>
        SELECT ?n (COUNT(*) AS ?cnt) (SUM(?b) AS ?total)
        WHERE { ?c ex:inNation ?n . ?c ex:bal ?b }
        GROUP BY ?n HAVING (?cnt > 1) ORDER BY ?n
    """)
    r = out.collect()
    assert [(x.n, x.cnt, x.total) for x in r] == [(EX + "n1", 2, 15.0)]


def test_sparql_query_count_distinct_and_global_group(spark):
    from re_shacl_spark.validate.sparql import sparql_query

    g = _graph(spark)
    out = sparql_query(g, """
        PREFIX ex: <http://x.org/>
        SELECT (COUNT(DISTINCT ?c) AS ?n) WHERE { ?c ex:bal ?v . }
    """)
    assert out.collect()[0].n == 3


def test_parse_select_rejects_unaggregated_projection():
    from re_shacl_spark.validate.sparql import parse_select

    with pytest.raises(ValueError, match="neither aggregated"):
        parse_select(
            "SELECT ?x (COUNT(*) AS ?n) WHERE { ?x <p:p> ?y . } GROUP BY ?y",
            require_this=False,
        )


def test_sparql_query_union_values_minus_exists(spark):
    from re_shacl_spark.validate.sparql import sparql_query

    rows = [
        lit_triple(EX + "c1", EX + "seg", "BUILDING", XSD_STR),
        lit_triple(EX + "c2", EX + "seg", "MACHINERY", XSD_STR),
        lit_triple(EX + "c3", EX + "seg", "AUTOMOBILE", XSD_STR),
        iri_triple(EX + "c1", EX + "vip", EX + "Gold"),
        iri_triple(EX + "c3", EX + "flag", EX + "Risk"),
    ]
    g = triples_df(spark, rows)
    # UNION branches with branch-scoped filters
    out = sparql_query(g, """
        PREFIX ex: <http://x.org/>
        SELECT ?c WHERE {
          { ?c ex:seg "BUILDING" . } UNION { ?c ex:flag ex:Risk . }
        } ORDER BY ?c
    """)
    assert [r.c for r in out.collect()] == [EX + "c1", EX + "c3"]
    # VALUES restricts; FILTER NOT EXISTS removes vip holders
    out2 = sparql_query(g, """
        PREFIX ex: <http://x.org/>
        SELECT ?c WHERE {
          ?c ex:seg ?s .
          VALUES ?s { "BUILDING" "MACHINERY" }
          FILTER NOT EXISTS { ?c ex:vip ?f . }
        }
    """)
    assert {r.c for r in out2.collect()} == {EX + "c2"}
    # MINUS removes bindings compatible on shared vars
    out3 = sparql_query(g, """
        PREFIX ex: <http://x.org/>
        SELECT ?c WHERE { ?c ex:seg ?s . MINUS { ?c ex:flag ex:Risk . } }
    """)
    assert {r.c for r in out3.collect()} == {EX + "c1", EX + "c2"}


def test_sparql_query_union_null_padding(spark):
    """A variable bound in only one branch is null (unbound) in the other."""
    from re_shacl_spark.validate.sparql import sparql_query

    rows = [
        lit_triple(EX + "c1", EX + "seg", "BUILDING", XSD_STR),
        iri_triple(EX + "c2", EX + "vip", EX + "Gold"),
    ]
    g = triples_df(spark, rows)
    out = sparql_query(g, """
        PREFIX ex: <http://x.org/>
        SELECT ?c ?s ?f WHERE {
          { ?c ex:seg ?s . } UNION { ?c ex:vip ?f . }
        }
    """)
    got = {(r.c, r.s, r.f) for r in out.collect()}
    assert got == {(EX + "c1", "BUILDING", None), (EX + "c2", None, EX + "Gold")}


def test_property_shape_sparql_with_path_substitution(spark):
    """sh:sparql on a PROPERTY shape (SHACL §5.3 property context): $PATH in
    the select substitutes the constraint's plain predicate path, and the
    violation row carries that path."""
    ttl = '''
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://x.org/> .

ex:S a sh:NodeShape ;
  sh:targetClass ex:Customer ;
  sh:property [
    sh:path ex:bal ;
    sh:sparql [
      sh:message "negative value at $PATH" ;
      sh:select """SELECT $this ?value WHERE {
        $this $PATH ?value . FILTER (?value < 0)
      }""" ;
    ] ;
  ] .

ex: sh:declare [ sh:prefix "ex" ; sh:namespace "http://x.org/" ] .
'''
    shapes = compile_shapes(parse_ttl(ttl))
    assert len(shapes[0].properties) == 1
    assert len(shapes[0].properties[0].sparql_constraints) == 1

    g = _graph(spark)
    rep = validate(spark, g, shapes, with_details=True)
    rows = rep.violations.collect()
    assert {(r.focus, r.path, r.constraint, r.value) for r in rows} == {
        (EX + "c1", EX + "bal", "sparql", "-12")
    }
    assert rows[0].message == "negative value at $PATH"


def test_sparql_query_property_paths(spark):
    """SPARQL §9 property paths in the text fragment: sequence, one-or-more
    closure, inverse, and a negated property set — compiled to query.Path in
    the predicate slot."""
    from re_shacl_spark.validate.sparql import sparql_query

    rows = [
        iri_triple(EX + "c1", EX + "inNation", EX + "n1"),
        iri_triple(EX + "n1", EX + "inRegion", EX + "r1"),
        iri_triple(EX + "a", EX + "next", EX + "b"),
        iri_triple(EX + "b", EX + "next", EX + "c"),
        iri_triple(EX + "a", EX + "other", EX + "z"),
    ]
    g = triples_df(spark, rows)
    seq = sparql_query(g, """
        PREFIX ex: <http://x.org/>
        SELECT ?c ?r WHERE { ?c ex:inNation/ex:inRegion ?r . }
    """)
    assert {(r.c, r.r) for r in seq.collect()} == {(EX + "c1", EX + "r1")}

    plus = sparql_query(g, """
        PREFIX ex: <http://x.org/>
        SELECT ?x ?y WHERE { ?x ex:next+ ?y . }
    """)
    assert {(r.x, r.y) for r in plus.collect()} == {
        (EX + "a", EX + "b"), (EX + "b", EX + "c"), (EX + "a", EX + "c"),
    }

    inv = sparql_query(g, """
        PREFIX ex: <http://x.org/>
        SELECT ?n WHERE { ?n ^ex:inNation ?c . }
    """)
    assert {r.n for r in inv.collect()} == {EX + "n1"}

    nps = sparql_query(g, """
        PREFIX ex: <http://x.org/>
        SELECT ?x ?y WHERE { ?x !(ex:next|ex:inNation|ex:inRegion) ?y . }
    """)
    assert {(r.x, r.y) for r in nps.collect()} == {(EX + "a", EX + "z")}


def test_sh_sparql_constraint_with_path(spark):
    """A sh:sparql constraint whose WHERE uses a sequence path — the
    restricted fragment composes with the engine's virtual-predicate path
    machinery."""
    rows = [
        iri_triple(EX + "c1", vocab.TYPE, EX + "Customer"),
        iri_triple(EX + "c2", vocab.TYPE, EX + "Customer"),
        iri_triple(EX + "c1", EX + "inNation", EX + "n1"),
        iri_triple(EX + "n1", EX + "inRegion", EX + "r9"),
        iri_triple(EX + "c2", EX + "inNation", EX + "n2"),
        iri_triple(EX + "n2", EX + "inRegion", EX + "r1"),
    ]
    g = triples_df(spark, rows)
    sc = SparqlConstraint(
        select="PREFIX ex: <http://x.org/> SELECT $this ?value WHERE { "
               "$this ex:inNation/ex:inRegion ?value . "
               'FILTER (?value = "http://x.org/r9") }',
    )
    shapes = [NodeShape("S", target_classes=[EX + "Customer"],
                        sparql_constraints=[sc])]
    got = {(r.focus, r.value) for r in validate(spark, g, shapes).violations.collect()}
    assert got == {(EX + "c1", EX + "r9")}
