"""BGP pattern matching (query.py) over hand-built graphs."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from re_shacl_spark.model.triples import iri_triple, lit_triple, triples_df, vocab
from re_shacl_spark.query import bgp

EX = "http://x.org/"


def _g(spark):
    rows = [
        iri_triple(EX + "a", vocab.TYPE, EX + "Person"),
        iri_triple(EX + "b", vocab.TYPE, EX + "Person"),
        iri_triple(EX + "a", EX + "knows", EX + "b"),
        iri_triple(EX + "b", EX + "knows", EX + "a"),
        iri_triple(EX + "a", EX + "likes", EX + "a"),   # self-loop
        lit_triple(EX + "a", EX + "name", "Alice"),
        iri_triple(EX + "c", EX + "knows", EX + "a"),   # c is untyped
    ]
    return triples_df(spark, rows)


def test_bgp_join_on_shared_vars(spark):
    got = {tuple(r) for r in bgp(
        _g(spark),
        [("?x", vocab.TYPE, EX + "Person"), ("?x", EX + "knows", "?y")],
    ).collect()}
    assert got == {(EX + "a", EX + "b"), (EX + "b", EX + "a")}


def test_bgp_repeated_variable_in_pattern(spark):
    # ?x likes ?x: only the self-loop
    got = [tuple(r) for r in bgp(_g(spark), [("?x", EX + "likes", "?x")]).collect()]
    assert got == [(EX + "a",)]


def test_bgp_optional_and_select(spark):
    got = {tuple(r) for r in bgp(
        _g(spark),
        [("?x", vocab.TYPE, EX + "Person")],
        optional=[("?x", EX + "name", "?n")],
        select=["x", "n"],
    ).collect()}
    assert got == {(EX + "a", "Alice"), (EX + "b", None)}


def test_bgp_three_hop_chain(spark):
    got = {tuple(r) for r in bgp(
        _g(spark),
        [("?x", EX + "knows", "?y"), ("?y", EX + "knows", "?z")],
        select=["x", "z"],
    ).collect()}
    assert got == {(EX + "a", EX + "a"), (EX + "b", EX + "b"), (EX + "c", EX + "b")}


def test_bgp_disconnected_raises(spark):
    with pytest.raises(ValueError, match="disconnected"):
        bgp(_g(spark), [("?x", EX + "knows", "?y"), ("?p", EX + "likes", "?q")])
    # explicit opt-in allows the cross product
    n = bgp(_g(spark),
            [("?x", EX + "likes", "?x"), ("?p", vocab.TYPE, "?t")],
            allow_cross=True).count()
    assert n == 2


# -- property paths ----------------------------------------------------------

def _chain(spark):
    # a -n-> b -n-> c -n-> d, plus a type edge and a parallel relation
    rows = [
        iri_triple(EX + "a", EX + "n", EX + "b"),
        iri_triple(EX + "b", EX + "n", EX + "c"),
        iri_triple(EX + "c", EX + "n", EX + "d"),
        iri_triple(EX + "a", EX + "m", EX + "d"),
        iri_triple(EX + "a", vocab.TYPE, EX + "T"),
    ]
    return triples_df(spark, rows)


def test_path_parse():
    from re_shacl_spark.query import parse_path

    assert parse_path("kg:a") == ("iri", "kg:a")
    assert parse_path("^kg:a") == ("inv", ("iri", "kg:a"))
    assert parse_path("kg:a/kg:b+") == (
        "seq", [("iri", "kg:a"), ("plus", ("iri", "kg:b"))])
    assert parse_path("(kg:a|kg:b)*") == (
        "star", ("alt", [("iri", "kg:a"), ("iri", "kg:b")]))
    assert parse_path("<http://x.org/p>/kg:b") == (
        "seq", [("iri", "http://x.org/p"), ("iri", "kg:b")])
    for bad in ("", "kg:a/", "(kg:a", "kg:a)b", "|kg:a"):
        with pytest.raises(ValueError):
            parse_path(bad)


def test_path_eval_ops(spark):
    from re_shacl_spark.query import eval_path

    g = _chain(spark)
    pairs = lambda e: {tuple(r) for r in eval_path(g, e).collect()}  # noqa: E731
    n = EX + "n"
    assert pairs(f"<{n}>") == {(EX + "a", EX + "b"), (EX + "b", EX + "c"),
                               (EX + "c", EX + "d")}
    assert pairs(f"^<{n}>") == {(EX + "b", EX + "a"), (EX + "c", EX + "b"),
                                (EX + "d", EX + "c")}
    assert pairs(f"<{n}>/<{n}>") == {(EX + "a", EX + "c"), (EX + "b", EX + "d")}
    assert pairs(f"<{n}>+") == {
        (EX + "a", EX + "b"), (EX + "b", EX + "c"), (EX + "c", EX + "d"),
        (EX + "a", EX + "c"), (EX + "b", EX + "d"), (EX + "a", EX + "d")}
    # alternation: n-edges plus the m shortcut
    assert (EX + "a", EX + "d") in pairs(f"<{n}>|<{EX}m>")
    # e? and e*: include the zero-length identity over every term
    idty = {(x, x) for x in (EX + "a", EX + "b", EX + "c", EX + "d", EX + "T")}
    assert pairs(f"<{EX}m>?") == idty | {(EX + "a", EX + "d")}
    assert pairs(f"<{n}>*") == idty | pairs(f"<{n}>+")


def test_bgp_join_term_identity(spark):
    # A variable bound to a LITERAL in one pattern must not join a pattern
    # where the same string is an IRI subject (rdflib term-identity
    # semantics) — and vice versa; same-term joins still work.
    v = EX + "v"
    g = triples_df(spark, [
        lit_triple(EX + "s1", EX + "p", v),           # s1 -p-> "…/v" (literal)
        iri_triple(EX + "s2", EX + "p", v),           # s2 -p-> <…/v> (IRI)
        iri_triple(v, EX + "q", EX + "o1"),           # <…/v> -q-> o1
        lit_triple(EX + "y", EX + "q", v),            # y -q-> "…/v" (literal)
    ])
    got = {tuple(r) for r in bgp(
        g, [("?x", EX + "p", "?m"), ("?m", EX + "q", "?z")], select=["x", "m", "z"]
    ).collect()}
    # only the IRI binding of ?m continues into ?m q ?z
    assert got == {(EX + "s2", v, EX + "o1")}
    # object-object join: literal "…/v" joins literal "…/v", IRI joins IRI —
    # never across
    got2 = {tuple(r) for r in bgp(
        g, [("?x", EX + "p", "?m"), ("?y", EX + "q", "?m")], select=["x", "m", "y"]
    ).collect()}
    assert got2 == {(EX + "s1", v, EX + "y")}
    # MINUS compatibility is term-aware too: removing (?m bound via q-object
    # = the literal) must not remove the IRI binding
    got3 = {tuple(r) for r in bgp(
        g, [("?x", EX + "p", "?m")], minus=[("?y", EX + "q", "?m")], select=["x", "m"]
    ).collect()}
    assert got3 == {(EX + "s2", v)}
    # hidden term-tag companions never leak into the solution schema
    for df in (
        bgp(g, [("?x", EX + "p", "?m")]),
        bgp(g, [("?x", EX + "p", "?m")], optional=[("?m", EX + "q", "?z")]),
    ):
        assert all(not c.endswith("__t") for c in df.columns)


def test_path_term_identity_composition(spark):
    # ADVICE r3: a literal "…/v" must not continue a sequence path through
    # the IRI <…/v> (same string form, different RDF terms) — but a
    # literal-mediated inverse hop (legal RDF: literal as shared OBJECT)
    # must still compose.
    from re_shacl_spark.query import eval_path

    v = EX + "v"
    g = triples_df(spark, [
        lit_triple(EX + "s1", EX + "p", v),          # s1 -p-> "…/v" (literal)
        iri_triple(v, EX + "q", EX + "o1"),          # <…/v> -q-> o1
        lit_triple(EX + "y", EX + "q", v),           # y -q-> "…/v" (literal)
    ])
    pairs = lambda e: {tuple(r) for r in eval_path(g, e).collect()}  # noqa: E731
    # string-form join would fabricate (s1, o1) through the literal/IRI pun
    assert (EX + "s1", EX + "o1") not in pairs(f"<{EX}p>/<{EX}q>")
    # inverse composition through the SHARED LITERAL is real
    assert pairs(f"<{EX}p>/^<{EX}q>") == {(EX + "s1", EX + "y")}
    # closure: p+ must not hop from the literal into the IRI's out-edges
    g2 = triples_df(spark, [
        lit_triple(EX + "s1", EX + "p", v),
        iri_triple(v, EX + "p", EX + "o1"),
    ])
    got = {tuple(r) for r in eval_path(g2, f"<{EX}p>+").collect()}
    assert (EX + "s1", EX + "o1") not in got


def test_path_in_bgp(spark):
    from re_shacl_spark.query import Path

    g = _chain(spark)
    # typed nodes reachable in 1+ n-steps from ?x, constant endpoint
    got = {tuple(r) for r in bgp(
        g,
        [("?x", vocab.TYPE, EX + "T"), ("?x", Path(f"<{EX}n>+"), "?y")],
        select=["x", "y"], distinct=True,
    ).collect()}
    assert got == {(EX + "a", EX + "b"), (EX + "a", EX + "c"), (EX + "a", EX + "d")}
    # constant object on a path pattern + repeated variable self-pairs
    got2 = {tuple(r) for r in bgp(
        g, [("?x", Path(f"<{EX}n>/<{EX}n>"), EX + "d")]).collect()}
    assert got2 == {(EX + "b",)}
    got3 = {tuple(r) for r in bgp(
        g, [("?x", Path(f"<{EX}n>*"), "?x")], distinct=True).collect()}
    assert len(got3) == 5  # every term, zero-length only (the chain is acyclic)


def test_bgp_filter_and_minus(spark):
    from pyspark.sql import functions as F

    g = _g(spark)
    # FILTER: persons whose knows-target is exactly b
    got = {tuple(r) for r in bgp(
        g,
        [("?x", vocab.TYPE, EX + "Person"), ("?x", EX + "knows", "?y")],
        where=F.col("y") == EX + "b",
    ).collect()}
    assert got == {(EX + "a", EX + "b")}
    # MINUS: persons minus those with a self-loop like (shared var x)
    got2 = {tuple(r) for r in bgp(
        g,
        [("?x", vocab.TYPE, EX + "Person")],
        minus=[("?x", EX + "likes", "?z")],
    ).collect()}
    assert got2 == {(EX + "b",)}
    # MINUS with no shared variable removes nothing (SPARQL 1.1 §8.3)
    got3 = bgp(
        g,
        [("?x", vocab.TYPE, EX + "Person")],
        minus=[("?p", EX + "likes", "?q")],
    ).count()
    assert got3 == 2


def test_path_negated_property_set(spark):
    from re_shacl_spark.query import eval_path, parse_path

    g = _chain(spark)  # n-chain a->b->c->d, a -m-> d, a type T
    pairs = lambda e: {tuple(r) for r in eval_path(g, e).collect()}  # noqa: E731
    # everything except n-edges: the m edge and the type edge
    assert pairs(f"!<{EX}n>") == {(EX + "a", EX + "d"), (EX + "a", EX + "T")}
    # set form excluding both n and the type predicate
    assert pairs(f"!(<{EX}n>|<{vocab.TYPE}>)") == {(EX + "a", EX + "d")}
    # reverse-only member: reverse edges not labeled m (i.e. reverse n + type)
    got = pairs(f"!(^<{EX}m>)")
    assert (EX + "b", EX + "a") in got and (EX + "a", EX + "d") not in got
    # mixed: union of both complements
    assert parse_path(f"!(<{EX}n>|^<{EX}m>)") == (
        "nps", [EX + "n"], [EX + "m"])
    with pytest.raises(ValueError):
        parse_path("!(a|+)")


def test_union_domains_and_nulls(spark):
    """UNION as validate reaches it (validate.sparql.evaluate, one Group per
    branch): a variable a branch does not bind is null in that branch's rows."""
    from re_shacl_spark.validate.sparql import Group, ParsedSelect, evaluate, parse_select

    g = _g(spark)
    parsed = ParsedSelect(
        ["x", "y"],
        False,
        [
            Group(patterns=[("?x", EX + "knows", "?y")]),
            Group(patterns=[("?x", vocab.TYPE, EX + "Person")]),  # binds ?x only → ?y null
        ],
        {},
        distinct=True,
    )
    got = {tuple(r) for r in evaluate(g, parsed).collect()}
    assert (EX + "a", EX + "b") in got and (EX + "c", EX + "a") in got
    assert (EX + "a", None) in got and (EX + "b", None) in got
    with pytest.raises(ValueError):
        parse_select("SELECT $this WHERE { }")


def test_values_inline_bindings(spark):
    g = _g(spark)
    # plain single-var VALUES: restrict ?x to a and c
    got = {tuple(r) for r in bgp(
        g, [("?x", EX + "knows", "?y")],
        values=(["x"], [(EX + "a",), (EX + "c",)]),
    ).collect()}
    assert got == {(EX + "a", EX + "b"), (EX + "c", EX + "a")}
    # UNDEF: row 1 pins x, row 2 pins y; binding (a,b) matches row 1 only,
    # (b,a) matches row 2 only, (c,a) matches row 2 only
    rows = bgp(
        g, [("?x", EX + "knows", "?y")],
        values=(["x", "y"], [(EX + "a", None), (None, EX + "a")]),
    ).collect()
    assert sorted(tuple(r) for r in rows) == sorted([
        (EX + "a", EX + "b"), (EX + "b", EX + "a"), (EX + "c", EX + "a")])
    # all-UNDEF row passes every binding once (multiset: 2 rows → doubled)
    doubled = bgp(
        g, [("?x", EX + "likes", "?y")],
        values=(["x"], [(None,), (None,)]),
    ).collect()
    assert len(doubled) == 2
    # errors: unknown variable, arity mismatch
    with pytest.raises(ValueError):
        bgp(g, [("?x", EX + "knows", "?y")], values=(["z"], [("v",)]))
    with pytest.raises(ValueError):
        bgp(g, [("?x", EX + "knows", "?y")], values=(["x"], [("a", "b")]))


# ---------------------------------------------------------------------------
# Aggregation + solution modifiers + BIND + FILTER (NOT) EXISTS
# ---------------------------------------------------------------------------


def _agg_g(spark):
    rows = [
        iri_triple(EX + "a", vocab.TYPE, EX + "Person"),
        iri_triple(EX + "b", vocab.TYPE, EX + "Person"),
        iri_triple(EX + "c", vocab.TYPE, EX + "Robot"),
        lit_triple(EX + "a", EX + "age", "30", dtype=vocab.XSD + "integer"),
        lit_triple(EX + "b", EX + "age", "40", dtype=vocab.XSD + "integer"),
        lit_triple(EX + "c", EX + "age", "unknown"),
        lit_triple(EX + "a", EX + "name", "Alice"),
        lit_triple(EX + "b", EX + "name", "Bob"),
        lit_triple(EX + "b", EX + "name", "Bobby"),
    ]
    return triples_df(spark, rows)


def test_aggregate_count_sum_groupconcat(spark):
    from re_shacl_spark.query import aggregate

    sol = bgp(_agg_g(spark), [("?x", vocab.TYPE, "?t")],
              optional=[("?x", EX + "age", "?v"), ("?x", EX + "name", "?n")])
    out = aggregate(sol, ["t"], {
        "n": ("count", "*"),
        "n_named": ("count", "n"),           # COUNT(?n) skips unbound
        "n_people": ("count_distinct", "x"),
        "total_age": ("sum", "v"),           # 'unknown' casts to null, skipped
        "names": ("group_concat", "n", "|"),
        "any_x": ("sample", "x"),
    })
    got = {r["t"]: r.asDict() for r in out.collect()}
    person = got[EX + "Person"]
    # b has two names -> 3 solution rows for Person
    assert person["n"] == 3 and person["n_named"] == 3 and person["n_people"] == 2
    assert person["total_age"] == 30 + 40 + 40  # b's age repeats per name row
    assert person["names"] == "Alice|Bob|Bobby"
    assert person["any_x"] == EX + "a"
    robot = got[EX + "Robot"]
    assert robot["total_age"] is None and robot["n"] == 1


def test_aggregate_global_group_and_having(spark):
    from pyspark.sql import functions as F

    from re_shacl_spark.query import aggregate

    sol = bgp(_agg_g(spark), [("?x", vocab.TYPE, "?t")])
    glob = aggregate(sol, [], {"n": ("count", "*")})
    assert glob.collect()[0]["n"] == 3
    kept = aggregate(sol, ["t"], {"n": ("count", "*")}, having=F.col("n") >= 2)
    assert [r["t"] for r in kept.collect()] == [EX + "Person"]


def test_constant_terms_are_term_strict(spark):
    """A plain-string constant is an IRI and never matches a literal pun; a
    Lit constant matches the exact literal (dtype/lang included)."""
    from re_shacl_spark.query import Lit

    rows = [
        iri_triple(EX + "a", EX + "p", "30"),  # IRI <30>
        lit_triple(EX + "b", EX + "p", "30", dtype=vocab.XSD + "integer"),
        lit_triple(EX + "c", EX + "p", "30"),  # plain literal (xsd:string)
        lit_triple(EX + "d", EX + "p", "chat", lang="fr"),
    ]
    g = triples_df(spark, rows)
    assert {r["s"] for r in bgp(g, [("?s", EX + "p", "30")]).collect()} == {EX + "a"}
    assert {
        r["s"]
        for r in bgp(g, [("?s", EX + "p", Lit("30", dtype=vocab.XSD + "integer"))]).collect()
    } == {EX + "b"}
    assert {r["s"] for r in bgp(g, [("?s", EX + "p", Lit("30"))]).collect()} == {EX + "c"}
    assert {r["s"] for r in bgp(g, [("?s", EX + "p", Lit("chat", lang="fr"))]).collect()} == {
        EX + "d"
    }
    with pytest.raises(ValueError, match="subject/predicate"):
        bgp(g, [(Lit("30"), EX + "p", "?o")])


def test_graph_quad_patterns(spark):
    """SPARQL GRAPH: the quad slot binds src_url; null-src triples live in
    the default graph and are invisible to GRAPH patterns; a graph variable
    joins across quads; constants filter."""
    from re_shacl_spark.query import bgp

    rows = [
        iri_triple(EX + "a", EX + "p", EX + "b", src_url="http://g1"),
        iri_triple(EX + "b", EX + "p", EX + "c", src_url="http://g1"),
        iri_triple(EX + "a", EX + "p", EX + "c", src_url="http://g2"),
        iri_triple(EX + "a", EX + "p", EX + "d"),  # default graph (null src)
    ]
    g = triples_df(spark, rows)
    # graph variable binds per triple; default-graph triple excluded
    got = {
        (r["x"], r["y"], r["gr"])
        for r in bgp(g, [("?x", EX + "p", "?y", "?gr")]).collect()
    }
    assert got == {
        (EX + "a", EX + "b", "http://g1"),
        (EX + "b", EX + "c", "http://g1"),
        (EX + "a", EX + "c", "http://g2"),
    }
    # shared graph variable: 2-hop chain must stay within ONE graph
    chains = bgp(
        g, [("?x", EX + "p", "?y", "?gr"), ("?y", EX + "p", "?z", "?gr")]
    ).collect()
    assert len(chains) == 1 and chains[0]["gr"] == "http://g1"
    # constant graph term filters
    only_g2 = bgp(g, [("?x", EX + "p", "?y", "http://g2")]).collect()
    assert {(r["x"], r["y"]) for r in only_g2} == {(EX + "a", EX + "c")}


def test_graph_quad_with_path(spark):
    """A property path composes with a CONSTANT graph (closure confined to
    that graph); a graph VARIABLE over a path raises."""
    from re_shacl_spark.query import Path, bgp

    rows = [
        iri_triple(EX + "a", EX + "p", EX + "b", src_url="http://g1"),
        iri_triple(EX + "b", EX + "p", EX + "c", src_url="http://g2"),
    ]
    g = triples_df(spark, rows)
    got = {
        (r["x"], r["y"])
        for r in bgp(g, [("?x", Path(f"<{EX}p>+"), "?y", "http://g1")]).collect()
    }
    assert got == {(EX + "a", EX + "b")}  # a->b->c crosses graphs: not closed
    with pytest.raises(ValueError, match="GRAPH variable"):
        bgp(g, [("?x", Path(f"<{EX}p>+"), "?y", "?gr")])


def test_modifiers_order_offset_limit(spark):
    from re_shacl_spark.query import aggregate, modifiers

    sol = bgp(_agg_g(spark), [("?x", "?p", "?o")])
    per_subj = aggregate(sol, ["x"], {"n": ("count", "*")})
    ordered = modifiers(per_subj, order_by=[("n", "desc"), "x"])
    names = [r["x"] for r in ordered.collect()]
    assert names == [EX + "b", EX + "a", EX + "c"]  # 4, 3, 2 triples
    sliced = modifiers(per_subj, order_by=[("n", "desc"), "x"], limit=1, offset=1)
    assert [r["x"] for r in sliced.collect()] == [EX + "a"]


def test_bind_and_filter_exists(spark):
    from pyspark.sql import functions as F

    got = {tuple(r) for r in bgp(
        _agg_g(spark),
        [("?x", vocab.TYPE, "?t")],
        bind={"label": F.concat(F.lit("<"), F.col("x"), F.lit(">"))},
        filter_exists=[[("?x", EX + "age", "?v")]],
        select=["x", "label"],
    ).collect()}
    assert got == {(EX + "a", f"<{EX}a>"), (EX + "b", f"<{EX}b>"),
                   (EX + "c", f"<{EX}c>")}


def test_filter_not_exists_shared_and_disjoint(spark):
    # shared variable: drop typed subjects that have a name
    got = {r["x"] for r in bgp(
        _agg_g(spark),
        [("?x", vocab.TYPE, "?t")],
        filter_not_exists=[[("?x", EX + "name", "?n")]],
    ).collect()}
    assert got == {EX + "c"}
    # NO shared variable: NOT EXISTS wipes everything when the inner matches
    # (the MINUS-vs-NOT-EXISTS divergence, SPARQL 1.1 §8.3)
    empty = bgp(
        _agg_g(spark),
        [("?x", vocab.TYPE, "?t")],
        filter_not_exists=[[("?y", EX + "name", "?n")]],
    )
    assert empty.count() == 0
    # ...while MINUS with no shared variable removes nothing
    kept = bgp(
        _agg_g(spark),
        [("?x", vocab.TYPE, "?t")],
        minus=[("?y", EX + "name", "?n")],
    )
    assert kept.count() == 3


def test_bind_rejects_rebinding(spark):
    from pyspark.sql import functions as F

    with pytest.raises(ValueError, match="already bound"):
        bgp(_agg_g(spark), [("?x", vocab.TYPE, "?t")],
            bind={"x": F.lit("nope")}).collect()


def test_subquery_composition(spark):
    # SPARQL §12 subquery shape: aggregate in the inner SELECT, joined back
    # into the outer pattern — DataFrames compose directly, no special form.
    from pyspark.sql import functions as F

    from re_shacl_spark.query import aggregate

    g = _g(spark)
    # inner: how many people does each ?x know
    inner = aggregate(
        bgp(g, [("?x", EX + "knows", "?y")]), ["x"], {"n_known": ("count", "y")}
    )
    # outer: typed persons, enriched with their out-degree
    outer = bgp(g, [("?x", vocab.TYPE, EX + "Person")])
    got = {(r["x"], r["n_known"]) for r in outer.join(inner, "x").collect()}
    assert got == {(EX + "a", 1), (EX + "b", 1)}


# ---------------------------------------------------------------------------
# SPARQL term accessors: isIRI / isLiteral
# ---------------------------------------------------------------------------

def test_term_accessors_lang_datatype_kind(spark):
    from re_shacl_spark.query import term_is_iri, term_is_literal

    rows = [
        iri_triple(EX + "a", EX + "v", EX + "iri"),
        lit_triple(EX + "b", EX + "v", "plain"),                       # xsd:string
        lit_triple(EX + "c", EX + "v", "5", dtype=vocab.XSD + "int"),  # typed
        lit_triple(EX + "d", EX + "v", "hi", lang="en"),               # lang-tagged
    ]
    sol = bgp(
        triples_df(spark, rows),
        [("?s", EX + "v", "?o")],
        bind={"iri": term_is_iri("o"), "lit": term_is_literal("o")},
    )
    got = {r.s.rsplit("/", 1)[1]: (r.iri, r.lit) for r in sol.collect()}
    assert got == {
        "a": (True, False),
        "b": (False, True),
        "c": (False, True),
        "d": (False, True),
    }


def test_term_accessors_in_filter(spark):
    from re_shacl_spark.query import term_is_iri, term_is_literal

    rows = [
        iri_triple(EX + "a", EX + "v", EX + "iri"),
        lit_triple(EX + "b", EX + "v", "hallo", lang="de"),
        lit_triple(EX + "c", EX + "v", "hi", lang="en"),
    ]
    t = triples_df(spark, rows)
    only_lit = bgp(t, [("?s", EX + "v", "?o")], where=term_is_literal("o"))
    assert sorted(r.s for r in only_lit.collect()) == [EX + "b", EX + "c"]
    only_iri = bgp(t, [("?s", EX + "v", "?o")], where=term_is_iri("o"))
    assert [r.s for r in only_iri.collect()] == [EX + "a"]
