"""Property-based parity for the BGP join machinery: random small graphs
(with deliberate IRI/literal lexical puns and mixed datatypes) and random
connected pattern chains, evaluated by query.bgp (DataFrame join plan) and by
a brutally-naive backtracking matcher over Python term tuples.  Solution
MULTISETS must match — this exercises exactly the machinery the SQL oracles
can't randomize: term-identity companions through joins, repeated variables
inside one pattern, variables in predicate position, and MINUS compatibility.
Example counts are kept low — every example runs Spark join jobs.
"""

from __future__ import annotations

from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from re_shacl_spark.model.triples import iri_triple, lit_triple, triples_df
from re_shacl_spark.query import bgp

XSD = "http://www.w3.org/2001/XMLSchema#"
NODES = ["n:a", "n:b", "n:c"]
PREDS = ["p:p", "p:q"]
VARS = ["?x", "?y", "?z"]

SETTINGS = settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# a term is ("I", form) or ("L", form, dtype, lang)
term_st = st.one_of(
    st.sampled_from(NODES).map(lambda n: ("I", n)),
    st.tuples(
        st.sampled_from(NODES),  # lexical form PUNS the IRI pool on purpose
        st.sampled_from([XSD + "string", XSD + "integer"]),
    ).map(lambda t: ("L", t[0], t[1], None)),
)

triple_st = st.tuples(st.sampled_from(NODES), st.sampled_from(PREDS), term_st)
graph_st = st.lists(triple_st, min_size=3, max_size=10, unique=True)


def _rows(graph):
    rows = []
    for s, p, o in graph:
        if o[0] == "I":
            rows.append(iri_triple(s, p, o[1]))
        else:
            rows.append(lit_triple(s, p, o[1], dtype=o[2]))
    return rows


@st.composite
def case_st(draw):
    """A random graph plus a 1-3 pattern CONNECTED chain (each pattern after
    the first shares a variable with the accumulated set)."""
    graph = draw(graph_st)
    n = draw(st.integers(1, 3))
    pats, used = [], set()

    def slot(must_var=False):
        if must_var or draw(st.booleans()):
            return draw(st.sampled_from(VARS))
        return draw(st.sampled_from(NODES))

    for i in range(n):
        s = slot(must_var=(i == 0))
        o = slot()
        p = draw(st.sampled_from(PREDS + VARS[:1]))  # ?x may sit in pred slot
        if i > 0 and not ({s, p, o} & used):
            s = draw(st.sampled_from(sorted(used)))
        pats.append((s, p, o))
        used.update(t for t in (s, p, o) if t.startswith("?"))
    return graph, pats


def _naive_match(graph, pats):
    """Backtracking matcher on full term identity; yields dicts var->term."""
    terms = [
        (("I", s), ("I", p), o if o[0] == "L" else ("I", o[1]))
        for s, p, o in graph
    ]

    def unify(pat_term, term, env):
        if pat_term.startswith("?"):
            bound = env.get(pat_term)
            if bound is None:
                env = dict(env)
                env[pat_term] = term
                return env
            return env if bound == term else None
        # constants are IRIs by the pattern API contract
        return env if term == ("I", pat_term) else None

    envs = [{}]
    for ps, pp, po in pats:
        nxt = []
        for env in envs:
            for ts, tp, to in terms:
                e = unify(ps, ts, env)
                e = e and unify(pp, tp, e)
                e = e and unify(po, to, e)
                if e is not None:
                    nxt.append(e)
        envs = nxt
    return envs


def _key(env, names):
    return tuple(env["?" + v][1] for v in names)


@given(case_st())
@SETTINGS
def test_bgp_matches_naive_backtracker(spark, case):
    graph, pats = case
    df = triples_df(spark, _rows(graph))
    out = bgp(df, pats)
    names = sorted(out.columns)
    got = Counter(tuple(r[v] for v in names) for r in out.collect())
    want = Counter(_key(e, names) for e in _naive_match(graph, pats))
    assert got == want, f"pats={pats}"


@st.composite
def optional_case_st(draw):
    """A required case plus 1-2 OPTIONAL patterns, each sharing a variable
    with the required block (the engine raises otherwise)."""
    graph, pats = draw(case_st())
    req_vars = sorted({t for p in pats for t in p if t.startswith("?")})
    opts = []
    for _ in range(draw(st.integers(1, 2))):
        shared = draw(st.sampled_from(req_vars))
        other = draw(st.sampled_from(VARS + ["?w"]))
        flip = draw(st.booleans())
        s, o = (shared, other) if flip else (other, shared)
        opts.append((s, draw(st.sampled_from(PREDS)), o))
    return graph, pats, opts


def _naive_optional(envs, graph, pat):
    """Sequential left-extension mirroring the engine's per-pattern left
    join: a null (unmatched-earlier) binding never matches (SQL null join
    semantics); unmatched rows keep their env with the pattern's NEW
    variables null."""
    terms = [
        (("I", s), ("I", p), o if o[0] == "L" else ("I", o[1]))
        for s, p, o in graph
    ]

    def unify(pat_term, term, env):
        if pat_term.startswith("?"):
            bound = env.get(pat_term, "unbound")
            if bound == "unbound":
                env = dict(env)
                env[pat_term] = term
                return env
            if bound is None:
                return None
            return env if bound == term else None
        return env if term == ("I", pat_term) else None

    out = []
    for env in envs:
        matched = []
        for ts, tp, to in terms:
            e = unify(pat[0], ts, env)
            e = e and unify(pat[1], tp, e)
            e = e and unify(pat[2], to, e)
            if e is not None:
                matched.append(e)
        if matched:
            out.extend(matched)
        else:
            e = dict(env)
            for t in pat:
                if t.startswith("?") and t not in e:
                    e[t] = None
            out.append(e)
    return out


def _key_opt(env, names):
    return tuple(
        (env["?" + v][1] if env["?" + v] is not None else None) for v in names
    )


@given(optional_case_st())
@SETTINGS
def test_bgp_optional_matches_naive(spark, case):
    graph, pats, opts = case
    df = triples_df(spark, _rows(graph))
    out = bgp(df, pats, optional=opts)
    names = sorted(out.columns)
    got = Counter(tuple(r[v] for v in names) for r in out.collect())
    envs = _naive_match(graph, pats)
    for pat in opts:
        envs = _naive_optional(envs, graph, pat)
    want = Counter(_key_opt(e, names) for e in envs)
    assert got == want, f"pats={pats} optional={opts}"


@given(case_st(), st.sampled_from(PREDS), st.booleans())
@SETTINGS
def test_bgp_filter_exists_matches_naive(spark, case, ep, negate):
    """FILTER (NOT) EXISTS: compatible-solution semi/anti semantics, incl.
    the §8.3 no-shared-variable divergence from MINUS (a matching inner
    pattern sharing nothing still decides for EVERY solution)."""
    graph, pats = case
    shares = any("?x" in p for p in pats)
    inner = [("?x", ep, "?free")] if shares else [("?only", ep, "?free")]
    df = triples_df(spark, _rows(graph))
    kw = {"filter_not_exists": [inner]} if negate else {"filter_exists": [inner]}
    out = bgp(df, pats, **kw)
    names = sorted(out.columns)
    got = Counter(tuple(r[v] for v in names) for r in out.collect())

    inner_envs = _naive_match(graph, inner)
    ivars = {t for p in inner for t in p if t.startswith("?")}

    def hit(env):
        shared = set(env) & ivars
        if shared:
            return any(all(env[v] == r[v] for v in shared) for r in inner_envs)
        return bool(inner_envs)

    want = Counter(
        _key(e, names) for e in _naive_match(graph, pats) if hit(e) != negate
    )
    assert got == want, f"pats={pats} inner={inner} negate={negate}"


@st.composite
def values_case_st(draw):
    """A required case plus a VALUES table over a subset of its variables
    (string forms from the node pool, None = UNDEF, duplicate rows allowed
    for the multiset check)."""
    graph, pats = draw(case_st())
    pvars = sorted({t[1:] for p in pats for t in p if t.startswith("?")})
    k = draw(st.integers(1, min(2, len(pvars))))
    names = draw(
        st.lists(st.sampled_from(pvars), min_size=k, max_size=k, unique=True)
    )
    rows = draw(
        st.lists(
            st.tuples(*[st.sampled_from(NODES + [None]) for _ in names]),
            min_size=1,
            max_size=4,
        )
    )
    return graph, pats, (names, rows)


@given(values_case_st())
@SETTINGS
def test_bgp_values_matches_naive(spark, case):
    """VALUES joins by string form with UNDEF wildcards, multiplying
    multiset cardinality per compatible inline row (§10.2)."""
    graph, pats, values = case
    names, rows = values
    df = triples_df(spark, _rows(graph))
    out = bgp(df, pats, values=values)
    cols = sorted(out.columns)
    got = Counter(tuple(r[v] for v in cols) for r in out.collect())

    want = Counter()
    for env in _naive_match(graph, pats):
        mult = sum(
            1
            for row in rows
            if all(v is None or env["?" + n][1] == v for n, v in zip(names, row))
        )
        for _ in range(mult):
            want[_key(env, cols)] += 1
    assert got == want, f"pats={pats} values={values}"


@st.composite
def union_case_st(draw):
    graph = draw(graph_st)
    branches = []
    for _ in range(draw(st.integers(2, 3))):
        _, pats = draw(case_st())
        branches.append(pats)
    return graph, branches


@given(union_case_st())
@SETTINGS
def test_union_matches_naive(spark, case):
    """UNION (validate.sparql.evaluate over one Group per branch) is the
    multiset union of branch solutions; variables absent from a branch are
    unbound (null) in its rows."""
    from re_shacl_spark.validate.sparql import Group, ParsedSelect, evaluate

    graph, branches = case
    df = triples_df(spark, _rows(graph))
    parsed = ParsedSelect([], True, [Group(patterns=list(b)) for b in branches], {})
    out = evaluate(df, parsed)
    names = sorted(out.columns)
    got = Counter(tuple(r[v] for v in names) for r in out.collect())

    want = Counter()
    for b in branches:
        for env in _naive_match(graph, b):
            want[
                tuple(
                    env["?" + v][1] if ("?" + v) in env else None for v in names
                )
            ] += 1
    assert got == want, f"branches={branches}"


@st.composite
def agg_case_st(draw):
    """A random solution frame (x mandatory, y nullable, numeric-ish forms
    mixed in) plus a GROUP BY choice."""
    rows = draw(
        st.lists(
            st.tuples(
                st.sampled_from(["n:a", "n:b", "1", "2.5"]),
                st.sampled_from(["n:a", "3", "x", None]),
            ),
            min_size=1,
            max_size=8,
        )
    )
    group = draw(st.sampled_from([[], ["x"]]))
    return rows, group


@given(agg_case_st())
@SETTINGS
def test_aggregate_matches_naive(spark, case):
    """GROUP BY aggregates: COUNT(*) vs COUNT(?v) null-skipping,
    COUNT(DISTINCT), lexicographic MIN/MAX, deterministic SAMPLE (min),
    sorted GROUP_CONCAT, SUM/AVG over try_cast doubles."""
    import math

    from re_shacl_spark.query import aggregate

    rows, group = case
    df = spark.createDataFrame(rows, "x string, y string")
    out = aggregate(
        df,
        group,
        {
            "n": ("count", "*"),
            "ny": ("count", "y"),
            "dy": ("count_distinct", "y"),
            "mn": ("min", "y"),
            "smp": ("sample", "y"),
            "gc": ("group_concat", "y", ","),
            "sm": ("sum", "y"),
            "av": ("avg", "y"),
        },
    )
    got = {
        (tuple(r[g] for g in group)): (
            r["n"], r["ny"], r["dy"], r["mn"], r["smp"], r["gc"],
            r["sm"], r["av"],
        )
        for r in out.collect()
    }

    def to_num(v):
        try:
            return float(v)
        except (TypeError, ValueError):
            return None

    groups: dict[tuple, list] = {}
    for x, y in rows:
        groups.setdefault((x,) if group else (), []).append(y)
    want = {}
    for k, ys in groups.items():
        bound = [y for y in ys if y is not None]
        nums = [to_num(y) for y in bound]
        nums = [n for n in nums if n is not None]
        want[k] = (
            len(ys),
            len(bound),
            len(set(bound)),
            min(bound) if bound else None,
            min(bound) if bound else None,
            ",".join(sorted(bound)),
            sum(nums) if nums else None,
            (sum(nums) / len(nums)) if nums else None,
        )
    assert set(got) == set(want)
    for k in want:
        ga, wa = got[k], want[k]
        assert ga[:6] == wa[:6], f"group {k}: {ga} != {wa}"
        for gv, wv in zip(ga[6:], wa[6:]):
            assert (gv is None) == (wv is None) and (
                gv is None or math.isclose(gv, wv)
            ), f"group {k}: {ga} != {wa}"


# ---------------------------------------------------------------------------
# SHACL validation: random data + one random property shape vs a naive
# validator (counts over distinct value TERMS, per-term value conformance)
# ---------------------------------------------------------------------------

XSD_STRING = XSD + "string"
XSD_INT = XSD + "integer"
SH_NS = "http://www.w3.org/ns/shacl#"


@st.composite
def shacl_case_st(draw):
    graph = draw(graph_st)
    typed = draw(st.lists(st.sampled_from(NODES), max_size=3, unique=True))
    facets = {
        "min_count": draw(st.one_of(st.none(), st.integers(0, 2))),
        "max_count": draw(st.one_of(st.none(), st.integers(0, 2))),
        "datatype": draw(st.one_of(st.none(), st.sampled_from([XSD_STRING, XSD_INT]))),
        "node_kind": draw(
            st.one_of(st.none(), st.sampled_from([SH_NS + "IRI", SH_NS + "Literal"]))
        ),
        "min_length": draw(st.one_of(st.none(), st.integers(1, 5))),
    }
    return graph, typed, facets


@given(shacl_case_st())
@SETTINGS
def test_validate_matches_naive_shacl(spark, case):
    from re_shacl_spark.validate.engine import validate
    from re_shacl_spark.validate.shapes import NodeShape, PropertyConstraint

    graph, typed, facets = case
    TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    rows = _rows(graph) + [iri_triple(s, TYPE, "c:C") for s in typed]
    df = triples_df(spark, rows)
    shape = NodeShape(
        shape_id="s:S",
        target_classes=["c:C"],
        properties=[PropertyConstraint(path="p:p", **facets)],
    )
    rep = validate(spark, df, [shape])
    got = Counter((r["focus"], r["constraint"]) for r in rep.violations.collect())

    want = Counter()
    for f in typed:
        vals = {
            (o if o[0] == "L" else ("I", o[1]))
            for s, p, o in graph
            if s == f and p == "p:p"
        }
        if facets["min_count"] is not None and len(vals) < facets["min_count"]:
            want[(f, "minCount")] += 1
        if facets["max_count"] is not None and len(vals) > facets["max_count"]:
            want[(f, "maxCount")] += 1
        for v in vals:
            is_lit = v[0] == "L"
            eff_dtype = (v[2] or (XSD + "langString" if v[3] else XSD_STRING)) if is_lit else None
            ok = True
            if facets["datatype"] is not None:
                ok = ok and is_lit and eff_dtype == facets["datatype"]
            if facets["node_kind"] == SH_NS + "IRI":
                ok = ok and not is_lit
            elif facets["node_kind"] == SH_NS + "Literal":
                ok = ok and is_lit
            if facets["min_length"] is not None:
                ok = ok and len(v[1]) >= facets["min_length"]
            if not ok:
                want[(f, "value")] += 1
    assert got == want, f"typed={typed} facets={facets}"


# ---------------------------------------------------------------------------
# property paths: random path ASTs vs a naive set-algebra evaluator
# ---------------------------------------------------------------------------

path_ast_st = st.recursive(
    st.sampled_from(PREDS).map(lambda p: ("iri", p)),
    lambda ch: st.one_of(
        ch.map(lambda e: ("inv", e)),
        st.tuples(ch, ch).map(lambda t: ("seq", *t)),
        st.tuples(ch, ch).map(lambda t: ("alt", *t)),
        ch.map(lambda e: ("plus", e)),
        ch.map(lambda e: ("star", e)),
        ch.map(lambda e: ("opt", e)),
    ),
    max_leaves=4,
)


def _render(ast) -> str:
    k = ast[0]
    if k == "iri":
        return ast[1]
    if k == "inv":
        return f"^({_render(ast[1])})"
    if k == "seq":
        return f"({_render(ast[1])}/{_render(ast[2])})"
    if k == "alt":
        return f"({_render(ast[1])}|{_render(ast[2])})"
    return f"({_render(ast[1])})" + {"plus": "+", "star": "*", "opt": "?"}[k]


def _naive_path(graph, ast):
    """Pair-set semantics mirroring eval_path: composition on full term
    identity; closures are distinct sets; zero-length paths pair every graph
    term (subjects as IRIs, objects with their literal identity) with
    itself."""
    oterm = lambda o: o if o[0] == "L" else ("I", o[1])
    zero = {(("I", s), ("I", s)) for s, _, _ in graph} | {
        (oterm(o), oterm(o)) for _, _, o in graph
    }

    def closure(pairs):
        pairs = set(pairs)
        while True:
            new = {(a, d) for a, b in pairs for c, d in pairs if b == c} - pairs
            if not new:
                return pairs
            pairs |= new

    def ev(e):
        k = e[0]
        if k == "iri":
            return {(("I", s), oterm(o)) for s, p, o in graph if p == e[1]}
        if k == "inv":
            return {(b, a) for a, b in ev(e[1])}
        if k == "seq":
            l, r = ev(e[1]), ev(e[2])
            return {(a, d) for a, b in l for c, d in r if b == c}
        if k == "alt":
            return ev(e[1]) | ev(e[2])
        if k == "plus":
            return closure(ev(e[1]))
        if k == "star":
            return closure(ev(e[1])) | zero
        if k == "opt":
            return ev(e[1]) | zero
        raise AssertionError(k)

    return ev(ast)


@given(graph_st, path_ast_st)
@SETTINGS
def test_eval_path_matches_naive(spark, graph, ast):
    from re_shacl_spark.query import eval_path

    df = triples_df(spark, _rows(graph))
    rows = eval_path(df, _render(ast), keep_meta="ab").collect()

    def term(form, is_lit, lit):
        if is_lit:
            return ("L", form, lit["dtype"], lit["lang"])
        return ("I", form)

    got = {
        (term(r["a"], r["a_is"], r["a_lit"]), term(r["b"], r["b_is"], r["b_lit"]))
        for r in rows
    }
    want = _naive_path(graph, ast)
    assert got == want, f"path={_render(ast)}"


@given(case_st(), st.sampled_from(PREDS))
@SETTINGS
def test_bgp_minus_matches_naive(spark, case, mp):
    """MINUS removes a binding iff some remover binding shares >=1 variable
    and agrees on all shared variables (term identity); disjoint domains are
    a no-op (SPARQL 1.1 §8.3) — checked against the naive matcher."""
    graph, pats = case
    shares = any("?x" in p or "?y" in p for p in pats)
    minus = [("?x", mp, "?y")] if shares else [("?w", mp, "?v")]
    df = triples_df(spark, _rows(graph))
    out = bgp(df, pats, minus=minus)
    names = sorted(out.columns)
    got = Counter(tuple(r[v] for v in names) for r in out.collect())

    removers = _naive_match(graph, minus)

    def keep(env):
        for r in removers:
            shared = set(env) & set(r)
            if shared and all(env[v] == r[v] for v in shared):
                return False
        return True

    want = Counter(
        _key(e, names) for e in _naive_match(graph, pats) if keep(e)
    )
    assert got == want, f"pats={pats} minus={minus}"
