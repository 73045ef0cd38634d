"""Property-based parity for the sh:sparql restricted SELECT fragment
(validate/sparql.py): random query ASTs are serialized to SPARQL text with
randomized spelling (bare pnames vs <iri>, $this vs ?this, noise whitespace,
redundant parens), parsed back, and must (a) reproduce the intended
patterns/filters exactly and (b) evaluate — through the real bgp plan — to
the same solution multiset as a naive backtracker with Kleene three-valued
FILTER semantics (SPARQL type errors behave like SQL NULL: eliminated at the
filter, absorbed by && / || exactly as Spark's Column logic does)."""

from __future__ import annotations

from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from re_shacl_spark.model.triples import iri_triple, lit_triple, triples_df, vocab
from re_shacl_spark.query import Lit
from re_shacl_spark.validate.sparql import evaluate, parse_select

XSD = vocab.XSD
NODES = ["n:a", "n:b", "n:c"]
PREDS = ["p:p", "p:q"]
VARS = ["?this", "?v", "?w"]

SETTINGS = settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
PARSE_SETTINGS = settings(max_examples=200, deadline=None, derandomize=True)

# graph terms: IRI or literal whose lexical may be numeric or may PUN an IRI
lit_lex = st.sampled_from(["n:a", "7", "-3", "0", "42", "bx"])
term_st = st.one_of(
    st.sampled_from(NODES).map(lambda n: ("I", n)),
    st.tuples(lit_lex, st.sampled_from([XSD + "string", XSD + "integer"])).map(
        lambda t: ("L", t[0], t[1], None)
    ),
)
triple_st = st.tuples(st.sampled_from(NODES), st.sampled_from(PREDS), term_st)
graph_st = st.lists(triple_st, min_size=3, max_size=10, unique=True)


@st.composite
def filter_st(draw, bound):
    """Random FILTER AST over the bound variables, parser tuple layout."""
    depth = draw(st.integers(0, 2))

    def value():
        k = draw(st.integers(0, 2))
        if k == 0:
            return ("var", draw(st.sampled_from(bound)))
        if k == 1:
            return ("num", draw(st.sampled_from(["0", "3", "-2", "7"])))
        return ("str", draw(st.sampled_from(["n:a", "bx", "7"])))

    def cmp():
        k = draw(st.integers(0, 3))
        if k == 0:
            op = draw(st.sampled_from(["=", "!=", "<", "<=", ">", ">="]))
            return ("cmp", op, value(), value())
        if k == 1:
            op = draw(st.sampled_from(["<", ">=", "="]))
            return ("cmp", op, ("call", "STRLEN", [value()]), ("num", "3"))
        if k == 2:
            name = draw(st.sampled_from(["CONTAINS", "STRSTARTS"]))
            return ("call", name, [value(), ("str", draw(st.sampled_from(["n", "x", "7"])))])
        return ("call", draw(st.sampled_from(["ISIRI", "ISLITERAL"])),
                [("var", draw(st.sampled_from(bound)))])

    def expr(d):
        if d <= 0 or draw(st.booleans()):
            node = cmp()
        else:
            conn = draw(st.sampled_from(["and", "or"]))
            node = (conn, expr(d - 1), expr(d - 1))
        if draw(st.booleans()):
            node = ("not", node)
        return node

    return expr(depth)


@st.composite
def query_st(draw):
    graph = draw(graph_st)
    n = draw(st.integers(1, 3))
    pats, used = [], {"?this"}
    for i in range(n):
        s = "?this" if i == 0 else draw(st.sampled_from(sorted(used) + NODES))
        p = draw(st.sampled_from(PREDS))
        o = draw(
            st.one_of(
                st.sampled_from(VARS),
                st.sampled_from(NODES),
                st.tuples(lit_lex, st.sampled_from([XSD + "string", XSD + "integer"])).map(
                    lambda t: Lit(t[0], dtype=t[1])
                ),
            )
        )
        if i > 0 and s not in used and not (isinstance(o, str) and o in used):
            # keep the BGP connected: evaluate() inherits bgp's cartesian
            # guard (a disconnected sh:sparql WHERE is a 10^12-triple
            # foot-gun the engine rightly refuses by default)
            s = draw(st.sampled_from(sorted(used)))
        pats.append((s, p, o))
        used.update(t for t in (s, o) if isinstance(t, str) and t.startswith("?"))
    flt = draw(filter_st(sorted(v[1:] for v in used)))
    sel = draw(st.sampled_from([["this"], sorted(v[1:] for v in used)]))
    return graph, pats, flt, sel


# ---------------------------------------------------------------------------
# serialization with randomized spelling
# ---------------------------------------------------------------------------

@st.composite
def _spelled(draw, graph_pats_flt_sel):
    graph, pats, flt, sel = graph_pats_flt_sel
    ws = lambda: draw(st.sampled_from([" ", "  ", "\n", "\n  ", "\t"]))  # noqa: E731

    def term(t):
        if isinstance(t, Lit):
            out = '"' + t.lex + '"'
            # full http IRIs must be angle-bracketed in ^^ position (bare
            # spelling is only legal for prefixed names); xsd:string may be
            # spelled explicitly or left implicit (RDF 1.1 simple literal)
            if t.dtype and (t.dtype != XSD + "string" or draw(st.booleans())):
                out += "^^<" + t.dtype + ">"
            return out
        if t == "?this":
            return draw(st.sampled_from(["$this", "?this"]))
        if t.startswith("?"):
            return t
        return "<" + t + ">" if draw(st.booleans()) else t

    def fexpr(node):
        k = node[0]
        if k in ("and", "or"):
            op = "&&" if k == "and" else "||"
            s = f"({fexpr(node[1])}{ws()}{op}{ws()}{fexpr(node[2])})"
        elif k == "not":
            s = f"!({fexpr(node[1])})"
        elif k == "cmp":
            s = f"{fexpr(node[2])}{ws()}{node[1]}{ws()}{fexpr(node[3])}"
            s = f"({s})" if draw(st.booleans()) else s
        elif k == "call":
            s = node[1] + "(" + ", ".join(fexpr(a) for a in node[2]) + ")"
        elif k == "var":
            s = ("$this" if node[1] == "this" and draw(st.booleans()) else "?" + node[1])
        elif k == "num":
            s = node[1]
        else:
            s = '"' + node[1] + '"'
        return s

    body = ws().join(
        f"{term(s)} {term(p)} {term(o)} ." for s, p, o in pats
    ) + f"{ws()}FILTER ({fexpr(flt)})"
    head = "SELECT " + " ".join(
        ("$this" if v == "this" and draw(st.booleans()) else "?" + v) for v in sel
    )
    return f"{head}{ws()}WHERE {{{ws()}{body}{ws()}}}"


# ---------------------------------------------------------------------------
# naive evaluation (Kleene logic mirror)
# ---------------------------------------------------------------------------

def _naive_match(graph, pats):
    terms = [
        (("I", s), ("I", p), o if o[0] == "L" else ("I", o[1]))
        for s, p, o in graph
    ]

    def unify(pt, t, env):
        if isinstance(pt, Lit):
            want = ("L", pt.lex, pt.dtype or XSD + "string", pt.lang)
            return env if t == want else None
        if pt.startswith("?"):
            b = env.get(pt)
            if b is None:
                env = dict(env)
                env[pt] = t
                return env
            return env if b == t else None
        return env if t == ("I", pt) else None

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


def _form(t):
    return t[1]


def _numeric(v):
    try:
        return float(v)
    except ValueError:
        return None


def _k_eval(node, env):
    """Three-valued FILTER evaluation: True / False / None (type error)."""
    k = node[0]
    if k == "and":
        a, b = _k_eval(node[1], env), _k_eval(node[2], env)
        if a is False or b is False:
            return False
        return None if a is None or b is None else True
    if k == "or":
        a, b = _k_eval(node[1], env), _k_eval(node[2], env)
        if a is True or b is True:
            return True
        return None if a is None or b is None else False
    if k == "not":
        a = _k_eval(node[1], env)
        return None if a is None else (not a)
    if k == "cmp":
        op, left, right = node[1], node[2], node[3]

        def is_num(n):
            return n[0] == "num" or (n[0] == "call" and n[1] == "STRLEN")

        numeric = is_num(left) or is_num(right)

        def val(n):
            if n[0] == "var":
                f = _form(env["?" + n[1]])
                return _numeric(f) if numeric else f
            if n[0] == "num":
                return float(n[1])
            if n[0] == "str":
                return _numeric(n[1]) if numeric else n[1]
            if n[0] == "call" and n[1] == "STRLEN":
                return float(len(val_nonnum(n[2][0])))
            raise AssertionError(n)

        def val_nonnum(n):
            return _form(env["?" + n[1]]) if n[0] == "var" else n[1]

        a, b = val(left), val(right)
        if a is None or b is None:
            return None
        return {
            "=": a == b, "!=": a != b, "<": a < b,
            "<=": a <= b, ">": a > b, ">=": a >= b,
        }[op]
    if k == "call":
        name, args = node[1], node[2]
        if name in ("ISIRI", "ISLITERAL"):
            tag = env["?" + args[0][1]][0]
            return tag == ("I" if name == "ISIRI" else "L")
        a0 = _form(env["?" + args[0][1]]) if args[0][0] == "var" else args[0][1]
        a1 = args[1][1]
        return a1 in a0 if name == "CONTAINS" else a0.startswith(a1)
    raise AssertionError(node)


# ---------------------------------------------------------------------------
# properties
# ---------------------------------------------------------------------------

def _canon(pat):
    """Lit(dtype=None) ≡ Lit(dtype=xsd:string) for untagged literals (the
    store's default in query._const_form_tag) — canonicalize for comparison."""
    return tuple(
        Lit(t.lex, XSD + "string", None)
        if isinstance(t, Lit) and t.lang is None and t.dtype in (None, XSD + "string")
        else t
        for t in pat
    )


@given(query_st().flatmap(lambda q: st.tuples(st.just(q), _spelled(q))))
@PARSE_SETTINGS
def test_parse_roundtrip_fidelity(q_and_text):
    (graph, pats, flt, sel), text = q_and_text
    parsed = parse_select(text)
    assert parsed.select_vars == sel
    assert [_canon(p) for p in parsed.patterns] == [_canon(p) for p in pats]
    assert parsed.filters == [flt]


@given(query_st().flatmap(lambda q: st.tuples(st.just(q), _spelled(q))))
@SETTINGS
def test_evaluate_matches_naive_kleene(spark, q_and_text):
    (graph, pats, flt, sel), text = q_and_text
    rows = [
        iri_triple(s, p, o[1]) if o[0] == "I" else lit_triple(s, p, o[1], dtype=o[2])
        for s, p, o in graph
    ]
    df = triples_df(spark, rows)
    out = evaluate(df, parse_select(text))
    got = Counter(tuple(r[v] for v in sel) for r in out.collect())
    want = Counter(
        tuple(_form(e["?" + v]) for v in sel)
        for e in _naive_match(graph, pats)
        if _k_eval(flt, e) is True
    )
    assert got == want


# ---------------------------------------------------------------------------
# parser robustness: hostile input never escapes ValueError
# ---------------------------------------------------------------------------

@given(st.text(max_size=120))
@settings(max_examples=500, deadline=None, derandomize=True)
def test_parser_hostile_input_raises_valueerror_only(text):
    """Arbitrary text either parses or raises ValueError — never an
    IndexError/KeyError/AttributeError escape from the tokenizer or the
    recursive descent (int() of a num token cannot fail: the token grammar
    only admits digit strings)."""
    from re_shacl_spark.validate.sparql import parse_select

    try:
        parse_select(text)
    except ValueError:
        pass


@given(st.text(alphabet="SELECT WHERE{}?$ths.<>ovalues()*&|!=\"' \n0123456789/^+",
               max_size=80))
@settings(max_examples=500, deadline=None, derandomize=True)
def test_parser_keyword_soup_raises_valueerror_only(text):
    """Keyword-dense soup (braces, quotes, operators, digits) — the worst
    case for state-machine confusion — still only ever raises ValueError."""
    from re_shacl_spark.validate.sparql import parse_select

    try:
        parse_select(text)
    except ValueError:
        pass


# ---------------------------------------------------------------------------
# round-trip fidelity for the extended grammar (UNION / VALUES / EXISTS /
# MINUS / modifiers) — parser-level; evaluation arms are covered by the
# bgp-level fuzzes in test_query_props.py that these constructs compile onto
# ---------------------------------------------------------------------------

@st.composite
def extended_query_st(draw):
    def pats(must_this=False):
        # parse-level only — no connectivity needed (nothing is evaluated)
        n = draw(st.integers(1, 2))
        out = []
        for i in range(n):
            s = "?this" if (i == 0 and must_this) else draw(
                st.sampled_from(["?this", "?v"] + NODES))
            o = draw(st.sampled_from(["?v", "?w"] + NODES))
            out.append((s, draw(st.sampled_from(PREDS)), o))
        return out

    kind = draw(st.integers(0, 2))
    if kind == 0:  # UNION
        branches = [pats(True) for _ in range(draw(st.integers(2, 3)))]
        return ("union", branches)
    g = pats(True)
    if kind == 1:  # VALUES + EXISTS
        vals = (["v"], [(draw(st.sampled_from(NODES + [None])),)
                        for _ in range(draw(st.integers(1, 3)))])
        ex = pats()
        neg = draw(st.booleans())
        return ("values_exists", g, vals, ex, neg)
    return ("minus_mod", g, pats(),
            draw(st.booleans()),                       # distinct
            draw(st.integers(1, 5)),                   # limit
            draw(st.sampled_from(["asc", "desc"])))


def _ser_pats(ps):
    return " ".join(
        f"{s.replace('?this', '$this')} {p} {o} ." for s, p, o in ps
    )


@given(extended_query_st())
@settings(max_examples=200, deadline=None, derandomize=True)
def test_parse_roundtrip_extended_grammar(case):
    from re_shacl_spark.validate.sparql import parse_select

    if case[0] == "union":
        branches = case[1]
        text = "SELECT ?this WHERE { " + " UNION ".join(
            "{ " + _ser_pats(b) + " }" for b in branches
        ) + " }"
        q = parse_select(text)
        assert [g.patterns for g in q.groups] == branches
    elif case[0] == "values_exists":
        _, g, vals, ex, neg = case
        cells = " ".join("UNDEF" if c is None else c for (c,) in vals[1])
        kw = "NOT EXISTS" if neg else "EXISTS"
        text = (
            "SELECT ?this WHERE { " + _ser_pats(g)
            + " VALUES ?v { " + cells + " } "
            + f"FILTER {kw} {{ " + _ser_pats(ex) + " } }"
        )
        q = parse_select(text)
        assert q.groups[0].patterns == g
        assert q.groups[0].values == vals
        block = q.groups[0].f_not_exists if neg else q.groups[0].f_exists
        assert block == [ex]
    else:
        _, g, m, distinct, limit, direction = case
        text = (
            "SELECT " + ("DISTINCT " if distinct else "") + "?this WHERE { "
            + _ser_pats(g) + " MINUS { " + _ser_pats(m) + " } }"
            + f" ORDER BY {direction.upper()}(?this) LIMIT {limit}"
        )
        q = parse_select(text)
        assert q.groups[0].patterns == g
        assert q.groups[0].minus == m
        assert q.distinct is distinct
        assert q.order == [("this", direction)] and q.limit == limit
