"""Restricted SHACL-SPARQL constraints: sh:sparql / sh:select (SHACL §5).

The reference validates SHACL-Core via pyshacl (re_shacl.py's
`validate(...)` call sites; its committed shape graphs use no SPARQL-based
constraints), so this module is rebuilt-extension surface on the standard
contract: a SELECT query mentioning ``$this`` runs once per shape with the
focus-node variable pre-bound by a join against the shape's target set, and
every solution row is one violation (SHACL §5.3: result generation from
solutions; ``?value`` populates sh:value when projected).

The accepted grammar is a *documented restriction* of SPARQL — the
conjunctive fragment the repo's query engine evaluates natively — NOT a
full parser:

    (PREFIX pn: <iri>)*
    SELECT [DISTINCT] ($this | ?var | (AGG([DISTINCT] ?v|*) AS ?alias))+ | *
    WHERE {  group  |  { group } UNION { group } ...  }
    [GROUP BY ?v+] [HAVING(expr)]
    [ORDER BY (?v | ASC(?v) | DESC(?v))+] [LIMIT n] [OFFSET n]

    group := ( triple '.' | FILTER ( expr ) | FILTER [NOT] EXISTS { t... }
             | OPTIONAL { t... } | MINUS { t... }
             | VALUES ?v { cells } | VALUES (?a ?b) { (cells)... } )*

OPTIONAL blocks left-join their patterns onto the required solution (each
must share a variable with it); FILTERs scope over the WHOLE group — they
apply after the OPTIONAL joins, so ``BOUND(?x)`` / ``!BOUND(?x)`` on an
OPTIONAL variable expresses SPARQL's negation-as-failure idiom.  FILTER
[NOT] EXISTS / MINUS / VALUES ride query.bgp's own arms (semi/anti joins on
term identity; VALUES joins by string form, UNDEF = unconstrained).  UNION
branches evaluate independently and union narrowly (absent variables
null-padded — SPARQL's unbound); aggregates (COUNT/SUM/AVG/MIN/MAX/SAMPLE/
GROUP_CONCAT) compile onto query.aggregate with HAVING after the group.

Triple-pattern terms: ``$this`` / ``?var``, ``<iri>``, prefixed names,
``a``, string literals (``"s"``, ``"s"@lang``, ``"s"^^<dt>``,
``"s"^^pn:l``) and bare numerals (typed xsd:integer / xsd:decimal).
FILTER expressions: ``||  &&  !  ( )``, comparisons ``= != < <= > >=``,
over variables, string/number constants and the call subset
STRLEN / STR / UCASE / LCASE / ABS (value-producing) and CONTAINS /
STRSTARTS / STRENDS / REGEX / isIRI / isLiteral / BOUND
(boolean-producing).  REGEX patterns must stay in the Java∩RE2-safe class
the repo uses everywhere on the oracle boundary (no ``\\s``, no
backreferences).

Comparison typing follows SPARQL's operator-dispatch-with-type-errors: when
either side of a comparison is numeric (a numeric constant, STRLEN or ABS),
variable sides are coerced with ``try_cast(x AS double)`` — a non-numeric
lexical makes the comparison NULL and the row is filtered out, which is
exactly SPARQL's type-error-eliminates-the-solution semantics, with no
ANSI-mode throw.

Undeclared prefixed names pass through verbatim: the engine's graphs use
compact ``kg:…`` strings as IRIs (model/triples.py convention), so a
constraint author can name graph terms directly; names whose prefix IS
declared (PREFIX here, or sh:declare in the shapes graph) expand to full
IRIs.  Everything compiles onto query.bgp — one distributed plan per
constraint, filters pushed below the joins by Catalyst, no per-focus loop.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from re_shacl_spark.model.triples import vocab


@dataclass(frozen=True)
class SparqlConstraint:
    """One sh:sparql block attached to a NodeShape."""

    select: str
    message: str | None = None
    prefixes: dict[str, str] = field(default_factory=dict)


@dataclass
class Group:
    """One group pattern's contents — the shared body of a WHERE group, a
    UNION branch, or a CONSTRUCT's WHERE."""

    patterns: list = field(default_factory=list)       # required triple patterns
    filters: list = field(default_factory=list)        # FILTER expr ASTs
    optionals: list = field(default_factory=list)      # OPTIONAL patterns
    f_exists: list = field(default_factory=list)       # FILTER EXISTS blocks
    f_not_exists: list = field(default_factory=list)   # FILTER NOT EXISTS blocks
    minus: list | None = None                          # MINUS block (≤1/group)
    values: tuple | None = None                        # VALUES (vars, rows)


@dataclass
class ParsedSelect:
    select_vars: list[str]          # without '?'; '$this' normalized to 'this'
    star: bool
    groups: list                    # list[Group]; >1 means UNION branches
    prefixes: dict[str, str]
    distinct: bool = False                                 # SELECT DISTINCT
    order: list = field(default_factory=list)              # [(var, "asc"|"desc")]
    limit: int | None = None
    offset: int = 0
    aggs: dict = field(default_factory=dict)               # alias → agg spec
    group_by: list = field(default_factory=list)           # GROUP BY vars
    having: object | None = None                           # HAVING expr AST

    # first-group views (the only group outside UNION queries)
    @property
    def patterns(self):
        return self.groups[0].patterns

    @property
    def filters(self):
        return self.groups[0].filters

    @property
    def optionals(self):
        return self.groups[0].optionals


_TOK = re.compile(
    r"""
      (?P<ws>\s+|\#[^\n]*)
    | (?P<iri><[^>\s]*>)
    | (?P<string>"(?:[^"\\]|\\.)*")
    | (?P<num>[+-]?\d+(?:\.\d+)?)
    | (?P<var>[?$][A-Za-z_][A-Za-z0-9_]*)
    | (?P<dcaret>\^\^)
    | (?P<langtag>@[A-Za-z][A-Za-z0-9-]*)
    | (?P<op>&&|\|\||!=|<=|>=|[=<>!(){}.,*+/^|?])
    | (?P<pname>[A-Za-z_][\w-]*)?:(?P<local>(?:[\w-]|\.+(?=[\w-]))*)
    | (?P<word>[A-Za-z_][A-Za-z0-9_]*)
    """,
    re.VERBOSE,
)

_ESC = {"\\n": "\n", "\\t": "\t", "\\r": "\r", '\\"': '"', "\\\\": "\\"}

_VALUE_CALLS = {"STRLEN", "STR", "UCASE", "LCASE", "ABS"}
_BOOL_CALLS = {
    "CONTAINS", "STRSTARTS", "STRENDS", "REGEX", "ISIRI", "ISLITERAL", "BOUND",
}
_NUMERIC_CALLS = {"STRLEN", "ABS"}


def _tokens(text: str) -> list[tuple[str, str]]:
    out, pos = [], 0
    while pos < len(text):
        m = _TOK.match(text, pos)
        if not m:
            raise ValueError(f"sh:sparql: cannot tokenize at {text[pos:pos+30]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind == "ws":
            continue
        if kind == "local" or (m.group("local") is not None and kind == "pname"):
            out.append(("pname", (m.group("pname") or "") + ":" + m.group("local")))
        else:
            out.append((kind, m.group(0)))
    return out


class _P:
    def __init__(self, toks: list[tuple[str, str]], prefixes: dict[str, str]):
        self.t = toks
        self.i = 0
        self.prefixes = dict(prefixes)

    def peek(self):
        return self.t[self.i] if self.i < len(self.t) else ("eof", "")

    def next(self):
        tok = self.peek()
        self.i += 1
        return tok

    def expect(self, kind: str, val: str | None = None):
        k, v = self.next()
        if k != kind or (val is not None and v.upper() != val.upper()):
            raise ValueError(f"sh:sparql: expected {val or kind}, got {v!r}")
        return v

    # -- terms -------------------------------------------------------------
    def _expand(self, pname: str) -> str:
        pn, local = pname.split(":", 1)
        base = self.prefixes.get(pn)
        return base + local if base is not None else pname

    def _string_lit(self, raw: str):
        from re_shacl_spark.query import Lit

        lex = re.sub(r"\\[ntr\"\\]", lambda m: _ESC[m.group(0)], raw[1:-1])
        k, v = self.peek()
        if k == "langtag":
            self.next()
            return Lit(lex, lang=v[1:])
        if k == "dcaret":
            self.next()
            dk, dv = self.next()
            if dk == "iri":
                return Lit(lex, dtype=dv[1:-1])
            if dk == "pname":
                return Lit(lex, dtype=self._expand(dv))
            raise ValueError(f"sh:sparql: bad datatype token {dv!r}")
        return Lit(lex)

    def term(self):
        from re_shacl_spark.query import Lit

        k, v = self.next()
        if k == "var":
            name = "this" if v[1:] == "this" else v[1:]
            return "?" + name
        if k == "iri":
            return v[1:-1]
        if k == "pname":
            return self._expand(v)
        if k == "word" and v == "a":
            return vocab.TYPE
        if k == "string":
            return self._string_lit(v)
        if k == "num":
            dt = vocab.XSD + ("decimal" if "." in v else "integer")
            return Lit(v, dtype=dt)
        raise ValueError(f"sh:sparql: bad pattern term {v!r}")

    # -- FILTER expression grammar ----------------------------------------
    def expr(self):
        node = self.and_()
        while self.peek() == ("op", "||"):
            self.next()
            node = ("or", node, self.and_())
        return node

    def and_(self):
        node = self.not_()
        while self.peek() == ("op", "&&"):
            self.next()
            node = ("and", node, self.not_())
        return node

    def not_(self):
        if self.peek() == ("op", "!"):
            self.next()
            return ("not", self.not_())
        return self.cmp()

    def cmp(self):
        left = self.value()
        k, v = self.peek()
        if k == "op" and v in ("=", "!=", "<", "<=", ">", ">="):
            self.next()
            return ("cmp", v, left, self.value())
        return left

    def value(self):
        k, v = self.peek()
        if (k, v) == ("op", "("):
            self.next()
            node = self.expr()
            self.expect("op", ")")
            return node
        if k == "var":
            self.next()
            return ("var", "this" if v[1:] == "this" else v[1:])
        if k == "num":
            self.next()
            return ("num", v)
        if k == "string":
            self.next()
            lex = re.sub(r"\\[ntr\"\\]", lambda m: _ESC[m.group(0)], v[1:-1])
            return ("str", lex)
        if k == "word" and v.upper() in _VALUE_CALLS | _BOOL_CALLS:
            self.next()
            self.expect("op", "(")
            args = [self.value()]
            while self.peek() == ("op", ","):
                self.next()
                args.append(self.value())
            self.expect("op", ")")
            return ("call", v.upper(), args)
        raise ValueError(f"sh:sparql: bad FILTER atom {v!r}")

    def pred(self):
        """Predicate-slot term: a variable, a plain predicate IRI (kept as a
        string — term-strict constant), or a SPARQL §9 property-path
        expression (sequence ``/``, alternative ``|``, inverse ``^``,
        closures ``+ * ?``, negated set ``!(…)``, grouping) compiled to
        ``query.Path``.  Atoms re-serialize angle-bracketed so operator
        characters inside IRIs stay inert.  Lexing caveat (inherent to the
        token stream): ``?`` followed by a name character is a VARIABLE
        token, so the zero-or-one op needs a non-name follower — write
        ``(kg:p?)`` or ``kg:p? .`` (whitespace before the dot), exactly as
        real SPARQL grammars disambiguate."""
        from re_shacl_spark.query import Path

        if self.peek()[0] == "var":
            return self.term()
        parts: list[str] = []
        simple = [True]  # stays True only for a single bare predicate atom

        def emit_iri():
            k, v = self.next()
            if k == "iri":
                parts.append("<" + v[1:-1] + ">")
            elif k == "pname":
                parts.append("<" + self._expand(v) + ">")
            elif k == "word" and v == "a":
                parts.append("<" + vocab.TYPE + ">")
            else:
                raise ValueError(f"sh:sparql: bad predicate term {v!r}")

        def member():  # negated-property-set member: [^] iri
            if self.peek() == ("op", "^"):
                self.next()
                parts.append("^")
            emit_iri()

        def atom():
            k, v = self.peek()
            if (k, v) == ("op", "("):
                self.next()
                parts.append("(")
                simple[0] = False
                path()
                self.expect("op", ")")
                parts.append(")")
            elif (k, v) == ("op", "!"):
                self.next()
                parts.append("!")
                simple[0] = False
                if self.peek() == ("op", "("):
                    self.next()
                    parts.append("(")
                    member()
                    while self.peek() == ("op", "|"):
                        self.next()
                        parts.append("|")
                        member()
                    self.expect("op", ")")
                    parts.append(")")
                else:
                    member()
            else:
                emit_iri()

        def step():
            if self.peek() == ("op", "^"):
                self.next()
                parts.append("^")
                simple[0] = False
                step()
                return
            atom()
            if self.peek()[0] == "op" and self.peek()[1] in ("+", "*", "?"):
                parts.append(self.next()[1])
                simple[0] = False

        def seq():
            step()
            while self.peek() == ("op", "/"):
                self.next()
                parts.append("/")
                simple[0] = False
                step()

        def path():
            seq()
            while self.peek() == ("op", "|"):
                self.next()
                parts.append("|")
                simple[0] = False
                seq()

        path()
        if simple[0] and len(parts) == 1:
            return parts[0][1:-1]  # plain constant predicate (term-strict)
        return Path("".join(parts))

    # -- group patterns ----------------------------------------------------
    def _pattern_block(self) -> list:
        """Consume a braced `{ t . t . }` pattern list entirely."""
        self.expect("op", "{")
        pats = []
        while self.peek() != ("op", "}"):
            pats.append((self.term(), self.pred(), self.term()))
            if self.peek() == ("op", "."):
                self.next()
        self.expect("op", "}")
        return pats

    def _values_cell(self):
        """One VALUES cell → visible string form, or None for UNDEF (the
        same string-form join relaxation query.bgp's VALUES tables use)."""
        from re_shacl_spark.query import Lit

        k, v = self.peek()
        if k == "word" and v.upper() == "UNDEF":
            self.next()
            return None
        t = self.term()
        if isinstance(t, Lit):
            return t.lex
        if isinstance(t, str) and t.startswith("?"):
            raise ValueError("sh:sparql: variables are not VALUES cells")
        return t

    def _values_block(self) -> tuple:
        k, v = self.peek()
        if k == "var":  # VALUES ?v { t t … }
            self.next()
            name = "this" if v[1:] == "this" else v[1:]
            self.expect("op", "{")
            rows = []
            while self.peek() != ("op", "}"):
                rows.append((self._values_cell(),))
            self.expect("op", "}")
            return ([name], rows)
        self.expect("op", "(")  # VALUES (?a ?b) { (t t) (t UNDEF) … }
        names = []
        while self.peek()[0] == "var":
            _, vv = self.next()
            names.append("this" if vv[1:] == "this" else vv[1:])
        self.expect("op", ")")
        if not names:
            raise ValueError("sh:sparql: VALUES needs at least one variable")
        self.expect("op", "{")
        rows = []
        while self.peek() != ("op", "}"):
            self.expect("op", "(")
            row = []
            while self.peek() != ("op", ")"):
                row.append(self._values_cell())
            self.expect("op", ")")
            if len(row) != len(names):
                raise ValueError("sh:sparql: VALUES row arity mismatch")
            rows.append(tuple(row))
        self.expect("op", "}")
        return (names, rows)

    def group_body(self) -> "Group":
        """Group contents up to (exclusive) the closing `}`: triples,
        FILTER(expr), FILTER [NOT] EXISTS {…}, OPTIONAL {…}, MINUS {…},
        VALUES."""
        g = Group()
        while self.peek() not in (("op", "}"), ("eof", "")):
            k, v = self.peek()
            if k == "word" and v.upper() == "FILTER":
                self.next()
                nk, nv = self.peek()
                if nk == "word" and nv.upper() in ("EXISTS", "NOT"):
                    neg = nv.upper() == "NOT"
                    self.next()
                    if neg:
                        self.expect("word", "EXISTS")
                    (g.f_not_exists if neg else g.f_exists).append(
                        self._pattern_block()
                    )
                else:
                    self.expect("op", "(")
                    g.filters.append(self.expr())
                    self.expect("op", ")")
            elif k == "word" and v.upper() == "OPTIONAL":
                self.next()
                g.optionals.extend(self._pattern_block())
            elif k == "word" and v.upper() == "MINUS":
                if g.minus is not None:
                    raise ValueError("sh:sparql: at most one MINUS per group")
                self.next()
                g.minus = self._pattern_block()
            elif k == "word" and v.upper() == "VALUES":
                if g.values is not None:
                    raise ValueError("sh:sparql: at most one VALUES per group")
                self.next()
                g.values = self._values_block()
            else:
                g.patterns.append((self.term(), self.pred(), self.term()))
            if self.peek() == ("op", "."):
                self.next()
        return g

    def where_groups(self) -> list:
        """WHERE body: either one plain group, or `{ A } UNION { B } …`
        (braced branches chained by UNION — the only place braced subgroups
        are accepted in this fragment)."""
        self.expect("op", "{")
        if self.peek() == ("op", "{"):
            groups = []
            while True:
                self.expect("op", "{")
                groups.append(self.group_body())
                self.expect("op", "}")
                if self.peek()[0] == "word" and self.peek()[1].upper() == "UNION":
                    self.next()
                    continue
                break
            self.expect("op", "}")
            return groups
        g = self.group_body()
        self.expect("op", "}")
        return [g]


def parse_select(
    text: str,
    prefixes: dict[str, str] | None = None,
    require_this: bool = True,
) -> ParsedSelect:
    """``require_this`` is the constraint-context contract ($this must be
    pre-bindable); ``sparql_query`` relaxes it for free-standing queries."""
    p = _P(_tokens(text), prefixes or {})
    _parse_prefix_decls(p)
    p.expect("word", "SELECT")
    distinct = False
    if p.peek()[0] == "word" and p.peek()[1].upper() == "DISTINCT":
        p.next()
        distinct = True
    sel, star, aggs = [], False, {}
    _AGG_WORDS = {"COUNT", "SUM", "AVG", "MIN", "MAX", "SAMPLE", "GROUP_CONCAT"}
    if p.peek() == ("op", "*"):
        p.next()
        star = True
    else:
        while True:
            k, v = p.peek()
            if k == "var":
                p.next()
                sel.append("this" if v[1:] == "this" else v[1:])
            elif (k, v) == ("op", "("):
                # (AGG([DISTINCT] ?v | *) AS ?alias) — SPARQL §11 projection
                p.next()
                fn = p.expect("word").upper()
                if fn not in _AGG_WORDS:
                    raise ValueError(f"sh:sparql: unknown aggregate {fn!r}")
                p.expect("op", "(")
                distinct_arg = False
                if p.peek()[0] == "word" and p.peek()[1].upper() == "DISTINCT":
                    p.next()
                    distinct_arg = True
                if p.peek() == ("op", "*"):
                    p.next()
                    arg = "*"
                else:
                    av = p.expect("var")
                    arg = "this" if av[1:] == "this" else av[1:]
                p.expect("op", ")")
                p.expect("word", "AS")
                alias = p.expect("var")[1:]
                p.expect("op", ")")
                if fn == "COUNT" and distinct_arg:
                    aggs[alias] = ("count_distinct", arg)
                elif distinct_arg:
                    raise ValueError("sh:sparql: DISTINCT only inside COUNT")
                else:
                    aggs[alias] = (fn.lower(), arg)
                sel.append(alias)
            else:
                break
        if not sel:
            raise ValueError("sh:sparql: SELECT needs $this/?vars or *")
    p.expect("word", "WHERE")
    groups = p.where_groups()
    # GROUP BY / HAVING, then solution modifiers:
    # ORDER BY (?v | ASC(?v) | DESC(?v))+, LIMIT, OFFSET
    group_by: list[str] = []
    having = None
    order: list[tuple[str, str]] = []
    limit, offset = None, 0
    while p.peek()[0] == "word":
        kw = p.peek()[1].upper()
        if kw == "GROUP":
            p.next()
            p.expect("word", "BY")
            while p.peek()[0] == "var":
                _, v = p.next()
                group_by.append("this" if v[1:] == "this" else v[1:])
            if not group_by:
                raise ValueError("sh:sparql: GROUP BY needs at least one var")
        elif kw == "HAVING":
            p.next()
            p.expect("op", "(")
            having = p.expr()
            p.expect("op", ")")
        elif kw == "ORDER":
            p.next()
            p.expect("word", "BY")
            while True:
                k, v = p.peek()
                if k == "var":
                    p.next()
                    order.append((v[1:], "asc"))
                elif k == "word" and v.upper() in ("ASC", "DESC"):
                    p.next()
                    p.expect("op", "(")
                    vv = p.expect("var")
                    p.expect("op", ")")
                    order.append((vv[1:], v.lower()))
                else:
                    break
            if not order:
                raise ValueError("sh:sparql: ORDER BY needs at least one key")
        elif kw == "LIMIT":
            p.next()
            limit = int(p.expect("num"))
        elif kw == "OFFSET":
            p.next()
            offset = int(p.expect("num"))
        else:
            raise ValueError(f"sh:sparql: unexpected trailing token {kw!r}")
    if p.peek()[0] != "eof":
        raise ValueError(f"sh:sparql: unexpected trailing token {p.peek()[1]!r}")
    for g in groups:
        if not g.patterns:
            raise ValueError("sh:sparql: empty WHERE block")
        if require_this and not any("?this" in pat for pat in g.patterns):
            raise ValueError("sh:sparql: WHERE must mention $this")
    if require_this and not star and "this" not in sel:
        # SHACL §5.3.1: each solution's $this is the focus node it reports on
        raise ValueError("sh:sparql: SELECT must project $this")
    if aggs:
        bad = [v for v in sel if v not in aggs and v not in group_by]
        if bad:
            raise ValueError(
                f"sh:sparql: projected vars {bad} are neither aggregated "
                f"nor GROUP BY keys"
            )
    return ParsedSelect(
        sel, star, groups, p.prefixes,
        distinct, order, limit, offset, aggs, group_by, having,
    )


def _is_numeric(node) -> bool:
    return node[0] == "num" or (node[0] == "call" and node[1] in _NUMERIC_CALLS)


def _compile_value(node, numeric: bool) -> Column:
    # Under a numeric comparison, EVERY string-producing operand goes through
    # try_cast(double) — not just variables.  A numeric-vs-string-constant
    # comparison ('0 = "x"') would otherwise let Spark insert an ANSI string→
    # number cast that THROWS at runtime; SPARQL wants a type error that
    # silently eliminates the row (found by the hypothesis fuzz).
    kind = node[0]
    if kind == "var":
        col = F.col(node[1])
        return col.try_cast("double") if numeric else col
    if kind == "num":
        return F.lit(float(node[1]) if "." in node[1] else int(node[1]))
    if kind == "str":
        lit = F.lit(node[1])
        return lit.try_cast("double") if numeric else lit
    if kind == "call":
        name, args = node[1], node[2]
        if name == "STRLEN":
            return F.length(_compile_value(args[0], numeric=False)).cast("double")
        if name == "ABS":
            return F.abs(_compile_value(args[0], numeric=True))
        a0 = _compile_value(args[0], numeric=False)
        if name == "STR":
            out = a0
        elif name == "UCASE":
            out = F.upper(a0)
        elif name == "LCASE":
            out = F.lower(a0)
        else:
            raise ValueError(f"sh:sparql: not a value expression: {node!r}")
        return out.try_cast("double") if numeric else out
    raise ValueError(f"sh:sparql: not a value expression: {node!r}")


def compile_filter(node) -> Column:
    kind = node[0]
    if kind == "or":
        return compile_filter(node[1]) | compile_filter(node[2])
    if kind == "and":
        return compile_filter(node[1]) & compile_filter(node[2])
    if kind == "not":
        return ~compile_filter(node[1])
    if kind == "cmp":
        op, left, right = node[1], node[2], node[3]
        numeric = _is_numeric(left) or _is_numeric(right)
        lc = _compile_value(left, numeric)
        rc = _compile_value(right, numeric)
        return {
            "=": lc == rc, "!=": lc != rc, "<": lc < rc,
            "<=": lc <= rc, ">": lc > rc, ">=": lc >= rc,
        }[op]
    if kind == "call":
        from re_shacl_spark.query import term_is_iri, term_is_literal

        name, args = node[1], node[2]
        if name in ("ISIRI", "ISLITERAL", "BOUND"):
            if args[0][0] != "var":
                raise ValueError(f"sh:sparql: {name} needs a variable")
            var = args[0][1]
            if name == "ISIRI":
                return term_is_iri(var)
            if name == "ISLITERAL":
                return term_is_literal(var)
            return F.col(var).isNotNull()
        a0 = _compile_value(args[0], numeric=False)
        if name == "REGEX":
            if args[1][0] != "str":
                raise ValueError("sh:sparql: REGEX pattern must be a string literal")
            return a0.rlike(args[1][1])
        a1 = _compile_value(args[1], numeric=False)
        if name == "CONTAINS":
            return a0.contains(a1)
        if name == "STRSTARTS":
            return a0.startswith(a1)
        if name == "STRENDS":
            return a0.endswith(a1)
    raise ValueError(f"sh:sparql: not a boolean expression: {node!r}")


@dataclass
class ParsedConstruct:
    """CONSTRUCT { template } WHERE { … } in the same restricted fragment."""

    template: list[tuple]
    group: Group
    prefixes: dict[str, str]

    @property
    def patterns(self):
        return self.group.patterns

    @property
    def filters(self):
        return self.group.filters

    @property
    def optionals(self):
        return self.group.optionals


def parse_construct(
    text: str,
    prefixes: dict[str, str] | None = None,
    require_this: bool = True,
) -> ParsedConstruct:
    """Parse a SHACL-AF sh:construct rule body (SHACL-AF §8 SPARQLRule):
    CONSTRUCT { t … } WHERE { t … FILTER(…) OPTIONAL{…} } over the same
    restricted grammar as parse_select; $this in the template mints per-focus
    triples.  PREFIX declarations and sh:declare'd prefixes both apply."""
    p = _P(_tokens(text), prefixes or {})
    _parse_prefix_decls(p)
    p.expect("word", "CONSTRUCT")
    p.expect("op", "{")
    template = []
    while p.peek() != ("op", "}"):
        template.append((p.term(), p.term(), p.term()))
        if p.peek() == ("op", "."):
            p.next()
    p.expect("op", "}")
    if not template:
        raise ValueError("sh:construct: empty template")
    # the WHERE group shares the SELECT body grammar (incl. FILTER [NOT]
    # EXISTS, MINUS, VALUES), minus UNION branches
    p.expect("word", "WHERE")
    p.expect("op", "{")
    body = p.group_body()
    p.expect("op", "}")
    if p.peek()[0] != "eof":
        raise ValueError(f"sh:construct: unexpected trailing token {p.peek()[1]!r}")
    if not body.patterns:
        raise ValueError("sh:construct: empty WHERE block")
    if require_this and not any("?this" in pat for pat in body.patterns):
        raise ValueError("sh:construct: WHERE must mention $this")
    return ParsedConstruct(template, body, p.prefixes)


def sparql_query(
    triples: DataFrame, text: str, prefixes: dict[str, str] | None = None
):
    """Free-standing text entry point for the restricted fragment: dispatches
    on the leading query-form keyword.  SELECT (with DISTINCT / aggregates /
    ORDER BY / LIMIT / OFFSET) returns the solution frame; CONSTRUCT returns
    a distinct (s, p, o) triple relation; ASK returns a Python bool (one
    bounded `limit(1)` probe — never a full count); DESCRIBE <node>…
    returns the nodes' triples via query.describe.  Unlike the constraint
    context, $this is not required — any connected BGP runs.  One
    distributed plan per form; ORDER BY + LIMIT collapses to
    TakeOrderedAndProject (no global sort)."""
    toks = _tokens(text)
    kws = [v.upper() for k, v in toks if k == "word"]
    form = next(
        (w for w in kws if w in ("SELECT", "CONSTRUCT", "ASK", "DESCRIBE")),
        None,
    )
    if form == "SELECT":
        return evaluate(triples, parse_select(text, prefixes, require_this=False))
    if form == "CONSTRUCT":
        from re_shacl_spark.query import _instantiate

        pc = parse_construct(text, prefixes, require_this=False)
        bound = _eval_group(triples, pc.group)
        return _instantiate(bound, pc.template, meta=False).distinct()
    if form == "ASK":
        p = _P(toks, prefixes or {})
        _parse_prefix_decls(p)
        p.expect("word", "ASK")
        p.expect("op", "{")
        g = p.group_body()
        p.expect("op", "}")
        if not g.patterns:
            raise ValueError("sh:sparql: empty WHERE block")
        return bool(_eval_group(triples, g).limit(1).count())
    if form == "DESCRIBE":
        from re_shacl_spark.query import describe

        p = _P(toks, prefixes or {})
        _parse_prefix_decls(p)
        p.expect("word", "DESCRIBE")
        nodes = []
        while p.peek()[0] in ("iri", "pname"):
            k, v = p.next()
            nodes.append(v[1:-1] if k == "iri" else p._expand(v))
        if not nodes or p.peek()[0] != "eof":
            raise ValueError("sh:sparql: DESCRIBE needs constant node IRIs")
        return describe(triples, nodes)
    raise ValueError(
        "sparql_query: expected a SELECT, CONSTRUCT, ASK or DESCRIBE query"
    )


def _parse_prefix_decls(p: _P) -> None:
    while p.peek()[0] == "word" and p.peek()[1].upper() == "PREFIX":
        p.next()
        pk, pv = p.next()
        if pk != "pname" or not pv.endswith(":"):
            raise ValueError(f"sh:sparql: bad PREFIX name {pv!r}")
        iri = p.expect("iri")
        p.prefixes[pv[:-1]] = iri[1:-1]


def _conjoin(filters) -> Column | None:
    where = None
    for fnode in filters:
        c = compile_filter(fnode)
        where = c if where is None else (where & c)
    return where


def _eval_group(triples: DataFrame, g: Group) -> DataFrame:
    """One group pattern → solution frame WITH term tags.  FILTER exprs
    apply AFTER the OPTIONAL left-joins (SPARQL §8: group scoping, so
    BOUND(?x) on an OPTIONAL variable works); FILTER [NOT] EXISTS, MINUS and
    VALUES ride bgp's own arms (they join on the required block — an EXISTS
    referencing only OPTIONAL-introduced variables is out of fragment
    scope)."""
    from re_shacl_spark.query import bgp

    sol = bgp(
        triples, g.patterns, optional=g.optionals or None,
        filter_exists=g.f_exists or None,
        filter_not_exists=g.f_not_exists or None,
        minus=g.minus, values=g.values,
        _keep_tags=True,
    )
    where = _conjoin(g.filters)
    if where is not None:
        sol = sol.filter(where)
    return sol


def evaluate(triples: DataFrame, parsed: ParsedSelect) -> DataFrame:
    """Run one compiled sh:select against the graph: one query.bgp plan per
    group (UNION branches union narrowly, absent variables null-padded —
    SPARQL's unbound), then aggregation, projection, DISTINCT and the
    solution modifiers.  Returns the solution multiset with ``this`` always
    among the columns in constraint contexts."""
    from re_shacl_spark.query import _TAG

    sol = _eval_group(triples, parsed.groups[0])
    for g in parsed.groups[1:]:
        sol = sol.unionByName(_eval_group(triples, g), allowMissingColumns=True)
    sol = sol.drop(*[c for c in sol.columns if c.endswith(_TAG)])
    if parsed.aggs:
        # SPARQL §11: GROUP BY → aggregate → HAVING → projection; the agg
        # output aliases and group keys are the only projectable columns
        from re_shacl_spark.query import aggregate

        having = compile_filter(parsed.having) if parsed.having is not None else None
        sol = aggregate(sol, parsed.group_by, parsed.aggs, having=having)
    if not parsed.star:
        missing = [v for v in parsed.select_vars if v not in sol.columns]
        if missing:
            raise ValueError(f"sh:sparql: SELECT vars not bound: {missing}")
        sol = sol.select(*parsed.select_vars)
    if parsed.distinct:
        # projection → DISTINCT → ORDER/slice: ordering keys must be among
        # the projected vars under DISTINCT (the spec's ambiguous case —
        # ordering by a non-projected var of a DISTINCT solution — raises
        # naturally as a missing column)
        sol = sol.distinct()
    if parsed.order or parsed.limit is not None or parsed.offset:
        from re_shacl_spark.query import modifiers

        sol = modifiers(
            sol, order_by=parsed.order or None,
            limit=parsed.limit, offset=parsed.offset,
        )
    return sol


def apply_rules(
    spark,
    triples: DataFrame,
    shapes,
    tbox=None,
    max_rounds: int = 32,
    checkpoint: bool = True,
) -> DataFrame:
    """SHACL-AF §8 SPARQLRule inference: apply every shape's sh:construct
    rule to its target focus nodes, add the minted triples to the graph, and
    iterate to fixpoint (a rule may entail new targets or new matches for
    another rule — rdfs-style chains converge in dependency depth).

    Plan shape per round: targets re-derive (broadcast class-map joins), each
    rule runs as ONE bgp plan joined against its shape's target set on
    ``this`` ($this pre-binding, SHACL-AF §5), the template fan-out is
    column-select-only (query._instantiate, meta — literal objects keep full
    term identity), and novelty is a hash anti-join on (s, p, o, term-tag)
    against the accumulated graph.  Per-round localCheckpoint keeps lineage
    O(1), same as pipeline.fuse.  sh:order/sh:condition are not implemented
    (documented restriction — rounds apply all rules simultaneously, which
    subsumes ordering for monotone rule sets); ``max_rounds`` bounds cyclic
    rule graphs and raises on non-convergence rather than silently stopping.
    """
    from re_shacl_spark.query import _instantiate, _term_tag
    from re_shacl_spark.validate.engine import _targets

    rules = [
        (ns, parse_construct(r.select, r.prefixes))
        for ns in shapes
        for r in getattr(ns, "rules", [])
    ]
    if not rules:
        return triples
    cur = triples
    for _ in range(max_rounds):
        targets = _targets(spark, cur, shapes, tbox)
        parts = []
        for ns, pc in rules:
            bound = _eval_group(cur, pc.group)
            foc = (
                targets.filter(F.col("shape_id") == ns.shape_id)
                .select(F.col("focus").alias("this")).distinct()
            )
            bound = bound.join(foc, "this")
            inst = _instantiate(bound, pc.template, meta=True)
            parts.append(inst.select("s", "p", "o", "_otag", "is_lit", "o_lit"))
        new = parts[0]
        for x in parts[1:]:
            new = new.unionByName(x)
        new = new.dropDuplicates(["s", "p", "o", "_otag"])
        cur_keyed = cur.select(
            "s", "p", "o",
            _term_tag(F.col("is_lit"), F.col("o_lit")).alias("_otag"),
        )
        fresh = new.join(cur_keyed, ["s", "p", "o", "_otag"], "left_anti")
        if fresh.isEmpty():
            return cur
        cur = cur.unionByName(
            fresh.select(
                "s", "p", "o", "o_lit", "is_lit",
                F.lit(None).cast("string").alias("src_url"),
            )
        )
        # per-round lineage truncation (O(1) plans across rounds);
        # checkpoint=False keeps the dataflow visible for plan audits
        if checkpoint:
            cur = cur.localCheckpoint(eager=True)
    raise RuntimeError(
        f"sh:rule fixpoint did not converge in {max_rounds} rounds"
    )
