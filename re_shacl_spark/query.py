"""Basic-graph-pattern (BGP) matching over the triple store — the SPARQL-style
query surface of the engine.

The reference exposes its fused graph through rdflib, whose primary read API is
``Graph.query(sparql)`` / ``Graph.triples(pattern)`` (rdflib backs
/root/reference/ReSHACL/re_shacl.py's graph object end to end).  A user
switching engines needs conjunctive pattern queries, not just single-pattern
scans (SURVEY §2 P1–P6).  This module compiles a BGP — a list of (s, p, o)
patterns where ``?name`` terms are variables — into a left-deep DataFrame join
plan:

* each pattern is one scan of the triple relation with its constant terms as
  pushed-down filters (constant predicates prune via parquet predicate
  pushdown / partition pruning when the store is bucketed by ``p``),
* patterns join on their shared variables (hash equi-joins — never a cartesian
  product: disconnected BGPs are rejected unless ``allow_cross=True``),
* join order is chosen greedily by selectivity (most constants first, then
  maximal shared-variable connectivity), and AQE re-plans at runtime.

At 10^12 triples this is the classic relational-SPARQL shape: every pattern
scan is predicate-pruned, and each join shuffles on the shared variable keys.
OPTIONAL patterns become left joins after the required block.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from re_shacl_spark.model.triples import local_frame, materialize

Pattern = tuple[str, str, str]  # or (s, p, o, g): a quad with a GRAPH slot


@dataclass(frozen=True)
class Path:
    """A SPARQL 1.1 property-path expression used in a pattern's predicate
    slot: ``bgp(t, [("?x", Path("kg:a/kg:b+"), "?y")])``.

    Grammar (subset of SPARQL 1.1 §9):
        path  := seq ('|' seq)*           alternation
        seq   := step ('/' step)*         sequence
        step  := '^' step                 inverse
               | atom ('+' | '*' | '?')?  one-or-more / zero-or-more / zero-or-one
        atom  := '<'IRI'>' | BARE | '(' path ')'
    BARE tokens may not contain path operator characters (``^|/+*?()`` or
    whitespace) — full http:// IRIs must be angle-bracketed, prefixed names
    (``kg:next``) can stay bare.  The explicit wrapper keeps plain-IRI
    predicates unambiguous (IRIs legitimately contain ``/``)."""

    expr: str


@dataclass(frozen=True)
class Lit:
    """A constant LITERAL pattern term: ``bgp(t, [("?s", "kg:surface",
    Lit("alice"))])`` — SPARQL's ``"alice"`` / ``"x"^^xsd:int`` /
    ``"chat"@fr`` syntax.  Plain-string constants are IRIs (the spec writes
    them ``<…>``); matching a literal by its lexical form alone would conflate
    it with an IRI pun, so literal constants are explicit.  Defaults follow
    the store's literal model: no ``lang`` → ``dtype`` defaults to
    ``xsd:string``; a ``lang``-tagged literal carries no dtype."""

    lex: str
    dtype: str | None = None
    lang: str | None = None


def _const_form_tag(term) -> tuple[str, str]:
    """(visible string form, term-identity tag) for a constant pattern term."""
    if isinstance(term, Lit):
        from re_shacl_spark.model.triples import vocab

        dtype = term.dtype or ("" if term.lang else vocab.XSD + "string")
        return term.lex, f"L|{dtype}|{term.lang or ''}"
    return term, "I"


def _is_var(term) -> bool:
    return isinstance(term, str) and term.startswith("?")


def _vars_of(pat: Pattern) -> list[str]:
    return [t[1:] for t in pat if _is_var(t)]


# Suffix of the hidden term-identity companion column each variable carries
# through BGP joins (rdflib term-identity semantics, not string-form): "I" for
# IRIs, "L|<dtype>|<lang>" for literals (the lexical form is the visible
# column itself).  Joins on shared variables include the companion, so a
# literal whose lexical form equals an IRI never joins with it; the companions
# are dropped from the solution before it leaves ``bgp``.
_TAG = "__t"


def _term_tag(is_col: Column, lit_col: Column) -> Column:
    return F.when(
        is_col,
        F.concat(
            F.lit("L|"),
            F.coalesce(lit_col["dtype"], F.lit("")),
            F.lit("|"),
            F.coalesce(lit_col["lang"], F.lit("")),
        ),
    ).otherwise(F.lit("I"))


def term_is_iri(var: str) -> Column:
    """SPARQL ``isIRI(?var)`` as a FILTER/BIND expression: usable inside
    ``bgp(..., where=..., bind=...)``, where the variable's hidden
    term-identity companion is still in scope (it is dropped only when the
    solution leaves ``bgp``)."""
    return F.col(var + _TAG) == "I"


def term_is_literal(var: str) -> Column:
    """SPARQL ``isLiteral(?var)`` — see ``term_is_iri`` for scoping."""
    return F.col(var + _TAG).startswith("L|")


def _bind(df: DataFrame, term_cols: list[tuple[str, str, Column]]) -> DataFrame:
    """Bind pattern terms to the frame's columns: constants filter, variables
    project — plus a term-identity companion per variable (a repeated
    variable inside one pattern becomes an equality filter on term identity).
    Constants filter on FULL term identity: a plain string is an IRI (SPARQL
    writes them ``<…>``) and never matches a literal pun; ``Lit(...)``
    constants match the exact literal (lexical form + dtype/lang)."""
    cols: list[Column] = []
    seen: dict[str, tuple[str, Column]] = {}
    for term, col, tag in term_cols:
        if _is_var(term):
            v = term[1:]
            if v in seen:
                seen_col, seen_tag = seen[v]
                df = df.filter((F.col(col) == F.col(seen_col)) & tag.eqNullSafe(seen_tag))
            else:
                seen[v] = (col, tag)
                cols.append(F.col(col).alias(v))
                cols.append(tag.alias(v + _TAG))
        else:
            form, want = _const_form_tag(term)
            df = df.filter((F.col(col) == form) & tag.eqNullSafe(F.lit(want)))
    return df.select(*cols)


def _scan(triples: DataFrame, pat: Pattern) -> DataFrame:
    """One pattern → one filtered scan projecting its variables.  A ``Path``
    predicate first evaluates to an (a, b) endpoint-pair relation.

    A 4-tuple ``(s, p, o, g)`` is a quad pattern — SPARQL 1.1 §13's
    ``GRAPH g { s p o }``: the fourth term binds/filters the store's
    ``src_url`` provenance column as the named-graph slot (graph names are
    the source-page IRIs per BASELINE.json's lineage rule; rdflib users get
    the same via ConjunctiveGraph contexts).  Triples with null ``src_url``
    live in the default graph and are never visible through a GRAPH pattern.
    A constant graph term is a pushed-down partition-prunable filter; a
    variable binds per triple (an IRI-tagged column like ``s``/``p``).  A
    ``Path`` predicate composes with a CONSTANT graph term (the closure runs
    inside that one graph) but not a graph variable — per-graph closures
    would need a grouped fixpoint; callers iterate named graphs instead."""
    for slot in pat[:2]:
        if isinstance(slot, Lit):
            raise ValueError(f"literal in subject/predicate position: {pat}")
    if len(pat) == 4 and isinstance(pat[3], Lit):
        raise ValueError(f"literal graph name: {pat}")
    if len(pat) == 4:
        s, p, o, g = pat
        scoped = triples.filter(F.col("src_url").isNotNull())
        if isinstance(p, Path):
            if _is_var(g):
                raise ValueError(
                    f"GRAPH variable over a property path is unsupported: {pat}"
                )
            scoped = scoped.filter(F.col("src_url") == g)
            return _scan(scoped, (s, p, o))
        return _bind(
            scoped,
            [
                (s, "s", F.lit("I")),
                (p, "p", F.lit("I")),
                (o, "o", _term_tag(F.col("is_lit"), F.col("o_lit"))),
                (g, "src_url", F.lit("I")),
            ],
        )
    s, p, o = pat
    if isinstance(p, Path):
        pairs = eval_path(triples, p.expr, keep_meta="ab")
        return _bind(
            pairs,
            [
                (s, "a", _term_tag(F.col("a_is"), F.col("a_lit"))),
                (o, "b", _term_tag(F.col("b_is"), F.col("b_lit"))),
            ],
        )
    return _bind(
        triples,
        [
            (s, "s", F.lit("I")),
            (p, "p", F.lit("I")),
            (o, "o", _term_tag(F.col("is_lit"), F.col("o_lit"))),
        ],
    )


def _order(patterns: list[Pattern], allow_cross: bool) -> list[Pattern]:
    """Greedy selectivity order: start at the most-constant pattern, then
    always extend with a pattern sharing a variable with the bound set
    (ties → more constants).  Raises on disconnected BGPs unless allowed."""
    remaining = list(patterns)
    remaining.sort(key=lambda p: (len(_vars_of(p)), patterns.index(p)))
    ordered = [remaining.pop(0)]
    bound = set(_vars_of(ordered[0]))
    while remaining:
        connected = [p for p in remaining if bound & set(_vars_of(p))]
        if not connected:
            if not allow_cross:
                raise ValueError(
                    "disconnected BGP (cartesian product); pass allow_cross=True "
                    f"to permit it: {remaining}"
                )
            connected = list(remaining)
        pos = {id(p): i for i, p in enumerate(remaining)}
        connected.sort(key=lambda p: (len(_vars_of(p)), pos[id(p)]))
        nxt = connected[0]
        remaining.remove(nxt)
        ordered.append(nxt)
        bound |= set(_vars_of(nxt))
    return ordered


def bgp(
    triples: DataFrame,
    patterns: list[Pattern],
    optional: list[Pattern] | None = None,
    select: list[str] | None = None,
    distinct: bool = False,
    allow_cross: bool = False,
    where: Column | None = None,
    minus: list[Pattern] | None = None,
    values: tuple[list[str], list[tuple]] | None = None,
    bind: dict[str, Column] | None = None,
    filter_exists: list[list[Pattern]] | None = None,
    filter_not_exists: list[list[Pattern]] | None = None,
    _keep_tags: bool = False,
) -> DataFrame:
    """Match a conjunctive pattern list; returns one column per variable.

    Patterns are ``(s, p, o)`` triples or ``(s, p, o, g)`` quads — the quad
    form is SPARQL ``GRAPH g {…}`` over the ``src_url`` provenance slot (see
    ``_scan``); graph variables join across patterns like any other variable.

    Joins on shared variables compose on full RDF TERM identity (the visible
    string column plus a hidden ``__t`` companion: IRI vs literal, datatype,
    language — ADVICE r3, same rule as ``eval_path``), so a literal binding
    never joins an IRI binding with the same lexical form.  The companions
    participate in required joins, OPTIONAL joins and MINUS compatibility,
    then are dropped before the solution is returned (``_keep_tags`` is the
    internal flag the MINUS recursion uses to keep them joinable).  VALUES
    tables are inline query text joined by string form only.

    ``optional`` patterns left-join after the required block (SPARQL
    OPTIONAL); their unmatched variables are null.  ``where`` is a SPARQL
    FILTER — any pyspark Column predicate over the variable columns, applied
    after the required block (Catalyst pushes it below the joins when legal).
    ``minus`` removes bindings compatible with the given BGP on their shared
    variables (SPARQL MINUS — a left-anti join; with no shared variable it
    removes nothing, per spec).  ``values`` is a SPARQL VALUES block —
    ``(["n", "r"], [("n:1", "r:0"), ("n:3", None)])`` joins the inline
    binding table into the solution (a broadcast hash join: the table is
    query-text-sized by construction); ``None`` entries are UNDEF and leave
    that variable unconstrained for that row (rows are grouped by their
    defined-column mask and each group joins on its own columns — multiset
    semantics, a binding matched by two VALUES rows appears twice).
    ``bind`` is SPARQL BIND: ``{"name": <Column expr over the variables>}``
    adds each computed variable to the solution (applied after the required
    block, before VALUES/FILTER, in dict order so later binds may use earlier
    ones); bound variables carry a plain-literal term tag, so a bind output
    only term-joins other plain literals downstream.  ``filter_exists`` /
    ``filter_not_exists`` are SPARQL FILTER (NOT) EXISTS blocks — each inner
    BGP keeps / removes solutions that have at least one compatible inner
    match on the shared variables (a left-semi / left-anti join on full term
    identity).  Unlike MINUS, a NOT EXISTS block sharing *no* variable still
    eliminates everything when the inner pattern matches at all (SPARQL 1.1
    §8.3's MINUS-vs-NOT-EXISTS divergence) — implemented as an anti join
    against ``inner.limit(1)``, one row, never data-sized.
    ``select`` projects (and orders) the output variables; ``distinct``
    deduplicates bindings (SPARQL SELECT DISTINCT).
    """
    if not patterns:
        raise ValueError("empty BGP")
    out: DataFrame | None = None
    for pat in _order(patterns, allow_cross):
        scan = _scan(triples, pat)
        if out is None:
            out = scan
        else:
            shared = sorted(set(out.columns) & set(scan.columns))
            out = out.join(scan, shared) if shared else out.crossJoin(scan)
    for name, expr in (bind or {}).items():
        if name in out.columns:
            raise ValueError(f"BIND variable ?{name} already bound")
        out = out.withColumn(name, expr).withColumn(name + _TAG, F.lit("L||"))
    if values is not None:
        out = _apply_values(out, values)
    if where is not None:
        out = out.filter(where)
    for block, how in ((filter_exists, "left_semi"), (filter_not_exists, "left_anti")):
        for pats in block or []:
            inner = bgp(triples, pats, allow_cross=allow_cross, _keep_tags=True)
            shared = sorted(set(out.columns) & set(inner.columns))
            if any(not c.endswith(_TAG) for c in shared):
                out = out.join(inner.select(*shared).distinct(), shared, how)
            else:
                out = out.join(inner.limit(1), F.lit(True), how)
    if minus:
        m = bgp(triples, minus, allow_cross=allow_cross, _keep_tags=True)
        shared = sorted(set(out.columns) & set(m.columns))
        if any(not c.endswith(_TAG) for c in shared):
            # disjoint domains: MINUS is a no-op (SPARQL 1.1 §8.3)
            out = out.join(m.select(*shared).distinct(), shared, "left_anti")
    for pat in optional or []:
        scan = _scan(triples, pat)
        shared = sorted(set(out.columns) & set(scan.columns))
        if not any(not c.endswith(_TAG) for c in shared):
            raise ValueError(f"OPTIONAL pattern shares no variable: {pat}")
        out = out.join(scan, shared, "left")
    if not _keep_tags:
        out = out.drop(*[c for c in out.columns if c.endswith(_TAG)])
    if select:
        out = out.select(*select)
    return out.distinct() if distinct else out


def _apply_values(out: DataFrame, values: tuple[list[str], list[tuple]]) -> DataFrame:
    """Join a SPARQL VALUES table into the solution frame.

    Rows are grouped by which columns they define (UNDEF = ``None``); each
    group inner-joins on its defined columns only, and the groups' outputs
    union — SPARQL §10.2 compatibility semantics, preserving multiset
    cardinality.  Every group join is a broadcast: the table is literal query
    text, never data-sized."""
    names, rows = values
    if not names or any(len(r) != len(names) for r in rows):
        raise ValueError("VALUES rows must match the variable list arity")
    unknown = [n for n in names if n not in out.columns]
    if unknown:
        raise ValueError(f"VALUES variables not bound by the pattern: {unknown}")
    spark = out.sparkSession
    by_mask: dict[tuple[int, ...], list[tuple]] = {}
    for r in rows:
        mask = tuple(i for i, v in enumerate(r) if v is not None)
        by_mask.setdefault(mask, []).append(r)
    parts: list[DataFrame] = []
    for mask, group in by_mask.items():
        if not mask:  # all-UNDEF rows: each passes every binding unchanged
            for _ in group:
                parts.append(out)
            continue
        cols = [names[i] for i in mask]
        vdf = local_frame(spark, [tuple(r[i] for i in mask) for r in group], cols)
        parts.append(out.join(F.broadcast(vdf), cols))
    joined = parts[0]
    for p_ in parts[1:]:
        joined = joined.unionByName(p_)
    return joined


# ---------------------------------------------------------------------------
# Property-path evaluation (SPARQL 1.1 §9 subset).
#
# Every path expression compiles to a DataFrame with two columns (a, b) — the
# endpoint pairs it connects — built from predicate-pruned scans of the triple
# relation:
#   IRI        one scan, p = IRI pushed to the source
#   ^e         column swap (no job)
#   e1/e2      hash join on the shared endpoint (one shuffle per step)
#   e1|e2      union
#   e+         iterative-doubling closure: O(log path-length) rounds of
#              self-join + anti-join novelty gate, materialize truncating
#              lineage — the same scale shape as reasoning/rules.rule_transitive
#              (the reference evaluates paths via rdflib's per-node generators,
#              /root/reference/ReSHACL/re_shacl.py transitive walks; here the
#              whole relation closes at once, distributed)
#   e* / e?    closure/step unioned with the zero-length identity over every
#              term of the graph (SPARQL zero-length-path semantics)
# Closure results are distinct by construction (visited-set ALP semantics);
# sequence/alternation keep join/bag semantics — wrap the BGP in
# ``distinct=True`` for set results.
# ---------------------------------------------------------------------------

_PATH_OPS = set("^|/+*?()!")


def _path_tokens(expr: str) -> list[str]:
    toks: list[str] = []
    i, n = 0, len(expr)
    while i < n:
        ch = expr[i]
        if ch.isspace():
            i += 1
        elif ch == "<":
            j = expr.find(">", i)
            if j < 0:
                raise ValueError(f"unterminated <IRI> in path: {expr!r}")
            toks.append(expr[i + 1 : j])  # raw IRI token (may contain operators)
            i = j + 1
        elif ch in _PATH_OPS:
            toks.append(ch)
            i += 1
        else:
            j = i
            while j < n and expr[j] not in _PATH_OPS and not expr[j].isspace():
                j += 1
            toks.append(expr[i:j])
            i = j
    if not toks:
        raise ValueError("empty property path")
    return toks


def parse_path(expr: str):
    """Parse a path expression to an AST of nested tuples:
    ('iri', x) | ('inv', e) | ('seq', [e..]) | ('alt', [e..]) |
    ('plus'|'star'|'opt', e)."""
    toks = _path_tokens(expr)
    pos = 0

    def peek():
        return toks[pos] if pos < len(toks) else None

    def take():
        nonlocal pos
        if pos >= len(toks):
            raise ValueError(f"unexpected end of path: {expr!r}")
        t = toks[pos]
        pos += 1
        return t

    def atom():
        t = take()
        if t == "(":
            e = alt()
            if take() != ")":
                raise ValueError(f"expected ')' in path: {expr!r}")
        elif t in _PATH_OPS:
            raise ValueError(f"unexpected {t!r} in path: {expr!r}")
        else:
            e = ("iri", t)
        return e

    def nps():
        """Negated property set !iri / !^iri / !(iri|^iri|…) — SPARQL §9.1.
        Forward members exclude forward edges, reverse members exclude
        reverse edges; each complement part exists only if its set does."""
        fwd: list[str] = []
        rev: list[str] = []

        def member():
            tgt = rev if peek() == "^" else fwd
            if peek() == "^":
                take()
            t = take()
            if t in _PATH_OPS:
                raise ValueError(f"bad negated-property-set member {t!r}: {expr!r}")
            tgt.append(t)

        if peek() == "(":
            take()
            member()
            while peek() == "|":
                take()
                member()
            if take() != ")":
                raise ValueError(f"expected ')' in negated property set: {expr!r}")
        else:
            member()
        return ("nps", fwd, rev)

    def step():
        if peek() == "^":
            take()
            return ("inv", step())
        if peek() == "!":
            take()
            e = nps()
        else:
            e = atom()
        while peek() in ("+", "*", "?"):
            e = ({"+": "plus", "*": "star", "?": "opt"}[take()], e)
        return e

    def seq():
        es = [step()]
        while peek() == "/":
            take()
            es.append(step())
        return es[0] if len(es) == 1 else ("seq", es)

    def alt():
        es = [seq()]
        while peek() == "|":
            take()
            es.append(seq())
        return es[0] if len(es) == 1 else ("alt", es)

    e = alt()
    if pos != len(toks):
        raise ValueError(f"trailing tokens {toks[pos:]} in path: {expr!r}")
    return e


_META = ["a", "b", "a_lit", "a_is", "b_lit", "b_is"]


def _path_closure(edges: DataFrame) -> DataFrame:
    """Transitive closure of an endpoint relation by iterative doubling —
    O(log path-length) rounds, each one self-join + novelty anti-join, lineage
    truncated per round.  Distinct pairs out (cycle-safe).  Endpoint metadata
    (the `_META` literal columns) rides along: a composed pair keeps the left
    hop's start metadata and the right hop's end metadata."""
    from re_shacl_spark.session import ensure_fixpoint_confs

    ensure_fixpoint_confs(edges.sparkSession)
    closure, _ = materialize(edges.select(*_META).distinct())
    for _ in range(32):
        nxt = (
            closure.alias("x")
            # full TERM identity on the composition key, not just string form
            # (ADVICE r3): a literal "x" must not continue through an IRI
            # <x> — same string, different RDF terms.  Literal-mediated
            # composition stays legal where RDF allows it (inverse steps),
            # which is why the condition matches is_lit + literal struct
            # instead of banning literals outright.
            .join(
                closure.alias("y"),
                (F.col("x.b") == F.col("y.a"))
                & (F.col("x.b_is") == F.col("y.a_is"))
                & F.col("x.b_lit").eqNullSafe(F.col("y.a_lit")),
            )
            .select(
                F.col("x.a").alias("a"), F.col("y.b").alias("b"),
                F.col("x.a_lit").alias("a_lit"), F.col("x.a_is").alias("a_is"),
                F.col("y.b_lit").alias("b_lit"), F.col("y.b_is").alias("b_is"),
            )
        )
        # novelty on FULL endpoint term identity, not string form — an edge
        # pair (x, "lit") is new even when (x, <lit>) is already closed (the
        # randomized parity suite caught the form-only anti-join dropping
        # pun-endpoint pairs); the non-null term tags make equi-join keys
        seen = closure.select(
            "a", "b",
            _term_tag(F.col("a_is"), F.col("a_lit")).alias("_at"),
            _term_tag(F.col("b_is"), F.col("b_lit")).alias("_bt"),
        )
        new = (
            nxt.withColumn("_at", _term_tag(F.col("a_is"), F.col("a_lit")))
            .withColumn("_bt", _term_tag(F.col("b_is"), F.col("b_lit")))
            .join(seen, ["a", "b", "_at", "_bt"], "left_anti")
            .drop("_at", "_bt")
            .distinct()
        )
        new, c = materialize(new)
        if not c["rows"]:
            break
        closure, _ = materialize(closure.union(new))
    return closure


def _graph_terms(triples: DataFrame) -> DataFrame:
    """Every RDF term of the graph paired with itself — the zero-length path.
    Object terms keep their literal metadata on both endpoints; subjects are
    always resource nodes."""
    lit_t = triples.schema["o_lit"].dataType
    null_lit = F.lit(None).cast(lit_t)
    subs = triples.select(
        F.col("s").alias("a"), F.col("s").alias("b"),
        null_lit.alias("a_lit"), F.lit(False).alias("a_is"),
        null_lit.alias("b_lit"), F.lit(False).alias("b_is"),
    )
    objs = triples.select(
        F.col("o").alias("a"), F.col("o").alias("b"),
        F.col("o_lit").alias("a_lit"), F.col("is_lit").alias("a_is"),
        F.col("o_lit").alias("b_lit"), F.col("is_lit").alias("b_is"),
    )
    return subs.union(objs).distinct()


def eval_path(triples: DataFrame, expr, keep_meta: bool | str = False) -> DataFrame:
    """Evaluate a property-path expression over the triple relation; returns
    the endpoint pairs as columns (a, b) — plus the terminal value's literal
    metadata (b_lit struct, b_is flag) when ``keep_meta`` is set (the SHACL
    engine needs those to run datatype/language facets on path values), or
    BOTH endpoints' metadata (a_lit, a_is, b_lit, b_is) with
    ``keep_meta="ab"`` (the BGP layer builds term-identity join keys for
    path-bound variables from them).
    Composition (sequence / closure) joins on full TERM identity — string
    form + literal flag + literal struct — so a literal whose lexical form
    equals an IRI never continues a path through it (reference rdflib
    term-identity semantics); literal-mediated hops remain possible where RDF
    permits them (an inverse step whose object is that literal)."""
    ast = parse_path(expr) if isinstance(expr, str) else expr
    lit_t = triples.schema["o_lit"].dataType
    null_lit = F.lit(None).cast(lit_t)

    def ev(e) -> DataFrame:
        kind = e[0]
        if kind == "iri":
            return triples.filter(F.col("p") == e[1]).select(
                F.col("s").alias("a"), F.col("o").alias("b"),
                null_lit.alias("a_lit"), F.lit(False).alias("a_is"),
                F.col("o_lit").alias("b_lit"), F.col("is_lit").alias("b_is"),
            )
        if kind == "inv":
            return ev(e[1]).select(
                F.col("b").alias("a"), F.col("a").alias("b"),
                F.col("b_lit").alias("a_lit"), F.col("b_is").alias("a_is"),
                F.col("a_lit").alias("b_lit"), F.col("a_is").alias("b_is"),
            )
        if kind == "seq":
            out = ev(e[1][0])
            for sub in e[1][1:]:
                nxt = ev(sub)
                out = (
                    out.alias("l")
                    # term-identity composition key — see _path_closure
                    .join(
                        nxt.alias("r"),
                        (F.col("l.b") == F.col("r.a"))
                        & (F.col("l.b_is") == F.col("r.a_is"))
                        & F.col("l.b_lit").eqNullSafe(F.col("r.a_lit")),
                    )
                    .select(
                        F.col("l.a").alias("a"), F.col("r.b").alias("b"),
                        F.col("l.a_lit").alias("a_lit"), F.col("l.a_is").alias("a_is"),
                        F.col("r.b_lit").alias("b_lit"), F.col("r.b_is").alias("b_is"),
                    )
                )
            return out
        if kind == "alt":
            out = ev(e[1][0])
            for sub in e[1][1:]:
                out = out.union(ev(sub))
            return out
        if kind == "plus":
            return _path_closure(ev(e[1]))
        if kind == "star":
            return _path_closure(ev(e[1])).union(_graph_terms(triples)).distinct()
        if kind == "opt":
            return ev(e[1]).union(_graph_terms(triples)).distinct()
        if kind == "nps":
            fwd, rev = e[1], e[2]
            parts = []
            if fwd:  # forward edges whose predicate is outside the set
                parts.append(
                    triples.filter(~F.col("p").isin(fwd)).select(
                        F.col("s").alias("a"), F.col("o").alias("b"),
                        null_lit.alias("a_lit"), F.lit(False).alias("a_is"),
                        F.col("o_lit").alias("b_lit"), F.col("is_lit").alias("b_is"),
                    )
                )
            if rev:  # reverse edges whose predicate is outside the set
                parts.append(
                    triples.filter(~F.col("p").isin(rev)).select(
                        F.col("o").alias("a"), F.col("s").alias("b"),
                        F.col("o_lit").alias("a_lit"), F.col("is_lit").alias("a_is"),
                        null_lit.alias("b_lit"), F.lit(False).alias("b_is"),
                    )
                )
            out = parts[0]
            for p_ in parts[1:]:
                out = out.union(p_)
            return out
        raise ValueError(f"unknown path node {e!r}")

    out = ev(ast)
    if keep_meta == "ab":
        return out.select("a", "b", "a_lit", "a_is", "b_lit", "b_is")
    if keep_meta:
        return out.select("a", "b", "b_lit", "b_is")
    return out.select("a", "b")


# ---------------------------------------------------------------------------
# Aggregation and solution-sequence modifiers (SPARQL 1.1 §11 / §18.5).
#
# The reference reads its fused graph through rdflib, whose SPARQL engine
# supports GROUP BY + COUNT/SUM/MIN/MAX/AVG/SAMPLE/GROUP_CONCAT and
# ORDER BY/LIMIT/OFFSET (re_shacl.py's graph.query surface).  Here each
# aggregate compiles to one Spark hash aggregation over the solution frame:
# map-side partial aggregation runs before the single group-key shuffle, so
# the exchange carries one partial row per (task, group), not one row per
# solution — the correct 10^12-triple shape.  COUNT(DISTINCT x) plans as
# Spark's standard two-phase expand; GROUP_CONCAT collects per-group lists
# (objects sized by the group, the only agg here whose state is not O(1) —
# same caveat class as exact_dedup's id arrays, documented below).
# ---------------------------------------------------------------------------


def aggregate(
    solutions: DataFrame,
    group_by: list[str],
    aggs: dict[str, tuple],
    having: Column | None = None,
) -> DataFrame:
    """SPARQL GROUP BY + aggregates over a solution frame (the output of
    ``bgp``, or the UNION of several in ``validate.sparql.evaluate``).
    ``aggs`` maps output aliases to specs:

        ("count", "*")            COUNT(*)
        ("count", "v")            COUNT(?v)        — unbound (null) rows skipped
        ("count_distinct", "v")   COUNT(DISTINCT ?v)
        ("sum"|"avg", "v")        numeric, over try_cast(?v AS DOUBLE) — a
                                  non-numeric lexical form aggregates as
                                  unbound, never an error (matches SPARQL's
                                  type-error-drops-row semantics loosely, and
                                  stays ANSI-safe under Spark 4 defaults)
        ("min"|"max", "v")        lexicographic over the lexical form (same
                                  collation DuckDB applies to VARCHAR)
        ("sample", "v")           deterministic: MIN(?v).  SPARQL allows any
                                  group member; the minimum keeps reruns and
                                  oracle mirrors bit-stable
        ("group_concat", "v", sep) sorted-list concat: the group's values are
                                  sorted before joining, so the result is
                                  order-independent across partitionings —
                                  SPARQL leaves the order undefined, mirrors
                                  DuckDB's string_agg(... ORDER BY ...)

    ``group_by`` may be empty (a single global group, SPARQL §11.1's implicit
    group).  ``having`` filters groups after aggregation (SPARQL HAVING) —
    any Column predicate over the output aliases."""
    cols: list[Column] = []
    for alias, spec in aggs.items():
        fn, var = spec[0], spec[1]
        if fn == "count":
            c = F.count(F.lit(1)) if var == "*" else F.count(F.col(var))
        elif fn == "count_distinct":
            c = F.count_distinct(F.col(var))
        elif fn in ("sum", "avg"):
            num = F.col(var).try_cast("double")
            c = F.sum(num) if fn == "sum" else F.avg(num)
        elif fn == "min":
            c = F.min(F.col(var))
        elif fn == "max":
            c = F.max(F.col(var))
        elif fn == "sample":
            c = F.min(F.col(var))
        elif fn == "group_concat":
            sep = spec[2] if len(spec) > 2 else " "
            c = F.array_join(F.sort_array(F.collect_list(F.col(var))), sep)
        else:
            raise ValueError(f"unknown aggregate {fn!r}")
        cols.append(c.alias(alias))
    out = solutions.groupBy(*group_by).agg(*cols) if group_by else solutions.agg(*cols)
    return out.filter(having) if having is not None else out


def modifiers(
    solutions: DataFrame,
    order_by: list[str | tuple[str, str]] | None = None,
    limit: int | None = None,
    offset: int = 0,
) -> DataFrame:
    """SPARQL solution-sequence modifiers: ORDER BY, then OFFSET, then LIMIT
    (§18.5.2's slice order).  ``order_by`` entries are variable names or
    ``(name, "desc")`` pairs; nulls (unbound) sort first ascending, last
    descending — SPARQL's "unbound is lowest".

    Scale shape: ORDER BY alone is a global range-partitioned sort (sampled
    boundaries, one exchange).  ORDER BY + LIMIT k collapses to
    TakeOrderedAndProject — each task keeps a k-heap and the driver merges,
    no full sort ever materializes; OFFSET folds into the fetch as
    limit+offset heap rows.  Callers ranking "top k of 10^12" pay O(k) driver
    memory, not a terasort."""
    out = solutions
    if order_by:
        cols = []
        for entry in order_by:
            name, direction = entry if isinstance(entry, tuple) else (entry, "asc")
            c = F.col(name)
            cols.append(c.desc_nulls_last() if direction == "desc" else c.asc_nulls_first())
        out = out.orderBy(*cols)
    if offset:
        out = out.offset(offset)
    if limit is not None:
        out = out.limit(limit)
    return out
