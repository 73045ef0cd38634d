"""Driver-side SHACL shape compiler: shapes ttl → flattened constraint objects.

Shapes graphs are tiny (≤8.4k lines in the reference's Shape_30.ttl) so they are
parsed and compiled on the driver, then the compiled constraints parameterize
distributed validation plans (validate/engine.py).

Constraint workload fixed by the reference's committed shape graphs
(/root/reference/source/ShapesGraphs/): sh:targetClass, sh:targetNode (+implicit
class targets), sh:property+sh:path, sh:minCount/maxCount, sh:class, sh:node,
sh:nodeKind, sh:datatype, sh:or, sh:in, sh:not, sh:hasValue.  The reference's
nonstandard spellings (`sh:NodeKind` capital-N throughout Shape_30.ttl:772,
`sh:value` in lubm/schema2.ttl:18, `sh:manCount` typo in schema3.ttl:177) are
ignored exactly as pyshacl ignores unknown predicates — parity choice documented
in SURVEY §2.9.
"""

from __future__ import annotations

import re
from collections import defaultdict
from dataclasses import dataclass, field, replace

from re_shacl_spark.model.triples import vocab
from re_shacl_spark.query import Path as PathExpr
from re_shacl_spark.reasoning.rules import Scope

SH = vocab.SH
# one IRI atom of a query.Path expression: <iri>, or a bare token
_PATH_ATOM = re.compile(r"<([^>]*)>|([^\s^|/+*?()!<]+)")
# a PropertyConstraint's logical branches: a value conforms to sh:or if any
# branch does, to sh:and if all do, to sh:xone if exactly one does
_BRANCHES = ("or_branches", "and_branches", "xone_branches")


@dataclass
class PropertyConstraint:
    """One sh:property block (or one sh:or branch)."""

    # plain predicate IRI, or a query.Path for complex sh:path (sequence /
    # alternative / closure — compiled by _path_expr, evaluated by the engine
    # as virtual-predicate triples)
    path: "str | object | None" = None
    # sh:path [ sh:inversePath <p> ] — values are the SUBJECTS of p-edges
    # pointing AT the focus node (path holds p; traversal direction flips)
    inverse: bool = False
    min_count: int | None = None
    max_count: int | None = None
    clazz: str | None = None
    datatype: str | None = None
    node_kind: str | None = None  # SH+"IRI" | SH+"Literal" | SH+"BlankNode"...
    node_ref: str | None = None   # referenced NodeShape
    in_values: list[str] | None = None
    has_value: str | None = None
    pattern: str | None = None       # sh:pattern (regex over the string form)
    min_length: int | None = None    # sh:minLength
    max_length: int | None = None    # sh:maxLength
    # numeric range facets (sh:minInclusive/…): lexical forms kept as strings,
    # compared as doubles at evaluation time (non-numeric values violate)
    min_inclusive: str | None = None
    max_inclusive: str | None = None
    min_exclusive: str | None = None
    max_exclusive: str | None = None
    language_in: list[str] | None = None  # sh:languageIn
    unique_lang: bool = False             # sh:uniqueLang true
    # property-pair constraints: the OTHER path each kind compares against
    equals: str | None = None
    disjoint: str | None = None
    less_than: str | None = None
    less_than_or_equals: str | None = None
    # sh:qualifiedValueShape + sh:qualifiedMinCount/MaxCount: `qualified`
    # holds the value shape's inline facets; when the referenced node is a
    # declared NodeShape, compile_shapes points qualified.node_ref at it so
    # membership resolves through the sh:node conforming-set machinery
    qualified: "PropertyConstraint | None" = None
    qualified_ref: str | None = None  # raw referenced node id (ttl path only)
    q_min_count: int | None = None
    q_max_count: int | None = None
    negated: bool = False
    severity: str | None = None  # sh:severity IRI (falls back to the shape's)
    message: str | None = None   # sh:message literal
    # property-shape-level sh:sparql (SHACL §5.3 property context): $PATH in
    # the select text substitutes this constraint's plain predicate path
    sparql_constraints: list = field(default_factory=list)
    or_branches: list["PropertyConstraint"] = field(default_factory=list)
    and_branches: list["PropertyConstraint"] = field(default_factory=list)
    xone_branches: list["PropertyConstraint"] = field(default_factory=list)

    def has_value_constraints(self) -> bool:
        return any(
            x is not None
            for x in (self.clazz, self.datatype, self.node_kind, self.node_ref,
                      self.in_values, self.has_value, self.pattern,
                      self.min_length, self.max_length,
                      self.min_inclusive, self.max_inclusive,
                      self.min_exclusive, self.max_exclusive,
                      self.language_in)
        ) or bool(self.or_branches) or bool(self.and_branches) or bool(self.xone_branches)


@dataclass
class NodeShape:
    shape_id: str
    target_classes: list[str] = field(default_factory=list)
    target_nodes: list[str] = field(default_factory=list)
    # sh:targetSubjectsOf / sh:targetObjectsOf — focus nodes are the
    # subjects/objects of any triple with the named predicate
    target_subjects_of: list[str] = field(default_factory=list)
    target_objects_of: list[str] = field(default_factory=list)
    # sh:deactivated true — the shape is skipped entirely
    deactivated: bool = False
    severity: str | None = None  # shape-level sh:severity default
    message: str | None = None
    implicit_class_target: bool = False  # shape IRI doubles as rdfs/owl Class
    properties: list[PropertyConstraint] = field(default_factory=list)
    # node-level constraints attached directly to the shape (sh:class etc.)
    self_constraint: PropertyConstraint | None = None
    # node-level sh:not wrapping a PROPERTY shape (lubm/schema2.ttl:102-106:
    # `sh:not [sh:path ...; sh:minCount 1; sh:node ...]`): the focus violates
    # iff it CONFORMS to the inner property shape
    not_properties: list[PropertyConstraint] = field(default_factory=list)
    # sh:closed true — every predicate on a focus must be a declared property
    # path, an ignored property, or rdf:type
    closed: bool = False
    ignored_properties: list[str] = field(default_factory=list)
    # sh:sparql SPARQL-based constraints (SHACL §5) — restricted SELECT
    # fragment, compiled and evaluated by validate/sparql.py
    sparql_constraints: list = field(default_factory=list)
    # SHACL-AF custom SPARQL targets (sh:target [sh:select "SELECT ?this…"]);
    # sh:rule is not compiled: validation applies no inference
    sparql_targets: list = field(default_factory=list)


def _collect_list(pox: dict, head: str) -> list[str]:
    """Walk an rdf:first/rest collection starting at ``head``."""
    out = []
    cur = head
    while cur and cur != vocab.NIL:
        firsts = pox.get(cur, {}).get(vocab.FIRST, [])
        if firsts:
            out.append(firsts[0])
        rests = pox.get(cur, {}).get(vocab.REST, [])
        cur = rests[0] if rests else None
    return out


def _path_expr(node: str, pox: dict) -> str | None:
    """Compile a complex sh:path node (SHACL §2.3.1) into a query.Path
    expression string, or None for a plain predicate IRI.  Handles
    sh:inversePath, sh:alternativePath, sh:zeroOrMorePath, sh:oneOrMorePath,
    sh:zeroOrOnePath and rdf:list sequence paths, arbitrarily nested.  IRIs
    are angle-bracketed so path-operator characters inside them stay inert."""
    po = pox.get(node, {})

    def sub(n: str) -> str:
        e = _path_expr(n, pox)
        return f"({e})" if e is not None else f"<{n}>"

    if SH + "inversePath" in po:
        return "^" + sub(po[SH + "inversePath"][0])
    if SH + "alternativePath" in po:
        items = _collect_list(pox, po[SH + "alternativePath"][0])
        return "|".join(sub(i) for i in items)
    if SH + "zeroOrMorePath" in po:
        return sub(po[SH + "zeroOrMorePath"][0]) + "*"
    if SH + "oneOrMorePath" in po:
        return sub(po[SH + "oneOrMorePath"][0]) + "+"
    if SH + "zeroOrOnePath" in po:
        return sub(po[SH + "zeroOrOnePath"][0]) + "?"
    if vocab.FIRST in po:
        items = _collect_list(pox, node)
        return "/".join(sub(i) for i in items)
    return None


def _compile_property(node: str, pox: dict) -> PropertyConstraint:
    po = pox.get(node, {})

    def one(pred):
        v = po.get(SH + pred)
        return v[0] if v else None

    def num(pred):
        v = one(pred)
        return int(v) if v is not None else None

    raw_path = one("path")
    inverse = False
    if raw_path is not None:
        inv = pox.get(raw_path, {}).get(SH + "inversePath")
        if inv and _path_expr(inv[0], pox) is None:
            # single inverse of a plain predicate: the engine's native
            # inverse-join fast path (no virtual-triple materialization)
            raw_path, inverse = inv[0], True
        else:
            expr = _path_expr(raw_path, pox)
            if expr is not None:  # complex path → query.Path expression
                raw_path = PathExpr(expr)
    pc = PropertyConstraint(
        path=raw_path,
        inverse=inverse,
        min_count=num("minCount"),
        max_count=num("maxCount"),
        clazz=one("class"),
        datatype=one("datatype"),
        node_kind=one("nodeKind"),
        node_ref=one("node"),
        has_value=one("hasValue"),
        pattern=one("pattern"),
        min_length=num("minLength"),
        max_length=num("maxLength"),
        min_inclusive=one("minInclusive"),
        max_inclusive=one("maxInclusive"),
        min_exclusive=one("minExclusive"),
        max_exclusive=one("maxExclusive"),
        unique_lang=(one("uniqueLang") in ("true", "1")),
        equals=one("equals"),
        disjoint=one("disjoint"),
        less_than=one("lessThan"),
        less_than_or_equals=one("lessThanOrEquals"),
        qualified_ref=one("qualifiedValueShape"),
        q_min_count=num("qualifiedMinCount"),
        q_max_count=num("qualifiedMaxCount"),
        severity=one("severity"),
        message=one("message"),
    )
    if pc.qualified_ref:
        pc.qualified = _compile_property(pc.qualified_ref, pox)
        pc.qualified.path = None
    in_head = one("in")
    if in_head:
        pc.in_values = _collect_list(pox, in_head)
    lang_head = one("languageIn")
    if lang_head:
        pc.language_in = _collect_list(pox, lang_head)
    or_head = one("or")
    if or_head:
        pc.or_branches = [_compile_property(b, pox) for b in _collect_list(pox, or_head)]
    and_head = one("and")
    if and_head:
        pc.and_branches = [_compile_property(b, pox) for b in _collect_list(pox, and_head)]
    xone_head = one("xone")
    if xone_head:
        pc.xone_branches = [_compile_property(b, pox) for b in _collect_list(pox, xone_head)]
    not_node = one("not")
    if not_node:
        # sh:not wraps an inner constraint on the same path: fold the inner
        # value-constraints in and flip conformance (lubm/schema2.ttl:102-106)
        inner = _compile_property(not_node, pox)
        pc.negated = True
        pc.clazz = pc.clazz or inner.clazz
        pc.datatype = pc.datatype or inner.datatype
        pc.node_kind = pc.node_kind or inner.node_kind
        pc.in_values = pc.in_values or inner.in_values
        pc.has_value = pc.has_value or inner.has_value
        pc.pattern = pc.pattern or inner.pattern
        pc.min_length = pc.min_length if pc.min_length is not None else inner.min_length
        pc.max_length = pc.max_length if pc.max_length is not None else inner.max_length
    return pc


def compile_shapes(shape_triples: list[tuple]) -> list[NodeShape]:
    """shape_triples: engine-layout rows (from model/ttl.parse_ttl*)."""
    pox: dict[str, dict[str, list[str]]] = defaultdict(lambda: defaultdict(list))
    literal_vals: dict[tuple[str, str], list[str]] = defaultdict(list)
    for row in shape_triples:
        s, p, o = row[0], row[1], row[2]
        pox[s][p].append(o)
        if row[4]:  # is_lit
            literal_vals[(s, p)].append(o)

    # sh:declare prefix declarations anywhere in the shapes graph (SHACL
    # §5.2.1): `?x sh:declare [ sh:prefix "kg" ; sh:namespace "http://…" ]`.
    # Collected graph-wide and handed to every sh:sparql constraint — the
    # spec's sh:prefixes indirection collapses to "all declared prefixes",
    # a documented simplification (shapes graphs are driver-side and tiny).
    declared_prefixes: dict[str, str] = {}
    for po in pox.values():
        for dnode in po.get(SH + "declare", []):
            dp = pox.get(dnode, {})
            pfx = dp.get(SH + "prefix")
            ns_iri = dp.get(SH + "namespace")
            if pfx and ns_iri:
                declared_prefixes[pfx[0]] = ns_iri[0]

    shapes: list[NodeShape] = []
    node_shape_ids = [s for s, po in pox.items() if SH + "NodeShape" in po.get(vocab.TYPE, [])]
    # PropertyShapes declared standalone (Shape_30 style: `a sh:PropertyShape`)
    # with no owning NodeShape listing them are grouped per target via sh:path
    # only when referenced; the reference feeds them through pyshacl which treats
    # unreferenced property shapes with targets of their own — Shape_30 property
    # shapes carry no targets, so they bind via the NodeShape's sh:property.
    for sid in sorted(node_shape_ids):
        po = pox[sid]
        ns = NodeShape(
            shape_id=sid,
            target_classes=sorted(po.get(SH + "targetClass", [])),
            target_nodes=sorted(po.get(SH + "targetNode", [])),
            target_subjects_of=sorted(po.get(SH + "targetSubjectsOf", [])),
            target_objects_of=sorted(po.get(SH + "targetObjectsOf", [])),
            deactivated=(po.get(SH + "deactivated", ["false"])[0] in ("true", "1")),
            severity=(po.get(SH + "severity") or [None])[0],
            message=(po.get(SH + "message") or [None])[0],
            implicit_class_target=(
                "http://www.w3.org/2002/07/owl#Class" in po.get(vocab.TYPE, [])
                or vocab.RDFS + "Class" in po.get(vocab.TYPE, [])
            ),
            closed=(po.get(SH + "closed", ["false"])[0] in ("true", "1")),
        )
        ig_head = po.get(SH + "ignoredProperties")
        if ig_head:
            ns.ignored_properties = _collect_list(pox, ig_head[0])
        for pnode in po.get(SH + "property", []):
            pc = _compile_property(pnode, pox)
            if pc.path:
                # property-shape-level sh:sparql (SHACL §5.3): evaluated by
                # engine._sparql_violations with $PATH substituted
                for snode in pox.get(pnode, {}).get(SH + "sparql", []):
                    sp = pox.get(snode, {})
                    sel = sp.get(SH + "select")
                    if sel:
                        from re_shacl_spark.validate.sparql import (
                            SparqlConstraint,
                        )

                        pc.sparql_constraints.append(SparqlConstraint(
                            select=sel[0],
                            message=(sp.get(SH + "message") or [None])[0],
                            prefixes=dict(declared_prefixes),
                        ))
                ns.properties.append(pc)
        # node-level sh:not over a property shape (schema2's publicationAuthor
        # pattern); path-less node-level sh:not folds into the self constraint
        # via _compile_property(sid) below (negated flag)
        for nnode in po.get(SH + "not", []):
            inner = _compile_property(nnode, pox)
            if inner.path:
                ns.not_properties.append(inner)
        self_pc = _compile_property(sid, pox)
        self_pc.path = None
        if self_pc.has_value_constraints():
            ns.self_constraint = self_pc
        # sh:sparql blocks: [ sh:select """…""" ; sh:message "…" ]
        from re_shacl_spark.validate.sparql import SparqlConstraint

        for snode in po.get(SH + "sparql", []):
            sp = pox.get(snode, {})
            sel = sp.get(SH + "select")
            if sel:
                ns.sparql_constraints.append(SparqlConstraint(
                    select=sel[0],
                    message=(sp.get(SH + "message") or [None])[0],
                    prefixes=dict(declared_prefixes),
                ))
        # SHACL-AF custom targets: sh:target [ sh:select "SELECT ?this …" ]
        # (plain-IRI sh:target objects without sh:select are ignored — the
        # instances-of-target-class indirection is out of fragment scope)
        for tnode in po.get(SH + "target", []):
            sel = pox.get(tnode, {}).get(SH + "select")
            if sel:
                ns.sparql_targets.append(SparqlConstraint(
                    select=sel[0], prefixes=dict(declared_prefixes),
                ))
        shapes.append(ns)
    # a sh:qualifiedValueShape naming a DECLARED NodeShape resolves membership
    # through the sh:node conforming-set machinery (engine._resolve_node_refs)
    declared = {s.shape_id for s in shapes}
    for ns in shapes:
        all_pcs = list(ns.properties) + list(ns.not_properties)
        if ns.self_constraint:
            all_pcs.append(ns.self_constraint)
        for pc in all_pcs:
            if pc.qualified is not None and pc.qualified_ref in declared:
                pc.qualified.node_ref = pc.qualified_ref
    return shapes


def _all_pcs(ns: NodeShape) -> list[PropertyConstraint]:
    out = list(ns.properties) + list(ns.not_properties)
    if ns.self_constraint:
        out.append(ns.self_constraint)
    return out


def _sub_pcs(pc: PropertyConstraint) -> list[PropertyConstraint]:
    """A constraint plus every branch row it explodes into (or / and / xone /
    qualifiedValueShape) — all of which may carry sh:node references."""
    subs = [pc] + pc.or_branches + pc.and_branches + pc.xone_branches
    if pc.qualified is not None:
        subs.append(pc.qualified)
    return subs


def shape_scope(shapes: list[NodeShape]) -> Scope:
    """The classes and properties the active shapes read — the reference's
    target extraction (re_shacl.py:637-690): target classes (explicit and
    implicit), every sh:class (branches included), and every property that a
    path (complex ones by their atoms), a property pair or a
    targetSubjectsOf/ObjectsOf names.  A shape that reads any predicate
    (sh:closed, sh:sparql, a SHACL-AF target, a negated property set) leaves
    the scope unrestricted; a path over rdf:type reads any class, so it
    leaves the classes unrestricted."""
    classes: set[str] = set()
    props: set[str] = set()
    for ns in shapes:
        if ns.deactivated:
            continue
        if ns.closed or ns.sparql_constraints or ns.sparql_targets:
            return Scope()
        classes.update(ns.target_classes)
        if ns.implicit_class_target:
            classes.add(ns.shape_id)
        props.update(ns.target_subjects_of, ns.target_objects_of)
        for x in (x for pc in _all_pcs(ns) for x in _sub_pcs(pc)):
            if x.sparql_constraints:
                return Scope()
            if x.clazz:
                classes.add(x.clazz)
            props.update(
                q for q in (x.equals, x.disjoint, x.less_than, x.less_than_or_equals) if q
            )
            if isinstance(x.path, PathExpr):
                if "!" in _PATH_ATOM.sub("", x.path.expr):
                    return Scope()
                props.update(a or b for a, b in _PATH_ATOM.findall(x.path.expr))
            elif x.path:
                props.add(x.path)
    return Scope(None if vocab.TYPE in props else classes, props)


def shape_nodes(shapes: list[NodeShape]) -> list[str]:
    """The node IRIs the shapes name — sh:targetNode, sh:hasValue and sh:in
    entries — whose owl:sameAs reps ``rewrite_shapes`` needs."""
    return sorted(
        {n for ns in shapes for n in ns.target_nodes}
        | {
            v
            for ns in shapes
            for pc in _all_pcs(ns)
            for x in _sub_pcs(pc)
            for v in [x.has_value, *(x.in_values or [])]
            if v
        }
    )


def rewrite_shapes(
    shapes: list[NodeShape], node_rep: dict[str, str], class_rep: dict[str, str],
    prop_rep: dict[str, str],
) -> list[NodeShape]:
    """The shapes in the fused graph's ids, as the reference rewrites sh:path
    (re_shacl.py:545-552) and sh:targetNode (:598-602).  Every graph term a
    shape names, complex-path atoms included, goes through the class/property
    equivalence reps and then the owl:sameAs ``node_rep``, in the order
    ``fuse`` renamed the graph; an implicit class target becomes explicit.
    Shape ids, sh:node refs and sh:sparql texts stay as written.

    Report convention: violations name reps; the fused ``rep_map``
    translates them back to the members."""

    def term(x):
        x = class_rep.get(x, prop_rep.get(x, x))
        return node_rep.get(x, x)

    def atom(m: re.Match) -> str:
        iri = m[1] or m[2]
        return m[0] if term(iri) == iri else f"<{term(iri)}>"

    def path(x):
        return replace(x, expr=_PATH_ATOM.sub(atom, x.expr)) if isinstance(x, PathExpr) else term(x)

    def rw_pc(pc: PropertyConstraint | None) -> PropertyConstraint | None:
        if pc is None:
            return None
        terms = ("clazz", "has_value", "equals", "disjoint", "less_than", "less_than_or_equals")
        return replace(
            pc,
            path=path(pc.path),
            in_values=pc.in_values and [term(v) for v in pc.in_values],
            qualified=rw_pc(pc.qualified),
            **{f: term(getattr(pc, f)) for f in terms},
            **{b: [rw_pc(x) for x in getattr(pc, b)] for b in _BRANCHES},
        )

    targets = ("target_nodes", "target_subjects_of", "target_objects_of")
    return [
        replace(
            ns,
            target_classes=sorted(
                {term(c) for c in ns.target_classes + [ns.shape_id] * ns.implicit_class_target}
            ),
            implicit_class_target=False,
            **{f: sorted({term(x) for x in getattr(ns, f)}) for f in targets},
            properties=[rw_pc(pc) for pc in ns.properties],
            not_properties=[rw_pc(pc) for pc in ns.not_properties],
            self_constraint=rw_pc(ns.self_constraint),
            ignored_properties=[term(p) for p in ns.ignored_properties],
        )
        for ns in shapes
    ]
