"""Driver-side TBox index: equivalence components + transitive closures, broadcast
to executors as small maps.

The reference computes these memoized maps inside its Python engine
(/root/reference/src/core/merging/class_merging.py:109-131 superclass map,
src/utils/property_closure.py:7-26 superproperty map, scm-dom2/rng2 at
ReSHACL/re_shacl.py:499-503).  TBox graphs are tiny (KBs-MBs) next to the ABox
(TBs), so the Spark-correct design is: collect the ontology-predicate subset once,
close it on the driver in plain Python, and broadcast the resulting maps into
every rule join.  Nothing here shuffles.
"""

from __future__ import annotations

from collections import defaultdict
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from re_shacl_spark.model.triples import (
    CHARACTERISTIC_CLASSES,
    TBOX_PREDICATES,
    vocab,
)


class _UnionFind:
    """Union-find with deterministic min-element representative election.

    Replaces the reference's iteration-order-dependent representative choice
    (set iteration at ReSHACL/re_shacl.py:694,710) with min-IRI — required for
    run-to-run and parallelism-level determinism (SURVEY §2.6).
    """

    def __init__(self):
        self.parent: dict[str, str] = {}

    def find(self, x: str) -> str:
        p = self.parent.setdefault(x, x)
        if p != x:
            self.parent[x] = p = self.find(p)
        return p

    def union(self, a: str, b: str) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra == rb:
            return
        lo, hi = (ra, rb) if ra < rb else (rb, ra)
        self.parent[hi] = lo

    def rep_map(self) -> dict[str, str]:
        return {x: self.find(x) for x in list(self.parent)}


def _transitive_closure(edges: dict[str, set[str]]) -> dict[str, set[str]]:
    """supers[c] = all nodes reachable via edges (strict; cycles collapse to mutual
    membership).  TBox-sized inputs only — O(V*E) worst case is fine here."""
    out: dict[str, set[str]] = {}

    def dfs(c: str) -> set[str]:
        if c in out:
            return out[c]
        out[c] = set()  # cycle guard: on re-entry return partial (completed below)
        acc: set[str] = set()
        for nxt in edges.get(c, ()):
            acc.add(nxt)
            acc |= dfs(nxt)
        out[c] = acc
        return acc

    for c in list(edges):
        dfs(c)
    # cycles: rerun once so back-edges see complete sets
    for c in list(edges):
        acc = set()
        for nxt in edges.get(c, ()):
            acc.add(nxt)
            acc |= out.get(nxt, set())
        out[c] = acc | out[c]
    return {c: s - {c} for c, s in out.items()}


@dataclass
class TBoxIndex:
    """All broadcast-side reasoning state, canonicalized through equivalence reps."""

    class_rep: dict[str, str] = field(default_factory=dict)   # cls -> canonical cls
    prop_rep: dict[str, str] = field(default_factory=dict)    # prop -> canonical prop
    superclasses: dict[str, set[str]] = field(default_factory=dict)   # strict supers
    superprops: dict[str, set[str]] = field(default_factory=dict)
    domain: dict[str, set[str]] = field(default_factory=dict)  # prop -> classes
    range: dict[str, set[str]] = field(default_factory=dict)
    inverses: dict[str, set[str]] = field(default_factory=dict)  # symmetric pairs
    symmetric: set[str] = field(default_factory=set)
    asymmetric: set[str] = field(default_factory=set)
    transitive: set[str] = field(default_factory=set)
    functional: set[str] = field(default_factory=set)
    inverse_functional: set[str] = field(default_factory=set)
    irreflexive: set[str] = field(default_factory=set)
    disjoint_classes: set[tuple[str, str]] = field(default_factory=set)  # sorted pairs
    disjoint_props: set[tuple[str, str]] = field(default_factory=set)
    complement: set[tuple[str, str]] = field(default_factory=set)
    # the axiom rows the index was built from: an incremental fuse keeps the
    # base's index instead of re-extracting it from the fused graph, where
    # the collapsed equivalence axioms no longer appear; not part of equality,
    # which compares what the rows entail
    rows: list[tuple[str, str, str]] = field(default_factory=list, compare=False)

    # -- canonicalization helpers ---------------------------------------------
    def c(self, cls: str) -> str:
        return self.class_rep.get(cls, cls)

    def p(self, prop: str) -> str:
        return self.prop_rep.get(prop, prop)

    # -- derived views for rule joins ------------------------------------------
    def subclass_closure_pairs(self) -> list[tuple[str, str]]:
        """(cls, strict_super) pairs, canonical ids."""
        return [(c, s) for c, sups in self.superclasses.items() for s in sups]

    def subprop_closure_pairs(self) -> list[tuple[str, str]]:
        return [(p, s) for p, sups in self.superprops.items() for s in sups]

    def domain_pairs(self) -> list[tuple[str, str]]:
        return [(p, c) for p, cs in self.domain.items() for c in cs]

    def range_pairs(self) -> list[tuple[str, str]]:
        return [(p, c) for p, cs in self.range.items() for c in cs]

    def inverse_pairs(self) -> list[tuple[str, str]]:
        return [(p, q) for p, qs in self.inverses.items() for q in qs]

    def class_rep_pairs(self) -> list[tuple[str, str]]:
        return [(c, r) for c, r in self.class_rep.items() if c != r]

    def prop_rep_pairs(self) -> list[tuple[str, str]]:
        return [(p, r) for p, r in self.prop_rep.items() if p != r]

    def equivalence_rows(self) -> list[tuple[str, str, str]]:
        """One (member, owl:equivalentClass|equivalentProperty, rep) row per
        collapsed term: rebuilding from these restores ``class_rep`` and
        ``prop_rep`` after the graph itself lost the collapsed axioms."""
        return [(c, vocab.EQCLASS, r) for c, r in self.class_rep_pairs()] + [
            (p, vocab.EQPROP, r) for p, r in self.prop_rep_pairs()
        ]

    def subclasses_of(self, cls: str) -> set[str]:
        """cls + everything below it (for sh:targetClass expansion)."""
        cls = self.c(cls)
        down = {cls}
        for c, sups in self.superclasses.items():
            if cls in sups:
                down.add(c)
        return down


def is_tbox_row() -> Column:
    """The rows ``extract_tbox`` collects: axioms and property characteristics."""
    return ~F.col("is_lit") & (
        F.col("p").isin(TBOX_PREDICATES)
        | ((F.col("p") == vocab.TYPE) & F.col("o").isin(CHARACTERISTIC_CLASSES))
    )


def extract_tbox(triples: DataFrame) -> list[tuple[str, str, str]]:
    """Pull the (small) ontology subset out of the triple store.

    One predicate-selective scan — Catalyst pushes the isin() filter to parquet.
    """
    rows = triples.filter(is_tbox_row()).select("s", "p", "o").distinct().collect()
    return [(r.s, r.p, r.o) for r in rows]


def build_tbox_index(
    tbox_triples: list[tuple[str, str, str]],
    rdfs_mode: bool = False,
    eq_as_edges: bool = False,
) -> TBoxIndex:
    """Close the TBox: equivalence components, subclass/subproperty transitive
    closures, domain/range inheritance, characteristics union across equivalents.

    Rule coverage (reference sites): scm-eqc/eqp components (re_shacl.py:428-473,
    511-554), scm-sco/spo closures (class_merging.py:109-131,
    property_closure.py:7-26), scm-dom2/rng2 (re_shacl.py:499-503).

    ``eq_as_edges`` keeps OWL characteristics but renders equivalence as
    mutual sub-edges (no representative merging) — the expansion-only ablation
    (re_shacl_withoutM.py:635-788) needs exactly this view.

    ``rdfs_mode`` mirrors the reference's RDFS-profile engine
    (ReSHACL/re_shacl_rdfs.py:157-168): equivalence becomes MUTUAL
    subclass/subproperty edges instead of representative merging, and the OWL
    characteristic/inverse/disjoint axioms are left uninterpreted.
    """
    idx = TBoxIndex(rows=list(tbox_triples))

    cls_uf, prop_uf = _UnionFind(), _UnionFind()
    sub_cls: dict[str, set[str]] = defaultdict(set)
    sub_prop: dict[str, set[str]] = defaultdict(set)
    raw_domain: dict[str, set[str]] = defaultdict(set)
    raw_range: dict[str, set[str]] = defaultdict(set)
    raw_inv: list[tuple[str, str]] = []
    char: dict[str, set[str]] = defaultdict(set)  # characteristic-class -> props

    for s, p, o in idx.rows:
        if p == vocab.EQCLASS:
            if rdfs_mode or eq_as_edges:  # scm-eqc as mutual subclass, no merging
                if s != o:
                    sub_cls[s].add(o)
                    sub_cls[o].add(s)
            else:
                cls_uf.union(s, o)
        elif p == vocab.EQPROP:
            if rdfs_mode or eq_as_edges:
                if s != o:
                    sub_prop[s].add(o)
                    sub_prop[o].add(s)
            else:
                prop_uf.union(s, o)
        elif p == vocab.SUBCLASS:
            if s != o:
                sub_cls[s].add(o)
        elif p == vocab.SUBPROP:
            if s != o:
                sub_prop[s].add(o)
        elif p == vocab.DOMAIN:
            raw_domain[s].add(o)
        elif p == vocab.RANGE:
            raw_range[s].add(o)
        elif p == vocab.INVERSEOF:
            raw_inv.append((s, o))
        elif p == vocab.DISJOINTWITH:
            idx.disjoint_classes.add(tuple(sorted((s, o))))
        elif p == vocab.PROPDISJOINTWITH:
            idx.disjoint_props.add(tuple(sorted((s, o))))
        elif p == vocab.COMPLEMENTOF:
            idx.complement.add(tuple(sorted((s, o))))
        elif p == vocab.TYPE:
            char[o].add(s)

    # mutual subclass (c <-> d) is equivalence (scm-eqc2); fold into components
    # (OWL-merge profile only — RDFS/expansion keep cycles, types flow both ways)
    if not (rdfs_mode or eq_as_edges):
        for c, sups in sub_cls.items():
            for d in sups:
                if c in sub_cls.get(d, ()):
                    cls_uf.union(c, d)
        for c, sups in sub_prop.items():
            for d in sups:
                if c in sub_prop.get(d, ()):
                    prop_uf.union(c, d)

    idx.class_rep = cls_uf.rep_map()
    idx.prop_rep = prop_uf.rep_map()

    # canonicalize edge maps through reps, drop self-edges created by the collapse
    def canon_edges(edges: dict[str, set[str]], rep) -> dict[str, set[str]]:
        out: dict[str, set[str]] = defaultdict(set)
        for a, bs in edges.items():
            ca = rep(a)
            for b in bs:
                cb = rep(b)
                if ca != cb:
                    out[ca].add(cb)
        return out

    idx.superclasses = _transitive_closure(canon_edges(sub_cls, lambda x: idx.class_rep.get(x, x)))
    idx.superprops = _transitive_closure(canon_edges(sub_prop, lambda x: idx.prop_rep.get(x, x)))

    prep = lambda x: idx.prop_rep.get(x, x)  # noqa: E731
    crep = lambda x: idx.class_rep.get(x, x)  # noqa: E731

    for p0, cs in raw_domain.items():
        idx.domain.setdefault(prep(p0), set()).update(crep(c0) for c0 in cs)
    for p0, cs in raw_range.items():
        idx.range.setdefault(prep(p0), set()).update(crep(c0) for c0 in cs)

    # scm-dom2 / scm-rng2: p ⊑ q  ⇒  p inherits q's domain/range
    for p0, sups in idx.superprops.items():
        for q in sups:
            if q in idx.domain:
                idx.domain.setdefault(p0, set()).update(idx.domain[q])
            if q in idx.range:
                idx.range.setdefault(p0, set()).update(idx.range[q])

    for a, b in raw_inv:
        ca, cb = prep(a), prep(b)
        idx.inverses.setdefault(ca, set()).add(cb)
        idx.inverses.setdefault(cb, set()).add(ca)

    if not rdfs_mode:  # OWL characteristics are uninterpreted under RDFS
        idx.symmetric = {prep(x) for x in char.get(vocab.SYMMETRIC, ())}
        idx.asymmetric = {prep(x) for x in char.get(vocab.ASYMMETRIC, ())}
        idx.transitive = {prep(x) for x in char.get(vocab.TRANSITIVE, ())}
        idx.functional = {prep(x) for x in char.get(vocab.FUNCTIONAL, ())}
        idx.inverse_functional = {prep(x) for x in char.get(vocab.INVERSEFUNCTIONAL, ())}
        idx.irreflexive = {prep(x) for x in char.get(vocab.IRREFLEXIVE, ())}

    idx.disjoint_classes = {tuple(sorted((crep(a), crep(b)))) for a, b in idx.disjoint_classes}
    idx.disjoint_props = {tuple(sorted((prep(a), prep(b)))) for a, b in idx.disjoint_props}
    idx.complement = {tuple(sorted((crep(a), crep(b)))) for a, b in idx.complement}
    if rdfs_mode:  # owl:inverseOf / disjointness are uninterpreted under RDFS
        idx.inverses = {}
        idx.disjoint_classes = set()
        idx.disjoint_props = set()
        idx.complement = set()
    return idx
