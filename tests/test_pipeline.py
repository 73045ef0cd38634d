"""End-to-end fusion parity vs the naive oracle on the reference's own fixture
(/root/reference/source/Datasets/test.ttl — equivalence loop, subclass chain,
domain/range, subproperty+equivalentProperty, sameAs chain, inverseOf,
reflexive type) plus synthetic rule-coverage fixtures.

Contract: canonical (s,p,o) set equality excluding owl:sameAs provenance rows
→ precision = recall = 1.0 ≥ the 0.95 target in BASELINE.json.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from re_shacl_spark.model.triples import triples_df, vocab
from re_shacl_spark.model.ttl import parse_ttl_file, parse_ttl
from re_shacl_spark.pipeline import fuse, fuse_expand
from re_shacl_spark.reasoning.checks import FusionError

from tests.naive_oracle import oracle_fuse

TEST_TTL = "/root/reference/source/Datasets/test.ttl"


def _fuse_and_compare(spark, rows):
    df = triples_df(spark, rows)
    res = fuse(spark, df)
    got = {
        (r.s, r.p, r.o, r.is_lit)
        for r in res.triples.collect()
        if r.p != vocab.SAMEAS  # provenance compared separately via rep maps
    }
    oracle_in = {(s, p, o, is_lit) for (s, p, o, _olit, is_lit, _src) in rows}
    want, want_rep = oracle_fuse(oracle_in)
    want = {t for t in want if t[1] != vocab.SAMEAS}

    missing, extra = want - got, got - want
    assert not missing and not extra, f"missing={sorted(missing)[:10]} extra={sorted(extra)[:10]}"

    got_rep = {r.member: r.rep for r in res.rep_map.collect()}
    got_rep.update({k: v for k, v in res.tbox.class_rep.items() if k != v})
    got_rep.update({k: v for k, v in res.tbox.prop_rep.items() if k != v})
    assert got_rep == want_rep
    return res


def test_reference_fixture_parity(spark):
    rows = parse_ttl_file(TEST_TTL)
    res = _fuse_and_compare(spark, rows)
    # the sameAs chain john=jonathan=johnny collapses to min IRI 'john'
    ex = "http://example.org/"
    reps = {r.member: r.rep for r in res.rep_map.collect()}
    assert reps == {ex + "jonathan": ex + "john", ex + "johnny": ex + "john"}
    # equivalence loop Person≡Human≡Entity≡Being collapses to Being (min IRI)
    assert res.tbox.c(ex + "Person") == ex + "Being"
    # derived: john knows mary (connectedWith≡relatedTo ⊑ knows), inverse hasFriend
    triples = {(r.s, r.p, r.o) for r in res.triples.collect()}
    assert (ex + "john", ex + "knows", ex + "mary") in triples
    assert (ex + "mary", ex + "hasFriend", ex + "john") in triples
    # domain/range typing + subclass chain up to Mortal
    assert (ex + "mary", vocab.TYPE, ex + "Being") in triples
    assert (ex + "john", vocab.TYPE, ex + "Mortal") in triples


def test_functional_property_sameas(spark):
    ttl = """
    @prefix : <http://x.org/> .
    @prefix owl: <http://www.w3.org/2002/07/owl#> .
    :bornIn a owl:FunctionalProperty .
    :p1 :bornIn :cityA .
    :p1 :bornIn :cityB .
    :cityA :population :big .
    """
    rows = parse_ttl(ttl)
    res = _fuse_and_compare(spark, rows)
    reps = {r.member: r.rep for r in res.rep_map.collect()}
    assert reps == {"http://x.org/cityB": "http://x.org/cityA"}
    triples = {(r.s, r.p, r.o) for r in res.triples.collect()}
    assert ("http://x.org/p1", "http://x.org/bornIn", "http://x.org/cityA") in triples
    assert ("http://x.org/p1", "http://x.org/bornIn", "http://x.org/cityB") not in triples


def test_inverse_functional_hub(spark):
    ttl = """
    @prefix : <http://x.org/> .
    @prefix owl: <http://www.w3.org/2002/07/owl#> .
    :email a owl:InverseFunctionalProperty .
    :a1 :email :m . :a2 :email :m . :a3 :email :m .
    """
    res = _fuse_and_compare(spark, parse_ttl(ttl))
    reps = {r.member: r.rep for r in res.rep_map.collect()}
    assert reps == {"http://x.org/a2": "http://x.org/a1", "http://x.org/a3": "http://x.org/a1"}


def test_transitive_symmetric(spark):
    ttl = """
    @prefix : <http://x.org/> .
    @prefix owl: <http://www.w3.org/2002/07/owl#> .
    :partOf a owl:TransitiveProperty .
    :near a owl:SymmetricProperty .
    :a :partOf :b . :b :partOf :c . :c :partOf :d .
    :x :near :y .
    """
    res = _fuse_and_compare(spark, parse_ttl(ttl))
    triples = {(r.s, r.p, r.o) for r in res.triples.collect()}
    assert ("http://x.org/a", "http://x.org/partOf", "http://x.org/d") in triples
    assert ("http://x.org/y", "http://x.org/near", "http://x.org/x") in triples


def test_disjoint_violation_raises(spark):
    ttl = """
    @prefix : <http://x.org/> .
    @prefix owl: <http://www.w3.org/2002/07/owl#> .
    :Cat owl:disjointWith :Dog .
    :rex a :Cat . :rex a :Dog .
    """
    df = triples_df(spark, parse_ttl(ttl))
    with pytest.raises(FusionError):
        fuse(spark, df)


def test_same_different_violation_raises_after_merge(spark):
    """eq-diff1: a sameAs b ∧ a differentFrom b is inconsistent.  The check
    runs after canonicalization, which has rewritten the differentFrom row
    to (a differentFrom a)."""
    ttl = """
    @prefix : <http://x.org/> .
    @prefix owl: <http://www.w3.org/2002/07/owl#> .
    :a owl:differentFrom :b .
    :a owl:sameAs :b .
    """
    df = triples_df(spark, parse_ttl(ttl))
    with pytest.raises(FusionError, match="same_different"):
        fuse(spark, df)


def test_sameas_merges_through_equivalent_classes(spark):
    """sameAs chain + class equivalence interact: merged node keeps union of types."""
    ttl = """
    @prefix : <http://x.org/> .
    @prefix owl: <http://www.w3.org/2002/07/owl#> .
    :A owl:equivalentClass :B .
    :n1 a :A . :n2 a :B .
    :n1 owl:sameAs :n2 .
    """
    res = _fuse_and_compare(spark, parse_ttl(ttl))
    triples = {(r.s, r.p, r.o) for r in res.triples.collect()}
    assert ("http://x.org/n1", vocab.TYPE, "http://x.org/A") in triples


_DET_SNIPPET = """
import sys, hashlib
sys.path.insert(0, {repo!r})
from re_shacl_spark.session import get_spark
from re_shacl_spark.model.triples import triples_df
from re_shacl_spark.model.ttl import parse_ttl_file
from re_shacl_spark.pipeline import fuse
n = int(sys.argv[1])
s = get_spark(f"det-{{n}}", master=f"local[{{n}}]", shuffle_partitions=n)
s.sparkContext.setLogLevel("ERROR")
res = fuse(s, triples_df(s, parse_ttl_file({ttl!r})))
rows = sorted((r.s, r.p, r.o, r.is_lit) for r in res.triples.collect())
print("DIGEST", hashlib.sha256(repr(rows).encode()).hexdigest())
"""


def test_determinism_two_parallelism_levels():
    """Same input at local[2] and local[8] → byte-identical canonical output.
    Stronger than the reference, whose representative choice is iteration-order
    dependent (SURVEY §2.6).  Each level runs in its own subprocess: stopping a
    SparkSession in-process would kill the shared JVM context for the whole
    pytest session."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = _DET_SNIPPET.format(repo=repo, ttl=TEST_TTL)
    digests = []
    for n in (2, 8):
        out = subprocess.run(
            [sys.executable, "-c", code, str(n)], capture_output=True, text=True, timeout=600
        )
        lines = [ln for ln in out.stdout.splitlines() if ln.startswith("DIGEST ")]
        assert lines, f"no digest at local[{n}]: {out.stderr[-2000:]}"
        digests.append(lines[-1])
    assert digests[0] == digests[1]


def test_transitive_distributed_path_matches_driver(spark):
    """Force the doubling self-join (cap=0) and compare with the driver BFS."""
    from re_shacl_spark.reasoning.rules import RuleEngine, Scope
    from re_shacl_spark.reasoning.tbox import build_tbox_index, extract_tbox
    from re_shacl_spark.model.triples import vocab

    ttl = """
    @prefix : <http://x.org/> .
    @prefix owl: <http://www.w3.org/2002/07/owl#> .
    :partOf a owl:TransitiveProperty .
    """
    rows = parse_ttl(ttl)
    rows += [(f"http://x.org/n{i}", "http://x.org/partOf", f"http://x.org/n{i+1}", None, False, None)
             for i in range(40)]
    rows += [(f"http://x.org/m{i}", "http://x.org/partOf", f"http://x.org/m{(i*3+1) % 20}", None, False, None)
             for i in range(20)]
    df = triples_df(spark, rows)
    tbox = build_tbox_index(extract_tbox(df))
    eng = RuleEngine(spark, tbox, Scope.unrestricted())
    driver = {(r.s, r.p, r.o) for r in eng.rule_transitive(df).collect()}
    eng2 = RuleEngine(spark, tbox, Scope.unrestricted())
    eng2.TRANSITIVE_DRIVER_EDGE_CAP = 0
    dist = {(r.s, r.p, r.o) for r in eng2.rule_transitive(df).collect()}
    assert driver == dist and len(driver) > 60


def test_sameas_merge_of_tbox_terms_rebuilds_index(spark):
    """sameAs can rename CLASS/PROPERTY IRIs.  When the representative is a
    name the original TBox never mentioned, the driver-closed maps are stale —
    fuse must rebuild them from the rewritten graph or lose derivations."""
    ttl = """
    @prefix : <http://x.org/> .
    @prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
    @prefix owl: <http://www.w3.org/2002/07/owl#> .
    :Zcls rdfs:subClassOf :Base .
    :A0 owl:sameAs :Zcls .
    :item a :A0 .
    :qprop rdfs:subPropertyOf :super .
    :b0 owl:sameAs :qprop .
    :x :b0 :y .
    """
    res = fuse(spark, triples_df(spark, parse_ttl(ttl)))
    triples = {(r.s, r.p, r.o) for r in res.triples.collect()}
    X = "http://x.org/"
    # Zcls merged INTO A0 (min IRI); its subclass axiom must follow
    assert (X + "item", vocab.TYPE, X + "Base") in triples
    assert (X + "A0", "http://www.w3.org/2000/01/rdf-schema#subClassOf", X + "Base") in triples
    # qprop merged INTO b0; its subproperty axiom must follow
    assert (X + "x", X + "super", X + "y") in triples


def test_sameas_merge_into_tbox_term_rederives(spark):
    """Rep-side gate (ADVICE r1): when a NON-TBox IRI merges INTO a TBox term
    (the rep IS the TBox term, lexicographic min), the rewrite lands rows on
    that term only in the accumulated graph, never in the delta — delta-fed
    linear rules must be re-run over the full graph or the closure is silently
    incomplete."""
    ttl = """
    @prefix : <http://x.org/> .
    @prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
    @prefix owl: <http://www.w3.org/2002/07/owl#> .
    :a_p rdfs:domain :C .
    :x :z_q :y .
    :z_q owl:sameAs :a_p .
    """
    res = _fuse_and_compare(spark, parse_ttl(ttl))
    triples = {(r.s, r.p, r.o) for r in res.triples.collect()}
    X = "http://x.org/"
    # z_q merged INTO a_p (min IRI = the TBox term) → domain rule must fire
    # on the rewritten (x, a_p, y) row
    assert (X + "x", X + "a_p", X + "y") in triples
    assert (X + "x", vocab.TYPE, X + "C") in triples


def _naive_rdfs_closure(rows):
    """Independent RDFS-only oracle (rdfs2/3/7/9 + scm-sco/spo closure
    materialization, equivalence as mutual sub-edges, everything else — sameAs,
    inverse, symmetric, transitive, functional — uninterpreted), mirroring
    /root/reference/ReSHACL/re_shacl_rdfs_withoutM.py:127-145."""
    from collections import defaultdict

    triples = {(s, p, o, is_lit) for (s, p, o, _ol, is_lit, _src) in rows}
    subp, subc = defaultdict(set), defaultdict(set)
    dom, rng = defaultdict(set), defaultdict(set)
    for s, p, o, _ in triples:
        if p == vocab.SUBPROP and s != o:
            subp[s].add(o)
        elif p == vocab.SUBCLASS and s != o:
            subc[s].add(o)
        elif p == vocab.EQPROP and s != o:
            subp[s].add(o); subp[o].add(s)
        elif p == vocab.EQCLASS and s != o:
            subc[s].add(o); subc[o].add(s)
        elif p == vocab.DOMAIN:
            dom[s].add(o)
        elif p == vocab.RANGE:
            rng[s].add(o)

    def close(edges):
        out = defaultdict(set)
        for a in list(edges):
            stack, seen = [a], set()
            while stack:
                x = stack.pop()
                for b in edges.get(x, ()):
                    if b not in seen:
                        seen.add(b); stack.append(b)
            out[a] = seen - {a}
        return out

    subp_c, subc_c = close(subp), close(subc)
    for a, bs in subp_c.items():
        for b in bs:
            triples.add((a, vocab.SUBPROP, b, False))
    for a, bs in subc_c.items():
        for b in bs:
            triples.add((a, vocab.SUBCLASS, b, False))
    # rdfs7 (prop edges up), then rdfs2/3, then rdfs9 — this order is a
    # single-pass fixpoint for these linear rules
    for s, p, o, is_lit in list(triples):
        for q in subp_c.get(p, ()):
            triples.add((s, q, o, is_lit))
    for s, p, o, is_lit in list(triples):
        for c in dom.get(p, ()):
            triples.add((s, vocab.TYPE, c, False))
        if not is_lit:
            for c in rng.get(p, ()):
                triples.add((o, vocab.TYPE, c, False))
    for s, p, o, is_lit in list(triples):
        if p == vocab.TYPE:
            for d in subc_c.get(o, ()):
                triples.add((s, vocab.TYPE, d, False))
    return triples


def test_rdfs_profile_parity_on_reference_fixture(spark):
    rows = parse_ttl_file(TEST_TTL)
    res = fuse(spark, triples_df(spark, rows), profile="rdfs")
    got = {(r.s, r.p, r.o, r.is_lit) for r in res.triples.collect()}
    want = _naive_rdfs_closure(rows)
    missing, extra = want - got, got - want
    assert not missing and not extra, f"missing={sorted(missing)[:8]} extra={sorted(extra)[:8]}"
    # no merging happened: rep map empty, sameAs rows survive uninterpreted
    assert res.rep_map.isEmpty()
    ex = "http://example.org/"
    assert (ex + "john", vocab.SAMEAS, ex + "jonathan", False) in got
    # equivalence flows types both ways but renames nothing
    assert res.tbox.class_rep == {}


def test_rdfs_expand_arm_matches_naive_closure(spark):
    """The fourth method-matrix arm (rdfs x withoutM, VERDICT r3 #6 —
    ReSHACL/re_shacl_rdfs_withoutM.py:127-145): with sameAs uninterpreted the
    RDFS closure is merge-free BY CONSTRUCTION, so the expansion arm must
    coincide with both the naive rdfs closure and the merged rdfs arm."""
    rows = parse_ttl_file(TEST_TTL)
    res = fuse_expand(spark, triples_df(spark, rows), profile="rdfs")
    got = {(r.s, r.p, r.o, r.is_lit) for r in res.triples.collect()}
    want = _naive_rdfs_closure(rows)
    missing, extra = want - got, got - want
    assert not missing and not extra, f"missing={sorted(missing)[:8]} extra={sorted(extra)[:8]}"
    # sameAs edges survive uninterpreted, and no component copy-through ran
    merged = fuse(spark, triples_df(spark, rows), profile="rdfs")
    assert got == {(r.s, r.p, r.o, r.is_lit) for r in merged.triples.collect()}


def test_expansion_ablation_matches_naive_preclosure(spark):
    """fuse_expand (the withoutM ablation) must reproduce the naive oracle's
    PRE-quotient expansion closure exactly, and its canonical projection must
    equal merge-mode fuse() — the confluence claim merging relies on."""
    from tests.naive_oracle import canonicalize as naive_canonicalize, naive_closure

    rows = parse_ttl_file(TEST_TTL)
    res = fuse_expand(spark, triples_df(spark, rows))
    got = {(r.s, r.p, r.o, r.is_lit) for r in res.triples.collect()}
    want = naive_closure({(s, p, o, L) for (s, p, o, _ol, L, _src) in rows})
    missing, extra = want - got, got - want
    assert not missing and not extra, f"missing={sorted(missing)[:8]} extra={sorted(extra)[:8]}"

    # expansion strictly blows the graph up vs the merged form (A1 ablation)
    merged = fuse(spark, triples_df(spark, rows), emit_sameas_provenance=False)
    n_merged = merged.triples.count()
    assert len(got) > n_merged

    # confluence: quotient of the expanded graph == merged graph (sans sameAs)
    proj, _ = naive_canonicalize(got)
    proj = {t for t in proj if t[1] != vocab.SAMEAS}
    merged_set = {
        (r.s, r.p, r.o, r.is_lit) for r in merged.triples.collect() if r.p != vocab.SAMEAS
    }
    assert proj == merged_set


def test_full_materialization_arm(spark):
    """fuse_full (the reference's inter_graph arm): expansion closure + the
    rdfs4a/4b + rdf1 axiomatic typing layer, with the strict size ordering
    merged < expanded < full on a sameAs-bearing input."""
    from re_shacl_spark.pipeline import fuse_full

    rows = parse_ttl_file(TEST_TTL)
    t = triples_df(spark, rows)
    full = fuse_full(spark, t)
    got = {(r.s, r.p, r.o) for r in full.triples.collect()}

    resource = vocab.RDFS + "Resource"
    prop = vocab.RDF + "Property"
    expanded = {(r.s, r.p, r.o) for r in fuse_expand(spark, t).triples.collect()}
    # every subject, predicate and non-literal object of the expanded closure
    # is typed rdfs:Resource; every predicate rdf:Property — and nothing else
    subs = {s for s, _, _ in expanded}
    preds = {p for p, in {(p,) for _, p, _ in expanded}} | {vocab.TYPE}
    lits = {
        (r.s, r.p, r.o) for r in fuse_expand(spark, t).triples.filter("is_lit").collect()
    }
    objs = {o for s, p, o in expanded if (s, p, o) not in lits}
    terms = subs | preds | objs | {vocab.TYPE, resource, prop}
    want = expanded | {(x, vocab.TYPE, resource) for x in terms} | {
        (p, vocab.TYPE, prop) for p in preds
    }
    assert got == want

    n_merged = fuse(spark, t, emit_sameas_provenance=False).triples.count()
    assert n_merged < len(expanded) < len(got)


def test_linear_preclosure_depth_four_chain(spark):
    """The pre-closure's empty-probe (delta-fed iterations break before the
    full-graph anti-join) must still walk a depth-4 linear composition:
    p1 ⊑ p2 ⊑ p3 ⊑ p4 with one p1 edge needs four iterations before the
    probe may fire, and every level's edge plus its range typing must land."""
    from re_shacl_spark.model.triples import iri_triple, triples_df, vocab
    from re_shacl_spark.pipeline import fuse

    rows = [
        iri_triple("p1", vocab.SUBPROP, "p2"),
        iri_triple("p2", vocab.SUBPROP, "p3"),
        iri_triple("p3", vocab.SUBPROP, "p4"),
        iri_triple("p4", vocab.RANGE, "C"),
        iri_triple("a", "p1", "b"),
    ]
    res = fuse(spark, triples_df(spark, rows))
    got = {(r.s, r.p, r.o) for r in res.triples.collect()}
    assert {("a", "p2", "b"), ("a", "p3", "b"), ("a", "p4", "b"),
            ("b", vocab.TYPE, "C")} <= got


def test_fuse_raises_when_round_cap_is_hit(spark, monkeypatch):
    """A fixpoint that runs out of rounds must raise, not return a graph with
    merges still pending.  ``f`` is functional and two f-chains hang off one
    subject: merging level k's objects makes them one subject, which lets
    level k+1's objects merge one round later, so this 3-level cascade needs
    more than 2 rounds."""
    import re_shacl_spark.pipeline as P
    from re_shacl_spark.model.triples import iri_triple

    rows = [iri_triple("f", vocab.TYPE, vocab.FUNCTIONAL),
            iri_triple("r", "f", "x1"), iri_triple("r", "f", "y1"),
            iri_triple("x1", "f", "x2"), iri_triple("y1", "f", "y2"),
            iri_triple("x2", "f", "x3"), iri_triple("y2", "f", "y3")]
    res = fuse(spark, triples_df(spark, rows))
    reps = {r.member: r.rep for r in res.rep_map.collect()}
    assert reps == {"y1": "x1", "y2": "x2", "y3": "x3"}

    monkeypatch.setattr(P, "MAX_ROUNDS", 2)
    with pytest.raises(RuntimeError, match="did not converge in 2 rounds"):
        fuse(spark, triples_df(spark, rows))
