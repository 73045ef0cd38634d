"""Incremental fusion (pipeline.fuse_delta): extending a closed fusion result
with a delta must land in exactly the state full fusion reaches on the union —
including when the delta triggers merges, transitive re-closure, or carries
new TBox axioms (fallback path)."""

from __future__ import annotations

import pytest

from re_shacl_spark.model.triples import iri_triple, triples_df, vocab
from re_shacl_spark.model.ttl import parse_ttl_file
from re_shacl_spark.pipeline import fuse, fuse_delta
from re_shacl_spark.reasoning.checks import FusionError
from re_shacl_spark.reasoning.rules import Scope
from re_shacl_spark.validate.engine import validate
from re_shacl_spark.validate.incremental import validate_delta
from re_shacl_spark.validate.shapes import NodeShape, PropertyConstraint

TEST_TTL = "/root/reference/source/Datasets/test.ttl"
EX = "http://example.org/"
X = "http://x.org/"


def _tset(df):
    return {(r.s, r.p, r.o, r.is_lit) for r in df.collect()}


def _assert_incremental_matches_full(spark, base_rows, delta_rows):
    full = fuse(spark, triples_df(spark, base_rows + delta_rows))
    base = fuse(spark, triples_df(spark, base_rows))
    inc = fuse_delta(spark, base, triples_df(spark, delta_rows))
    assert _tset(inc.triples) == _tset(full.triples)
    inc_rep = {(r.member, r.rep) for r in inc.rep_map.collect()}
    full_rep = {(r.member, r.rep) for r in full.rep_map.collect()}
    assert inc_rep == full_rep
    return base, inc


def test_delta_abox_only_reference_fixture(spark):
    rows = parse_ttl_file(TEST_TTL)
    # TBox rows (axioms) in the base; ABox facts split — the fixture's sameAs
    # chain and typed instances partly arrive as the delta
    abox = [r for r in rows if "example.org/j" in r[0] or "example.org/m" in r[0]]
    base_rows = [r for r in rows if r not in abox] + abox[: len(abox) // 2]
    delta_rows = abox[len(abox) // 2 :]
    _assert_incremental_matches_full(spark, base_rows, delta_rows)


def test_delta_sameas_merges_old_nodes(spark):
    base_rows = [
        iri_triple(X + "p", vocab.TYPE, vocab.OWL + "FunctionalProperty"),
        iri_triple(X + "a", X + "p", X + "v1"),
        iri_triple(X + "b", X + "p", X + "v2"),
        iri_triple(X + "a", X + "q", X + "z"),
    ]
    # delta equates a and b → functional p now fires on the MERGED node,
    # equating v1 and v2 too (old×old consequence enabled by the delta)
    delta_rows = [iri_triple(X + "a", vocab.SAMEAS, X + "b")]
    _, inc = _assert_incremental_matches_full(spark, base_rows, delta_rows)
    reps = {r.member: r.rep for r in inc.rep_map.collect()}
    assert reps[X + "b"] == X + "a" and reps[X + "v2"] == X + "v1"


def test_delta_transitive_edge_joins_old_chain(spark):
    base_rows = [
        iri_triple(X + "t", vocab.TYPE, vocab.OWL + "TransitiveProperty"),
        iri_triple(X + "a", X + "t", X + "b"),
        iri_triple(X + "c", X + "t", X + "d"),
    ]
    # the delta's b→c bridge must re-close over OLD edges: a→c, b→d, a→d
    delta_rows = [iri_triple(X + "b", X + "t", X + "c")]
    _, inc = _assert_incremental_matches_full(spark, base_rows, delta_rows)
    got = {(r.s, r.o) for r in inc.triples.filter(f"p = '{X}t'").collect()}
    assert {(X + "a", X + "c"), (X + "b", X + "d"), (X + "a", X + "d")} <= got


def test_delta_with_new_tbox_axiom_falls_back(spark):
    base_rows = [
        iri_triple(X + "a", X + "p", X + "b"),
        iri_triple(X + "c", X + "p", X + "d"),
    ]
    # new axiom must entail over the WHOLE base, not just the delta
    delta_rows = [iri_triple(X + "p", vocab.RDFS + "domain", X + "Thing")]
    _, inc = _assert_incremental_matches_full(spark, base_rows, delta_rows)
    types = {(r.s, r.o) for r in inc.triples.filter(f"p = '{vocab.TYPE}'").collect()}
    assert {(X + "a", X + "Thing"), (X + "c", X + "Thing")} <= types


@pytest.mark.parametrize(
    "delta_rows",
    [
        [iri_triple(X + "c", X + "works", X + "d")],
        # a new axiom: the fold falls back to re-fusing the union
        [iri_triple(X + "c", X + "works", X + "d"),
         iri_triple(X + "works", vocab.RANGE, X + "Site")],
    ],
    ids=["abox", "new_axiom"],
)
def test_delta_folds_under_the_base_scope(spark, delta_rows):
    """A scoped base never folds an unscoped delta: the delta derives none of
    the out-of-scope types (Employee, Site) that fusing the union under the
    same scope leaves out."""
    base_rows = [
        iri_triple(X + "works", vocab.DOMAIN, X + "Employee"),
        iri_triple(X + "knows", vocab.DOMAIN, X + "Person"),
        iri_triple(X + "a", X + "knows", X + "b"),
    ]
    scope = Scope(classes={X + "Person"}, properties={X + "knows"})
    base = fuse(spark, triples_df(spark, base_rows), scope=scope)
    inc = fuse_delta(spark, base, triples_df(spark, delta_rows))
    full = fuse(spark, triples_df(spark, base_rows + delta_rows), scope=scope)
    assert _tset(inc.triples) == _tset(full.triples)
    assert inc.scope == full.scope == base.scope
    assert (X + "c", vocab.TYPE, X + "Employee", False) not in _tset(inc.triples)


def test_delta_duplicate_only_short_circuits(spark):
    base_rows = [
        iri_triple(X + "a", X + "p", X + "b"),
        iri_triple(X + "p", vocab.RDFS + "domain", X + "T"),
    ]
    base = fuse(spark, triples_df(spark, base_rows))
    inc = fuse_delta(spark, base, triples_df(spark, base_rows[:1]))
    assert inc.rounds == 0
    assert _tset(inc.triples) == _tset(base.triples)


def test_delta_can_raise_consistency_error(spark):
    base_rows = [
        iri_triple(X + "A", vocab.OWL + "disjointWith", X + "B"),
        iri_triple(X + "x", vocab.TYPE, X + "A"),
    ]
    delta_rows = [iri_triple(X + "x", vocab.TYPE, X + "B")]
    base = fuse(spark, triples_df(spark, base_rows))
    with pytest.raises(FusionError):
        fuse_delta(spark, base, triples_df(spark, delta_rows))


@pytest.mark.parametrize("base_p, delta_p", [
    (vocab.SAMEAS, vocab.DIFFERENT), (vocab.DIFFERENT, vocab.SAMEAS),
], ids=["sameas_base", "differentfrom_base"])
def test_delta_same_different_raises_after_merge(spark, base_p, delta_p):
    """sameAs and differentFrom on the same pair, split across base and
    delta either way round: the merge rewrites the differentFrom row to
    (a differentFrom a), which eq-diff1 makes inconsistent."""
    base = fuse(spark, triples_df(spark, [iri_triple(X + "a", base_p, X + "b")]))
    with pytest.raises(FusionError, match="same_different"):
        fuse_delta(spark, base, triples_df(spark, [iri_triple(X + "a", delta_p, X + "b")]))


def test_delta_closes_linear_rules_in_one_pass(spark, monkeypatch):
    """The delta's linear closure (J1-J6) is one derive: fuse_delta checkpoints
    the rep map, the canonicalized delta and the novelty anti-join — three
    ``materialize`` calls — however deep the TBox chain (here knows → type P
    and knownBy → type Q, R takes three rule levels)."""
    import re_shacl_spark.pipeline as P

    knows, known_by = X + "knows", X + "knownBy"
    tbox = [
        iri_triple(knows, vocab.DOMAIN, X + "P"),
        iri_triple(knows, vocab.RANGE, X + "P"),
        iri_triple(knows, vocab.INVERSEOF, known_by),
        iri_triple(X + "P", vocab.SUBCLASS, X + "Q"),
        iri_triple(X + "Q", vocab.SUBCLASS, X + "R"),
    ]
    base_rows = tbox + [
        iri_triple(X + "a", knows, X + "b"),
        iri_triple(X + "a2", vocab.SAMEAS, X + "a"),
    ]
    delta_rows = [iri_triple(X + "b", knows, X + "c"), iri_triple(X + "a2", knows, X + "d")]
    full = fuse(spark, triples_df(spark, base_rows + delta_rows))
    base = fuse(spark, triples_df(spark, base_rows))

    calls = []
    real = P.materialize

    def counting(df, **flags):
        calls.append(sorted(flags))
        return real(df, **flags)

    monkeypatch.setattr(P, "materialize", counting)
    inc = fuse_delta(spark, base, triples_df(spark, delta_rows))
    monkeypatch.undo()
    assert _tset(inc.triples) == _tset(full.triples)
    assert (X + "d", vocab.TYPE, X + "R", False) in _tset(inc.triples)
    assert len(calls) <= 3, calls


def test_delta_routes_through_base_equivalence_reps(spark):
    """A delta naming a non-representative class or property lands on the
    base's equivalence reps, as full fusion over the union does."""
    base_rows = [
        iri_triple(X + "B", vocab.EQCLASS, X + "C"),
        iri_triple(X + "q", vocab.EQPROP, X + "r"),
        iri_triple(X + "a", vocab.TYPE, X + "B"),
    ]
    delta_rows = [iri_triple(X + "b", vocab.TYPE, X + "C"), iri_triple(X + "a", X + "r", X + "b")]
    _, inc = _assert_incremental_matches_full(spark, base_rows, delta_rows)
    got = _tset(inc.triples)
    assert (X + "b", vocab.TYPE, X + "B", False) in got
    assert (X + "a", X + "q", X + "b", False) in got


def test_delta_keeps_equivalence_reps_across_tbox_rename(spark):
    """A sameAs merge that renames a TBox term rebuilds the index from the
    rewritten graph, which no longer holds the collapsed equivalence axioms;
    the rebuilt index keeps their reps, so a later delta still lands on them."""
    base_rows = [
        iri_triple(X + "B", vocab.EQCLASS, X + "C"),
        iri_triple(X + "A", vocab.SAMEAS, X + "B"),
        iri_triple(X + "a", vocab.TYPE, X + "B"),
    ]
    base, inc = _assert_incremental_matches_full(
        spark, base_rows, [iri_triple(X + "b", vocab.TYPE, X + "C")]
    )
    assert base.tbox.class_rep.get(X + "C") == X + "B"
    assert (X + "b", vocab.TYPE, X + "A", False) in _tset(inc.triples)


def test_delta_falls_back_keeping_equivalence_reps(spark):
    """The new-axiom fallback re-fuses the base with its collapsed
    equivalence axioms, so the delta's rows still land on their reps."""
    base_rows = [
        iri_triple(X + "B", vocab.EQCLASS, X + "C"),
        iri_triple(X + "a", X + "p", X + "z"),
    ]
    delta_rows = [
        iri_triple(X + "p", vocab.DOMAIN, X + "C"),
        iri_triple(X + "b", vocab.TYPE, X + "C"),
    ]
    _, inc = _assert_incremental_matches_full(spark, base_rows, delta_rows)
    got = _tset(inc.triples)
    assert {(X + "a", vocab.TYPE, X + "B", False), (X + "b", vocab.TYPE, X + "B", False)} <= got
    assert inc.tbox.class_rep.get(X + "C") == X + "B"


def test_delta_entailed_tbox_rows_stay_incremental(spark, monkeypatch):
    """Delta TBox rows the base's index already entails (a closure row, a
    collapsed equivalence) take the incremental path, not the fallback."""
    import re_shacl_spark.pipeline as P

    base_rows = [
        iri_triple(X + "P", vocab.SUBCLASS, X + "Q"),
        iri_triple(X + "Q", vocab.SUBCLASS, X + "R"),
        iri_triple(X + "B", vocab.EQCLASS, X + "C"),
        iri_triple(X + "a", vocab.TYPE, X + "P"),
    ]
    delta_rows = [
        iri_triple(X + "P", vocab.SUBCLASS, X + "R"),
        iri_triple(X + "C", vocab.EQCLASS, X + "B"),
        iri_triple(X + "b", vocab.TYPE, X + "C"),
    ]
    full = fuse(spark, triples_df(spark, base_rows + delta_rows))
    base = fuse(spark, triples_df(spark, base_rows))
    fused = []
    real = P.fuse

    def recording(spark, triples, *args, **kwargs):
        fused.append(kwargs.get("base") is not None)
        return real(spark, triples, *args, **kwargs)

    monkeypatch.setattr(P, "fuse", recording)
    inc = fuse_delta(spark, base, triples_df(spark, delta_rows))
    monkeypatch.undo()
    assert fused == [True]
    assert _tset(inc.triples) == _tset(full.triples)


def test_delta_abox_only_reads_tbox_from_base(spark, monkeypatch):
    """An ABox-only delta takes the base's TBox from ``base.tbox``: no
    ``extract_tbox`` call, so the base's triples are never scanned for it."""
    import re_shacl_spark.pipeline as P

    base_rows = [
        iri_triple(X + "knows", vocab.DOMAIN, X + "P"),
        iri_triple(X + "a", X + "knows", X + "b"),
    ]
    delta_rows = [iri_triple(X + "b", X + "knows", X + "c")]
    full = fuse(spark, triples_df(spark, base_rows + delta_rows))
    base = fuse(spark, triples_df(spark, base_rows))
    scanned = []
    real = P.extract_tbox

    def recording(triples):
        scanned.append(triples)
        return real(triples)

    monkeypatch.setattr(P, "extract_tbox", recording)
    inc = fuse_delta(spark, base, triples_df(spark, delta_rows))
    monkeypatch.undo()
    assert scanned == []
    assert _tset(inc.triples) == _tset(full.triples)


def test_delta_checks_gated_on_what_the_delta_adds(spark, monkeypatch):
    """Over a consistent base, ``run_all_checks`` runs only when an added row
    can complete a violation: never without consistency axioms or added
    sameAs/differentFrom rows; with a differentFrom or sameAs row, the
    sameAs ∧ differentFrom check alone."""
    import re_shacl_spark.pipeline as P

    base_rows = [
        iri_triple(X + "knows", vocab.DOMAIN, X + "P"),
        iri_triple(X + "P", vocab.SUBCLASS, X + "Q"),
        iri_triple(X + "a", X + "knows", X + "b"),
    ]
    base = fuse(spark, triples_df(spark, base_rows))
    calls = []
    real = P.run_all_checks

    def recording(triples, tbox, *args, **kwargs):
        calls.append(kwargs.get("checks"))
        return real(triples, tbox, *args, **kwargs)

    monkeypatch.setattr(P, "run_all_checks", recording)
    fuse_delta(spark, base, triples_df(spark, [iri_triple(X + "b", X + "knows", X + "c")]))
    assert calls == []
    for p in (vocab.DIFFERENT, vocab.SAMEAS):
        fuse_delta(spark, base, triples_df(spark, [iri_triple(X + "b", p, X + "c")]))
    assert calls == [["same_different"], ["same_different"]]


def _merge_case(spark):
    """Base: a and b are C's; a knows one node, b two.  The shape caps knows
    at one, so only b violates before any merge."""
    knows = X + "knows"
    base = fuse(spark, triples_df(spark, [
        iri_triple(X + "a", vocab.TYPE, X + "C"),
        iri_triple(X + "a", knows, X + "z"),
        iri_triple(X + "b", vocab.TYPE, X + "C"),
        iri_triple(X + "b", knows, X + "w1"),
        iri_triple(X + "b", knows, X + "w2"),
    ]))
    shapes = [NodeShape("S", target_classes=[X + "C"], properties=[
        PropertyConstraint(path=knows, max_count=1),
    ])]
    return base, shapes, validate(spark, base.triples, shapes)


def _fold(spark, base, delta_rows):
    """fuse_delta and its closed delta (the fused graph minus the base), the
    pair a crawl increment hands to validate_delta."""
    inc = fuse_delta(spark, base, triples_df(spark, delta_rows))
    return inc, inc.triples.join(base.triples, ["s", "p", "o"], "left_anti")


def test_validate_delta_raises_when_delta_merges_base_nodes(spark):
    """b owl:sameAs a renames base node b to a in the fused graph, but the
    base still holds b's rows: base ∪ closed delta is not the fused graph,
    and re-checking it would report the stale b.  It must raise instead."""
    base, shapes, base_report = _merge_case(spark)
    inc, closed = _fold(spark, base, [iri_triple(X + "b", vocab.SAMEAS, X + "a")])
    full = validate(spark, inc.triples, shapes).violations
    assert {r.focus for r in full.collect()} == {X + "a"}
    with pytest.raises(ValueError, match="validate the fused graph in full"):
        validate_delta(spark, base.triples, closed, shapes, base_report)


def test_validate_delta_sameas_to_new_member_matches_full(spark):
    """A delta-only IRI linked to a base entity that stays the rep leaves the
    base intact, so the incremental report equals full validation."""
    base, shapes, base_report = _merge_case(spark)
    inc, closed = _fold(spark, base, [
        iri_triple(X + "m", vocab.SAMEAS, X + "a"),
        iri_triple(X + "m", X + "knows", X + "q"),
    ])
    full = {tuple(r) for r in validate(spark, inc.triples, shapes).violations.collect()}
    assert {v[0] for v in full} == {X + "a", X + "b"}
    got = validate_delta(spark, base.triples, closed, shapes, base_report).violations
    assert {tuple(r) for r in got.collect()} == full


_FOLD_COMPILES = r"""
from re_shacl_spark.model.triples import iri_triple, lit_triple, triples_df, vocab
from re_shacl_spark.pipeline import fuse, fuse_delta
from re_shacl_spark.session import get_spark
from re_shacl_spark.validate.engine import validate
from re_shacl_spark.validate.incremental import validate_delta
from re_shacl_spark.validate.shapes import NodeShape, PropertyConstraint

X = "http://x.org/"
knows, known_by, age, name = X + "knows", X + "knownBy", X + "age", X + "name"
P, Q, R = X + "P", X + "Q", X + "R"
n = 40
node = [X + f"n{i}" for i in range(n)]
edges = [iri_triple(node[i], knows, node[(i * 7 + 3) % n]) for i in range(n)]
base_rows = [
    iri_triple(knows, vocab.DOMAIN, P),
    iri_triple(knows, vocab.RANGE, P),
    iri_triple(knows, vocab.INVERSEOF, known_by),
    iri_triple(P, vocab.SUBCLASS, Q),
    iri_triple(Q, vocab.SUBCLASS, R),
    iri_triple(X + "alias0", vocab.SAMEAS, node[0]),
] + [e for i, e in enumerate(edges) if i % 8] + [
    lit_triple(node[i], age, str(i), vocab.XSD + "integer") for i in range(0, n, 5)
] + [lit_triple(node[i], name, f"N{i}") for i in range(0, n, 3)]
shapes = [NodeShape(X + "S", target_classes=[R], properties=[
    PropertyConstraint(path=knows, min_count=1, max_count=1, clazz=P),
    PropertyConstraint(path=known_by, min_count=1),
    PropertyConstraint(path=age, max_count=1, datatype=vocab.XSD + "integer"),
    PropertyConstraint(path=name, min_length=2, pattern="^N"),
])]
spark = get_spark("fold-compiles", master="local[2]")
base = fuse(spark, triples_df(spark, base_rows))
base_report = validate(spark, base.triples, shapes)
delta = triples_df(spark, [e for i, e in enumerate(edges) if not i % 8])
metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics


def compiled_by_fold():
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    inc = fuse_delta(spark, base, delta)
    closed = inc.triples.join(base.triples, ["s", "p", "o"], "left_anti")
    validate_delta(spark, base.triples, closed, shapes, base_report).violations.count()
    return metrics.METRIC_COMPILATION_TIME().getCount() - before


print("FOLDS", compiled_by_fold(), compiled_by_fold())
spark.stop()
"""


def test_repeated_fold_reuses_compiled_classes():
    """A second identical fuse_delta + validate_delta fold compiles under a
    tenth of the generated classes the first one did.  A fold's classes
    outnumber Spark's default codegen cache (100 entries: there the second
    fold recompiles about as many as the first); the session's cache keeps
    them.  Runs in a fresh session, so that no earlier test has compiled
    the fold's classes already."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=root, SPARK_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", _FOLD_COMPILES], cwd=root, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    first, second = map(int, out.stdout.split("FOLDS")[1].split())
    print(f"compiled classes: first fold {first}, second fold {second}")
    assert second < first / 10, (first, second)
