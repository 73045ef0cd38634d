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
