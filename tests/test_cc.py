"""Connected-components unit tests (FIXTURES.md §7 case list)."""

from __future__ import annotations

from re_shacl_spark.canonicalize.cc import connected_components


def _reps(spark, edges, **kw):
    """Run BOTH the distributed star path (driver_threshold=0) and the
    driver union-find fast path; they must agree on every fixture."""
    df = spark.createDataFrame(edges, ["a", "b"])
    star = {r.member: r.rep for r in connected_components(df, driver_threshold=0, **kw).collect()}
    drv = {r.member: r.rep for r in connected_components(df, **kw).collect()}
    assert star == drv, f"star≠driver: {star} vs {drv}"
    return star


def test_chain_of_five(spark):
    got = _reps(spark, [("n1", "n2"), ("n2", "n3"), ("n3", "n4"), ("n4", "n5")])
    assert got == {"n2": "n1", "n3": "n1", "n4": "n1", "n5": "n1"}


def test_three_cycle(spark):
    got = _reps(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    assert got == {"b": "a", "c": "a"}


def test_two_disjoint_components(spark):
    got = _reps(spark, [("a", "b"), ("x", "y"), ("y", "z")])
    assert got == {"b": "a", "y": "x", "z": "x"}


def test_self_loop_ignored(spark):
    got = _reps(spark, [("a", "a"), ("a", "b")])
    assert got == {"b": "a"}


def test_hub_skew_component(spark):
    """One hub with 2000 spokes plus a chain hanging off one spoke — the named
    skew case; exercised with and without salting."""
    edges = [("hub", f"spoke{i:05d}") for i in range(2000)]
    edges += [("spoke00000", "aaa"), ("aaa", "aa0")]
    for salts in (1, 8):
        got = _reps(spark, edges, n_salts=salts)
        assert len(got) == 2002
        assert set(got.values()) == {"aa0"}


def test_deterministic_across_parallelism(spark):
    edges = [(f"e{i}", f"e{(i * 7) % 50}") for i in range(200)]
    a = _reps(spark, edges, n_salts=1)
    b = _reps(spark, edges, n_salts=8)
    assert a == b


def test_empty(spark):
    assert _reps(spark, [("a", "a")]) == {}


def test_star_rounds_raise_at_round_cap(spark, monkeypatch):
    """The distributed path proves convergence by seeing one fingerprint
    twice; a path that has not converged when the round cap is hit raises."""
    import pytest

    import re_shacl_spark.canonicalize.cc as cc

    edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(64)]
    got = _reps(spark, edges)
    assert len(got) == 64 and set(got.values()) == {"n000"}

    monkeypatch.setattr(cc, "MAX_ROUNDS", 1)
    df = spark.createDataFrame(edges, ["a", "b"])
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        connected_components(df, driver_threshold=0)
