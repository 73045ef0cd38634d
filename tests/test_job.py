"""End-to-end KG-construction DAG: correctness, resume, determinism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from re_shacl_spark import corpus
from re_shacl_spark.checkpoint import CheckpointStore
from re_shacl_spark.extract.emit import SURFACE_P
from re_shacl_spark.job import CLS, construct_kg
from re_shacl_spark.model.triples import iri_triple, triples_df, vocab
from re_shacl_spark.pipeline import fuse_full
from re_shacl_spark.validate.engine import validate
from re_shacl_spark.validate.shapes import NodeShape, PropertyConstraint

N_PAGES = 800


def _run(spark, store=None):
    pages = corpus.generate_pages(spark, N_PAGES, seed=11)
    return construct_kg(spark, pages, corpus.alias_rows(), store=store)


def test_full_dag_semantics(spark):
    res = _run(spark)
    triples = {(r.s, r.p, r.o) for r in res.triples.collect()}

    # mention nodes merged INTO entity ids (entity IRIs sort below mention IRIs):
    # surface literals now hang off the canonical entity
    hub = "http://kg.example.org/entity/E000_hub"
    assert (hub, SURFACE_P, "acme corp") in triples
    reps = {r.member: r.rep for r in res.rep_map.collect()}
    assert reps.get("http://kg.example.org/mention/acme_corp") == hub
    # subclass typing materialized: hub is an Organization and an Entity
    assert (hub, vocab.TYPE, CLS + "Organization") in triples
    assert (hub, vocab.TYPE, CLS + "Entity") in triples
    # domain rule typed every mentioning page
    pages_typed = {s for s, p, o in triples if p == vocab.TYPE and o == CLS + "Page"}
    assert len(pages_typed) > 0

    # violations: only PageShape maxCount (3 mentions) fires on this corpus
    v = res.violations.collect()
    assert all(r.constraint == "maxCount" for r in v)
    assert res.metrics["violations"] > 0
    # conformant excludes exactly the violating subjects
    bad = {r.focus for r in v}
    conf_subjects = {r.s for r in res.conformant.collect()}
    assert conf_subjects.isdisjoint(bad)
    assert res.metrics["conformant_triples"] < res.metrics["fused_triples"]


def test_resume_identical_and_no_recompute(spark, tmp_path):
    store = CheckpointStore(spark, str(tmp_path / "ck"))
    r1 = _run(spark, store)
    # fresh run against a complete store: every stage resumes
    r2 = _run(spark, store)
    for k in ("fused_triples", "conformant_triples", "violations"):
        assert r1.metrics[k] == r2.metrics[k]
    assert store.lineage().filter(F.col("stage") == "s4_fused").count() > 0
    assert int(store.stage_meta("s4_fused")["rounds"]) == r1.rounds


def test_resume_invalidates_on_same_schema_different_data(spark, tmp_path):
    """Non-file-backed inputs fingerprint their CONTENT (ADVICE r2): resuming
    with a same-schema corpus of different rows must recompute, not serve the
    previous run's checkpoints."""
    store = CheckpointStore(spark, str(tmp_path / "ck"))
    pages_a = corpus.generate_pages(spark, N_PAGES, seed=11)
    r1 = construct_kg(spark, pages_a, corpus.alias_rows(), store=store)
    pages_b = corpus.generate_pages(spark, N_PAGES // 2, seed=12)
    r2 = construct_kg(spark, pages_b, corpus.alias_rows(), store=store)
    assert r1.metrics["fused_triples"] != r2.metrics["fused_triples"]
    # and the smaller corpus really flowed through: direct run parity
    r3 = construct_kg(spark, corpus.generate_pages(spark, N_PAGES // 2, seed=12),
                      corpus.alias_rows())
    assert r2.metrics["fused_triples"] == r3.metrics["fused_triples"]


def test_determinism_across_runs(spark):
    a = _run(spark)
    b = _run(spark)
    ta = sorted((r.s, r.p, r.o) for r in a.conformant.collect())
    tb = sorted((r.s, r.p, r.o) for r in b.conformant.collect())
    assert ta == tb


def test_input_token_resume_and_invalidation(spark, tmp_path):
    """Callers that know their input's identity (deterministic generator args,
    an Iceberg snapshot id in production) pass input_token and skip the
    content-scan fingerprint.  Same token -> every stage resumes; different
    token -> full recompute, never a stale checkpoint."""
    store = CheckpointStore(spark, str(tmp_path / "ck"))
    pages_a = corpus.generate_pages(spark, N_PAGES, seed=11)
    tok_a = corpus.pages_token(N_PAGES, seed=11)
    r1 = construct_kg(spark, pages_a, corpus.alias_rows(), store=store,
                      input_token=tok_a)
    # same token: resumed (metrics identical, lineage intact)
    r2 = construct_kg(spark, pages_a, corpus.alias_rows(), store=store,
                      input_token=tok_a)
    for k in ("fused_triples", "conformant_triples", "violations"):
        assert r1.metrics[k] == r2.metrics[k]
    # changed token (different corpus identity): must recompute, and the new
    # corpus really flows through — parity with a store-less direct run
    pages_b = corpus.generate_pages(spark, N_PAGES // 2, seed=12)
    tok_b = corpus.pages_token(N_PAGES // 2, seed=12)
    assert tok_a != tok_b
    r3 = construct_kg(spark, pages_b, corpus.alias_rows(), store=store,
                      input_token=tok_b)
    r4 = construct_kg(spark, pages_b, corpus.alias_rows())
    assert r3.metrics["fused_triples"] == r4.metrics["fused_triples"]
    assert r1.metrics["fused_triples"] != r3.metrics["fused_triples"]


EX = "http://example.org/"
# b owl:sameAs a, and the class a shape targets is equivalent to another: the
# merged graph holds neither b nor Client, so shapes that name them must be
# merged too
MERGE_ROWS = [
    (EX + "b", vocab.SAMEAS, EX + "a"),
    (EX + "a", EX + "knows", EX + "z"),
    (EX + "b", EX + "knows", EX + "w"),
    (EX + "Client", vocab.EQCLASS, EX + "Buyer"),
    (EX + "x", vocab.TYPE, EX + "Client"),
]
MERGE_SHAPES = [
    NodeShape(EX + "B", target_nodes=[EX + "b"],
              properties=[PropertyConstraint(path=EX + "knows", max_count=1)]),
    NodeShape(EX + "C", target_classes=[EX + "Client"],
              properties=[PropertyConstraint(path=EX + "name", min_count=1)]),
]
# sh:closed reads every predicate, so its shapes fuse unscoped: r ⊑ s derives
# the (y s v) row the closed shape rejects
CLOSED_ROWS = [
    (EX + "r", vocab.SUBPROP, EX + "s"),
    (EX + "y", vocab.TYPE, EX + "Person"),
    (EX + "y", EX + "r", EX + "v"),
]
CLOSED_SHAPES = [
    NodeShape(EX + "D", target_classes=[EX + "Person"], closed=True,
              properties=[PropertyConstraint(path=EX + "r")]),
]
# knownBy is read; it is derived through its inverse knows, which r ⊑ knows
# feeds, so the scope must reach r: the pair conforms
INVERSE_ROWS = [
    (EX + "r", vocab.SUBPROP, EX + "knows"),
    (EX + "knows", vocab.INVERSEOF, EX + "knownBy"),
    (EX + "a", EX + "r", EX + "y"),
    (EX + "y", vocab.TYPE, EX + "Person"),
]
INVERSE_SHAPES = [
    NodeShape(EX + "K", target_classes=[EX + "Person"],
              properties=[PropertyConstraint(path=EX + "knownBy", min_count=1)]),
]
# Member is read; memberOf (domain Member) is derived through its inverse,
# so the scope must reach memberOf and hasMember
DOMAIN_ROWS = [
    (EX + "hasMember", vocab.INVERSEOF, EX + "memberOf"),
    (EX + "memberOf", vocab.DOMAIN, EX + "Member"),
    (EX + "club", EX + "hasMember", EX + "m"),
]
DOMAIN_SHAPES = [
    NodeShape(EX + "M", target_classes=[EX + "Member"],
              properties=[PropertyConstraint(path=EX + "name", min_count=1)]),
]
# the functional f merges b2 into b1, whatever the shapes read
FUNCTIONAL_ROWS = [
    (EX + "f", vocab.TYPE, vocab.FUNCTIONAL),
    (EX + "a", EX + "f", EX + "b1"),
    (EX + "a", EX + "f", EX + "b2"),
    (EX + "b1", EX + "knows", EX + "x"),
    (EX + "b2", EX + "knows", EX + "y"),
]
FUNCTIONAL_SHAPES = [
    NodeShape(EX + "F", target_nodes=[EX + "b1"],
              properties=[PropertyConstraint(path=EX + "knows", max_count=1)]),
]
# a path over rdf:type reads every class: y's Person type must be derived
TYPE_ROWS = [
    (EX + "Student", vocab.SUBCLASS, EX + "Person"),
    (EX + "y", vocab.TYPE, EX + "Student"),
]
TYPE_SHAPES = [
    NodeShape(EX + "T", target_nodes=[EX + "y"],
              properties=[PropertyConstraint(path=vocab.TYPE, has_value=EX + "Person")]),
]


def _kg(spark, rows, shapes, store=None):
    """construct_kg over no pages: the graph is ``rows`` alone."""
    pages = corpus.generate_pages(spark, 1, seed=11).limit(0)
    return construct_kg(spark, pages, corpus.alias_rows(), tbox_rows=rows, shapes=shapes,
                        store=store)


def _report(df):
    return {(r.focus, r.shape, r.path, r.constraint, r.value) for r in df.collect()}


def test_construct_kg_validates_merged_shapes(spark, tmp_path):
    """The merged graph is checked against merged shapes: sh:B's target b
    lives on as its rep a, and sh:C's Client as its equivalence rep Buyer's
    instances — run straight, then resumed from every stage's checkpoint."""
    want = {
        (EX + "a", EX + "B", EX + "knows", "maxCount", "2"),
        (EX + "x", EX + "C", EX + "name", "minCount", "0"),
    }
    assert _report(_kg(spark, MERGE_ROWS, MERGE_SHAPES).violations) == want
    store = CheckpointStore(spark, str(tmp_path / "ck"))
    _kg(spark, MERGE_ROWS, MERGE_SHAPES, store)
    # drop the s5 checkpoints: the resumed s4 (its stored reps) feeds s5 again
    for stage in ("s5_violations", "s5_conformant"):
        (tmp_path / "ck" / "stages" / f"{stage}.manifest.json").unlink()
    assert _report(_kg(spark, MERGE_ROWS, MERGE_SHAPES, store).violations) == want


@pytest.mark.parametrize(
    "rows, shapes",
    [
        (MERGE_ROWS, MERGE_SHAPES),
        (CLOSED_ROWS, CLOSED_SHAPES),
        (INVERSE_ROWS, INVERSE_SHAPES),
        (DOMAIN_ROWS, DOMAIN_SHAPES),
        (FUNCTIONAL_ROWS, FUNCTIONAL_SHAPES),
        (TYPE_ROWS, TYPE_SHAPES),
    ],
    ids=["merge", "closed", "inverse", "domain", "functional", "type_path"],
)
def test_construct_kg_matches_full_materialization(spark, rows, shapes):
    """Scoped merge-then-reason reports the violations of full unscoped
    materialization + validation, up to the rep map."""
    res = _kg(spark, rows, shapes)
    full = fuse_full(spark, triples_df(spark, [iri_triple(*r) for r in rows]))
    rep = {r.member: r.rep for r in res.rep_map.collect()}
    want = {
        (rep.get(f, f), s, p, c, rep.get(v, v))
        for f, s, p, c, v in _report(validate(spark, full.triples, shapes).violations)
    }
    assert _report(res.violations) == want
