"""Consistency checks (error short-circuit): each returns a DataFrame of violating
rows; the pipeline aborts with FusionError when any is nonempty.

Mirrors the reference's FusionRuntimeError raises
(/root/reference/ReSHACL/re_shacl.py:79-86,95-110,289-343; errors.py:1-13):
  J14 cax-dw / cls-com   disjoint / complement class membership
  J15 prp-pdw            propertyDisjointWith
  J16 prp-irp / prp-asyp irreflexive / asymmetric
  J17 eq-diff1           sameAs ∧ differentFrom

Each check is a semi-join against a broadcast axiom-pair frame — the big side is
scanned once, filters pushed down.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from re_shacl_spark.model.triples import local_frame, vocab
from re_shacl_spark.reasoning.tbox import TBoxIndex


class FusionError(RuntimeError):
    """Raised when an OWL consistency axiom is violated during fusion
    (reference: ReSHACL/errors.py:1-13)."""


def check_irreflexive(triples: DataFrame, tbox: TBoxIndex) -> DataFrame:
    """(x p x) with p irreflexive."""
    if not tbox.irreflexive:
        return triples.limit(0).select("s", "p", "o")
    return (
        triples.filter(F.col("p").isin(sorted(tbox.irreflexive)) & (F.col("s") == F.col("o")))
        .select("s", "p", "o")
    )


def check_asymmetric(triples: DataFrame, tbox: TBoxIndex) -> DataFrame:
    """(x p y) ∧ (y p x) with p asymmetric (includes x==y)."""
    if not tbox.asymmetric:
        return triples.limit(0).select("s", "p", "o")
    t = triples.filter(F.col("p").isin(sorted(tbox.asymmetric)) & ~F.col("is_lit")).select(
        "s", "p", "o"
    )
    rev = t.select(F.col("o").alias("s"), "p", F.col("s").alias("o"))
    return t.join(rev, ["s", "p", "o"], "left_semi")


def check_disjoint_classes(triples: DataFrame, tbox: TBoxIndex) -> DataFrame:
    """(x type c1) ∧ (x type c2) with c1 owl:disjointWith c2 (or complementOf)."""
    spark = triples.sparkSession
    pairs = tbox.disjoint_classes | tbox.complement
    if not pairs:
        # short-circuit: without axioms the TYPES self-join below would still
        # shuffle the whole graph before the empty broadcast kills it
        return local_frame(spark, [], ["inst", "c1", "c2"])
    m = F.broadcast(local_frame(spark, sorted(pairs), ["c1", "c2"]))
    # the axiom classes are driver-known: pre-filter TYPES down to instances of
    # *those* classes before the (inst) self-join — otherwise an instance with
    # k types yields k² join rows over the whole graph before the pair filter
    # (scale-killer; filter below the join can't be pushed by Catalyst because
    # the pair values live in the joined frame)
    axiom_classes = sorted({c for pr in pairs for c in pr})
    types = triples.filter(
        (F.col("p") == vocab.TYPE) & F.col("o").isin(axiom_classes)
    ).select(F.col("s").alias("inst"), F.col("o").alias("cls"))
    return (
        types.alias("a")
        .join(types.alias("b"), "inst")
        .join(m, (F.col("a.cls") == F.col("c1")) & (F.col("b.cls") == F.col("c2")))
        .select("inst", "c1", "c2")
    )


def check_disjoint_properties(triples: DataFrame, tbox: TBoxIndex) -> DataFrame:
    """(x p1 y) ∧ (x p2 y) with p1 propertyDisjointWith p2."""
    spark = triples.sparkSession
    if not tbox.disjoint_props:
        return local_frame(spark, [], ["s", "p1", "p2", "o"])
    m = F.broadcast(local_frame(spark, sorted(tbox.disjoint_props), ["p1", "p2"]))
    # pre-filter to the (driver-known) disjoint predicates before the (s,o)
    # self-join — the unfiltered version shuffles the ENTIRE graph on (s,o)
    # whenever any propertyDisjointWith axiom exists
    axiom_props = sorted({p for pr in tbox.disjoint_props for p in pr})
    t = triples.filter(F.col("p").isin(axiom_props)).select("s", "p", "o")
    return (
        t.alias("a")
        .join(t.alias("b"), ["s", "o"])
        .join(m, (F.col("a.p") == F.col("p1")) & (F.col("b.p") == F.col("p2")))
        .select("s", "p1", "p2", "o")
    )


def check_same_different(triples: DataFrame) -> DataFrame:
    """sameAs(a,b) ∧ differentFrom(a,b) in either orientation."""
    same = triples.filter(F.col("p") == vocab.SAMEAS).select(
        F.least("s", "o").alias("a"), F.greatest("s", "o").alias("b")
    )
    diff = triples.filter(F.col("p") == vocab.DIFFERENT).select(
        F.least("s", "o").alias("a"), F.greatest("s", "o").alias("b")
    )
    return same.join(diff, ["a", "b"], "left_semi")


def run_all_checks(triples: DataFrame, tbox: TBoxIndex, raise_on_violation: bool = True) -> dict[str, int]:
    """Evaluate every consistency frame; nonempty ⇒ FusionError (reference F5
    short-circuit, re_shacl.py:83-86 etc.).  Returns per-check violation counts."""
    frames = {
        "irreflexive": check_irreflexive(triples, tbox),
        "asymmetric": check_asymmetric(triples, tbox),
        "disjoint_classes": check_disjoint_classes(triples, tbox),
        "disjoint_properties": check_disjoint_properties(triples, tbox),
        "same_different": check_same_different(triples),
    }
    # ONE action for all five checks: tag each frame and count by tag (five
    # separate .count() jobs would each pay a full scheduling round-trip)
    tagged = None
    for k, v in frames.items():
        part = v.select(F.lit(k).alias("_check"))
        tagged = part if tagged is None else tagged.unionByName(part)
    got = {r["_check"]: r["n"] for r in tagged.groupBy("_check").agg(F.count(F.lit(1)).alias("n")).collect()}
    counts = {k: int(got.get(k, 0)) for k in frames}
    if raise_on_violation:
        bad = {k: n for k, n in counts.items() if n}
        if bad:
            raise FusionError(f"consistency violations: {bad}")
    return counts
