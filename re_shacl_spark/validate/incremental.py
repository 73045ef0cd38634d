"""Incremental SHACL validation over additive deltas — the "Re-" idea applied
to crawl increments.

The reference reduces validation by scoping each run to the shapes/paths the
merge actually touched (/root/reference/ReSHACL/re_shacl.py's reduced-
validation strategy, one static graph).  Here the same reduction is applied
along the TIME axis: after ``pipeline.fuse_delta`` folds a crawl increment
into a closed base KG, only the focus nodes the delta can influence are
re-validated, and their fresh verdicts replace the stale rows of the previous
report.  Everything the delta cannot reach keeps its old verdict unchanged.
What tracks |delta| is the work past the scans: the rows that are shuffled,
aggregated and checked, and the report rows that are rewritten.  Each
re-validation still reads the graph: one predicate-filtered scan per
target kind and per constrained path, the reverse hops of the affected-foci
derivation, and, with sh:class constraints, one aggregation of the named
classes' rdf:type rows.

Affected-focus derivation (delta is ADDITIVE — the fuse pipeline only grows
the graph):

* every delta subject — its value set at any forward path may have grown
  (counts, facets, pairs, closed);
* every delta resource object — inverse paths and ``sh:targetObjectsOf``
  make it a focus whose values changed;
* sh:node widening: a focus conforms/violates through the conformance of its
  referenced VALUES, so any node whose referenced value is affected is
  affected too — one reverse hop per shape-reference DAG level, walking the
  referencing paths backwards (ref-DAG-depth rounds of one join each).

Complex ``sh:path`` expressions (sequence/closure) can propagate an edge
insertion to foci arbitrarily far away, so their presence falls back to full
re-validation — honestly gated, not silently wrong.

Scale shape: the affected set is |delta|-proportional.  The restricted
``validate(_focus_subset=..., _focus_count=...)`` call semi-joins its target
and value rows with that set (a broadcast up to
``BROADCAST_REP_MAP_MAX_ROWS`` foci) before its one aggregation, so the
shuffle carries only the affected slice, while sh:node conforming sets stay
global (computed by the engine's unrestricted recursion) so restricted
verdicts equal full-run verdicts row for row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from re_shacl_spark.canonicalize.rewrite import BROADCAST_REP_MAP_MAX_ROWS
from re_shacl_spark.model.triples import materialize, vocab
from re_shacl_spark.query import Path as PathExpr
from re_shacl_spark.reasoning.tbox import TBoxIndex
from re_shacl_spark.validate.engine import ValidationReport, validate
from re_shacl_spark.validate.shapes import NodeShape, _all_pcs, _sub_pcs


def _affected_foci(
    full: DataFrame, delta: DataFrame, shapes: list[NodeShape], typed: bool = True
) -> DataFrame:
    """Nodes whose validation verdict the additive delta can change, as a
    materialized frame with a distinct ``node`` column; the benchmark's
    tracer (perfbench/trace.py) reads the affected set through this name."""
    return _counted_affected_foci(full, delta, shapes, typed)[0]


def _counted_affected_foci(
    full: DataFrame, delta: DataFrame, shapes: list[NodeShape], typed: bool = True
) -> tuple[DataFrame, int]:
    """Nodes whose validation verdict the additive delta can change, as a
    materialized frame with a distinct ``node`` column, and its row count as
    that materialization observed it.

    ``typed`` says whether the delta holds rdf:type rows; without them the
    sh:class hop below finds nothing, so it is left out."""
    base_nodes = (
        delta.select(F.col("s").alias("node"))
        .unionByName(
            delta.filter(~F.col("is_lit")).select(F.col("o").alias("node"))
        )
        .distinct()
    )
    # sh:class widening: a focus verdict depends on the TYPES of its values,
    # so a delta (v, rdf:type, c) row changes foci pointing at v through any
    # class-constrained path (base constraint or any or/and/xone branch or
    # qualifiedValueShape — _sub_pcs covers them all) even though no edge of
    # those foci changed.  One reverse hop over the class paths seeded from
    # the delta's rdf:type SUBJECTS; the sh:node loop below then propagates
    # the widening up the reference DAG.  (Other value-facets — datatype,
    # nodeKind, pattern, range — are value-intrinsic: an additive delta can
    # only change them by adding an edge, which marks the focus directly.)
    class_paths = [
        (pc.path, pc.inverse)
        for ns in shapes
        for pc in _all_pcs(ns)
        if isinstance(pc.path, str) and any(x.clazz for x in _sub_pcs(pc))
    ]
    if class_paths and typed:
        typed_nodes = delta.filter(F.col("p") == vocab.TYPE).select(
            F.col("s").alias("node")
        ).distinct()
        hops = []
        for path, inverse in class_paths:
            e = full.filter(F.col("p") == path)
            src, dst = ("o", "s") if not inverse else ("s", "o")
            hops.append(
                e.join(
                    typed_nodes.withColumnRenamed("node", src), src, "left_semi"
                ).select(F.col(dst).alias("node"))
            )
        widened = hops[0]
        for h in hops[1:]:
            widened = widened.unionByName(h)
        base_nodes = base_nodes.unionByName(widened).distinct()
    # sh:node widening: referencing paths walked backwards, once per ref level
    ref_paths: list[tuple[str, bool]] = []
    depth = 0
    for ns in shapes:
        for pc in _all_pcs(ns):
            if any(x.node_ref for x in _sub_pcs(pc)) and isinstance(pc.path, str):
                ref_paths.append((pc.path, pc.inverse))
                depth = max(depth, 1)
    # nested shape references deepen the walk to the ref-DAG depth
    if ref_paths:
        ref_ids = {
            x.node_ref
            for ns in shapes
            for pc in _all_pcs(ns)
            for x in _sub_pcs(pc)
            if x.node_ref
        }
        by_id = {ns.shape_id for ns in shapes}
        depth = max(depth, len(ref_ids & by_id))
    affected = base_nodes
    for _ in range(depth):
        steps = []
        for path, inverse in ref_paths:
            e = full.filter(F.col("p") == path)
            src, dst = ("o", "s") if not inverse else ("s", "o")
            steps.append(
                e.join(
                    affected.withColumnRenamed("node", src), src, "left_semi"
                ).select(F.col(dst).alias("node"))
            )
        if not steps:
            break
        widened = steps[0]
        for s_ in steps[1:]:
            widened = widened.unionByName(s_)
        new, c = materialize(widened.distinct().join(affected, "node", "left_anti"))
        if not c["rows"]:
            break
        affected = affected.unionByName(new).distinct()
    affected, c = materialize(affected)
    return affected, c["rows"]


def _reject_merged_base_nodes(base: DataFrame, delta: DataFrame) -> None:
    """A fused delta's owl:sameAs rows are (rep, owl:sameAs, member).  If a
    member already occurs in the base, the fused graph renamed it to its rep,
    but the base still holds its pre-merge rows: ``base ∪ delta`` is then not
    the fused graph, and a re-check would report the stale member.  A member
    that occurs only in the delta leaves the base intact."""
    members = delta.filter(F.col("p") == vocab.SAMEAS).select(F.col("o").alias("node"))
    nodes = base.select(F.col("s").alias("node")).unionByName(
        base.filter(~F.col("is_lit")).select(F.col("o").alias("node"))
    )
    if not nodes.join(F.broadcast(members.distinct()), "node", "left_semi").isEmpty():
        raise ValueError(
            "validate_delta: the delta merges nodes of the base through "
            "owl:sameAs, so base ∪ delta still holds their pre-merge rows; "
            "validate the fused graph in full"
        )


def validate_delta(
    spark: SparkSession,
    base: DataFrame,
    delta: DataFrame,
    shapes: list[NodeShape],
    base_report: ValidationReport,
    tbox: TBoxIndex | None = None,
    with_details: bool = False,
) -> ValidationReport:
    """Validate ``base ∪ delta`` by re-checking only the delta-affected foci
    and splicing their fresh verdicts into ``base_report``.

    ``base_report`` must be the report of ``validate(spark, base, shapes)``
    (same shapes, same detail mode).  The result equals a full
    ``validate(spark, base ∪ delta, shapes)`` row for row.

    ``delta`` is |delta|-sized by contract but may arrive as a lazy plan over
    the whole graph (e.g. an anti-join of the fused graph against the base),
    so it is materialized once, at entry: every use below — the subClassOf
    count, the affected-foci seeds and every branch of the re-validation —
    reads the checkpoint, and that one job also counts the subClassOf,
    rdf:type and owl:sameAs rows.  With no rdf:type row in the delta, the
    sh:class hop of the affected-foci derivation (a scan of every
    class-constrained path's edges) is skipped: no value's types changed.

    Raises ``ValueError`` when the delta's owl:sameAs rows merge a node the
    base already holds: the base then keeps that node's pre-merge rows, so
    only a full ``validate`` of the fused graph is correct.
    """
    delta, delta_counts = materialize(
        delta,
        subclass=F.col("p") == vocab.SUBCLASS,
        typed=F.col("p") == vocab.TYPE,
        same_as=F.col("p") == vocab.SAMEAS,
    )
    if delta_counts["same_as"] > 0:
        _reject_merged_base_nodes(base, delta)
    full = base.unionByName(delta)
    # sh:sparql constraints and SHACL-AF sh:target queries join arbitrary
    # patterns — a delta edge can flip a solution (or pull in a focus) that
    # the reverse-path widening below cannot see, so they have no local
    # affected set either; validate fully
    from re_shacl_spark.validate.engine import _has_sparql

    complex_paths = (
        any(isinstance(pc.path, PathExpr) for ns in shapes for pc in _all_pcs(ns))
        or _has_sparql(shapes)
        or any(ns.sparql_targets for ns in shapes)
    )
    # a sequence/closure path can carry an edge insertion to arbitrarily
    # distant foci, and a subclass-axiom delta re-scopes targets globally —
    # neither has a local affected set; validate fully (mirrors fuse_delta's
    # TBox fallback)
    tbox_delta = delta_counts["subclass"] > 0
    if complex_paths or tbox_delta:
        return validate(spark, full, shapes, tbox, with_details=with_details)
    affected, n_affected = _counted_affected_foci(
        full, delta, shapes, typed=delta_counts["typed"] > 0
    )
    fresh = validate(
        spark, full, shapes, tbox, with_details=with_details,
        _focus_subset=affected, _focus_count=n_affected,
    )
    stale = affected.withColumnRenamed("node", "focus")
    if n_affected <= BROADCAST_REP_MAP_MAX_ROWS:
        stale = F.broadcast(stale)
    kept = base_report.violations.join(stale, "focus", "left_anti")
    merged, c = materialize(kept.unionByName(fresh.violations))
    return ValidationReport(merged, not c["rows"], len(shapes))
