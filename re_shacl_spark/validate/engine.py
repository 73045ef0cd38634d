"""Distributed SHACL validation as Spark SQL aggregations.

The reference delegates validation to pyshacl on the fused in-memory graph
(/root/reference/run_experiment.py:99-102, inference='none' after merging).
Here the same reduced-validation contract is a *flat dataflow*:

  1. broadcast the compiled constraint table (shapes are KBs; triples are TBs),
  2. one scan of TYPES for target selection (targetClass + subclass closure
     down, pre-materialized by fusion),
  3. one shuffle join values-to-focus,
  4. one groupBy(shape, property-constraint, focus) computing EVERY aggregate
     constraint (minCount/maxCount/hasValue + bad-value counts) in a single
     pass — the per-shape early-termination strategy: a focus node's value
     conformance is a short-circuiting boolean expression and all aggregates
     share one shuffle,
  5. violation rows = filters over the aggregate frame (+ per-value rows).

#shuffles is O(1) in the number of shapes (Shape_30 has 641 shapes — per-shape
jobs would be 641 scans; this is 1).

sh:node references are resolved by iterating the flat evaluation to fixpoint
over the conforming-value sets (optimistic start — cycles converge downward),
depth-bounded by the shape-reference DAG.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from re_shacl_spark.model.triples import local_frame, vocab
from re_shacl_spark.query import Path as PathExpr
from re_shacl_spark.query import eval_path
from re_shacl_spark.reasoning.tbox import TBoxIndex
from re_shacl_spark.validate.shapes import NodeShape, PropertyConstraint


def _path_str(path) -> str | None:
    """Grid/report form of an sh:path: complex paths (sequence, alternative,
    closure — compiled to query.Path expressions by shapes._path_expr) are
    keyed by their expression string, which doubles as the virtual predicate
    under which their value pairs are injected for the values join."""
    return path.expr if isinstance(path, PathExpr) else path

SH = vocab.SH

_PC_SCHEMA = T.StructType(
    [
        T.StructField("pc_id", T.LongType()),
        T.StructField("shape_id", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("inverse", T.BooleanType()),  # sh:inversePath traversal
        T.StructField("min_count", T.IntegerType()),
        T.StructField("max_count", T.IntegerType()),
        T.StructField("clazz", T.StringType()),
        T.StructField("datatype", T.StringType()),
        T.StructField("node_kind", T.StringType()),
        T.StructField("node_ref", T.StringType()),
        T.StructField("in_values", T.ArrayType(T.StringType())),
        T.StructField("has_value", T.StringType()),
        T.StructField("pattern", T.StringType()),
        T.StructField("min_length", T.IntegerType()),
        T.StructField("max_length", T.IntegerType()),
        T.StructField("min_inclusive", T.StringType()),   # numeric range facets:
        T.StructField("max_inclusive", T.StringType()),   # lexical forms, compared
        T.StructField("min_exclusive", T.StringType()),   # as doubles at eval time
        T.StructField("max_exclusive", T.StringType()),
        T.StructField("language_in", T.ArrayType(T.StringType())),
        T.StructField("unique_lang", T.BooleanType()),
        T.StructField("q_min", T.IntegerType()),  # sh:qualifiedMinCount
        T.StructField("q_max", T.IntegerType()),  # sh:qualifiedMaxCount
        T.StructField("negated", T.BooleanType()),
        T.StructField("branch_idx", T.IntegerType()),  # null = base row; >=0 = branch
        # branch combinator: null = base row; 'or' | 'and' | 'xone' = logical
        # branch rows collapsed per-value (any / all / exactly-one); 'qual' =
        # the sh:qualifiedValueShape row (counted per focus, never a per-value
        # violation)
        T.StructField("comb", T.StringType()),
        T.StructField("is_not", T.BooleanType()),  # node-level sh:not property shape
        T.StructField("severity", T.StringType()),  # effective sh:severity IRI
        T.StructField("message", T.StringType()),   # effective sh:message
    ]
)


@dataclass
class ValidationReport:
    violations: DataFrame  # (focus, shape, path, constraint, value)
    conforms: bool
    shapes_evaluated: int


def _branch_groups(pc: PropertyConstraint) -> list[tuple[str, list[PropertyConstraint]]]:
    """(combinator, branches) pairs riding a constraint's grid rows: sh:or
    (any conforms), sh:and (all conform), sh:xone (exactly one conforms),
    'qual' (the sh:qualifiedValueShape, counted per focus)."""
    groups = []
    if pc.or_branches:
        groups.append(("or", pc.or_branches))
    if pc.and_branches:
        groups.append(("and", pc.and_branches))
    if pc.xone_branches:
        groups.append(("xone", pc.xone_branches))
    if pc.qualified is not None:
        groups.append(("qual", [pc.qualified]))
    return groups


def _pc_rows(shapes: list[NodeShape]) -> list[tuple]:
    rows: list[tuple] = []
    pc_id = 0
    for ns in shapes:
        pcs = [(pc, False) for pc in ns.properties]
        if ns.self_constraint:
            pcs.append((ns.self_constraint, False))
        # node-level sh:not property shapes ride the same grid, flagged: the
        # focus violates iff the inner shape CONFORMS (counts + all values)
        pcs += [(pc, True) for pc in ns.not_properties]
        for pc, is_not in pcs:
            sev = pc.severity or ns.severity
            msg = pc.message or ns.message
            rows.append(
                (
                    pc_id, ns.shape_id, _path_str(pc.path), pc.inverse, pc.min_count, pc.max_count,
                    pc.clazz, pc.datatype, pc.node_kind, pc.node_ref,
                    pc.in_values, pc.has_value, pc.pattern, pc.min_length,
                    pc.max_length, pc.min_inclusive, pc.max_inclusive,
                    pc.min_exclusive, pc.max_exclusive, pc.language_in,
                    pc.unique_lang, pc.q_min_count, pc.q_max_count,
                    pc.negated, None, None, is_not, sev, msg,
                )
            )
            for comb, branches in _branch_groups(pc):
                for bi, b in enumerate(branches):
                    rows.append(
                        (
                            pc_id, ns.shape_id, _path_str(pc.path), pc.inverse, None, None,
                            b.clazz, b.datatype, b.node_kind, b.node_ref,
                            b.in_values, b.has_value, b.pattern, b.min_length,
                            b.max_length, b.min_inclusive, b.max_inclusive,
                            b.min_exclusive, b.max_exclusive, b.language_in,
                            False, None, None,
                            b.negated, bi, comb, is_not, sev, msg,
                        )
                    )
            pc_id += 1
    return rows


def _targets(
    spark: SparkSession,
    triples: DataFrame,
    shapes: list[NodeShape],
    tbox: TBoxIndex | None,
) -> DataFrame:
    """(shape_id, focus) — targetClass (expanded down the subclass closure; the
    fused graph already materializes supertypes, so the closure expansion is a
    correctness belt for pre-fusion inputs), implicit class targets, targetNode."""
    cls_rows: list[tuple[str, str]] = []
    node_rows: list[tuple[str, str]] = []
    subj_rows: list[tuple[str, str]] = []
    obj_rows: list[tuple[str, str]] = []
    for ns in shapes:
        classes = set(ns.target_classes)
        if ns.implicit_class_target:
            classes.add(ns.shape_id)
        expanded: set[str] = set()
        for c in classes:
            expanded |= tbox.subclasses_of(c) if tbox else {c}
        cls_rows += [(c, ns.shape_id) for c in sorted(expanded)]
        node_rows += [(ns.shape_id, n) for n in ns.target_nodes]
        subj_rows += [(p, ns.shape_id) for p in ns.target_subjects_of]
        obj_rows += [(p, ns.shape_id) for p in ns.target_objects_of]

    types = triples.filter(F.col("p") == vocab.TYPE).select(
        F.col("s").alias("focus"), F.col("o").alias("cls")
    )
    cls_map = F.broadcast(
        local_frame(spark, cls_rows, ["cls", "shape_id"])
    )
    by_class = types.join(cls_map, "cls").select("shape_id", "focus")
    by_node = local_frame(spark, node_rows, ["shape_id", "focus"])
    out = by_class.unionByName(by_node)
    # sh:targetSubjectsOf / targetObjectsOf: one broadcast predicate-map join
    # each — the predicate filter pushes into the scan
    for rows2, col in ((subj_rows, "s"), (obj_rows, "o")):
        if rows2:
            pm = F.broadcast(local_frame(spark, rows2, ["p", "shape_id"]))
            out = out.unionByName(
                triples.join(pm, "p").select("shape_id", F.col(col).alias("focus"))
            )
    # SHACL-AF custom targets: each sh:target/sh:select runs as one
    # distributed bgp plan; its ?this solutions ARE the focus set
    for ns in shapes:
        for tgt in getattr(ns, "sparql_targets", []):
            from re_shacl_spark.validate.sparql import evaluate, parse_select

            sol = evaluate(triples, parse_select(tgt.select, tgt.prefixes))
            out = out.unionByName(
                sol.select(
                    F.lit(ns.shape_id).alias("shape_id"),
                    F.col("this").alias("focus"),
                )
            )
    return out.distinct()


def _value_conformance(col_prefix: str = "") -> F.Column:
    """Short-circuiting per-value conformance for one constraint row: nodeKind →
    datatype → in → class/node-ref flags (flags are join-produced booleans).
    Null o (focus without values) is vacuously conforming.

    Known pragmatic: sh:in / sh:hasValue compare by the value's STRING FORM
    (the shapes API carries their entries as plain strings; every committed
    shape graph lists IRIs or typed numbers with no IRI/literal pun), unlike
    the count/value collapse below, which keys on full term identity."""
    o = F.col("o")
    is_lit = F.col("is_lit")
    eff_dtype = F.coalesce(
        F.col("o_lit.dtype"),
        F.when(F.col("o_lit.lang").isNotNull(), F.lit(vocab.RDF + "langString")).otherwise(
            F.lit(vocab.XSD + "string")
        ),
    )
    node_kind_ok = (
        F.when(F.col("node_kind").isNull(), F.lit(True))
        .when(F.col("node_kind") == SH + "IRI", ~is_lit & ~o.startswith("_:"))
        .when(F.col("node_kind") == SH + "Literal", is_lit)
        .when(F.col("node_kind") == SH + "BlankNode", ~is_lit & o.startswith("_:"))
        .otherwise(F.lit(True))
    )
    dtype_ok = F.when(F.col("datatype").isNull(), F.lit(True)).otherwise(
        is_lit & (eff_dtype == F.col("datatype"))
    )
    in_ok = F.when(F.col("in_values").isNull(), F.lit(True)).otherwise(
        F.array_contains(F.col("in_values"), o)
    )
    # sh:pattern / sh:minLength / sh:maxLength apply to the value's string
    # form (lex for literals, the IRI otherwise; bnodes fail per spec)
    not_bnode = ~o.startswith("_:") | is_lit
    pattern_ok = F.when(F.col("pattern").isNull(), F.lit(True)).otherwise(
        not_bnode & F.regexp_like(o, F.col("pattern"))
    )
    len_ok = (
        F.when(F.col("min_length").isNull(), F.lit(True)).otherwise(
            not_bnode & (F.length(o) >= F.col("min_length"))
        )
        & F.when(F.col("max_length").isNull(), F.lit(True)).otherwise(
            not_bnode & (F.length(o) <= F.col("max_length"))
        )
    )
    class_ok = F.when(F.col("clazz").isNull(), F.lit(True)).otherwise(
        F.col("_class_hit").isNotNull()
    )
    ref_ok = F.when(F.col("node_ref").isNull(), F.lit(True)).otherwise(
        F.col("_ref_ok")
    )
    # numeric range facets: constraint lexical forms and the value both compare
    # as doubles; a non-numeric value violates any range facet (SHACL: value
    # nodes that cannot be compared are violations)
    num = o.try_cast("double")
    range_ok = (
        F.when(F.col("min_inclusive").isNull(), F.lit(True)).otherwise(
            is_lit & num.isNotNull() & (num >= F.col("min_inclusive").try_cast("double"))
        )
        & F.when(F.col("max_inclusive").isNull(), F.lit(True)).otherwise(
            is_lit & num.isNotNull() & (num <= F.col("max_inclusive").try_cast("double"))
        )
        & F.when(F.col("min_exclusive").isNull(), F.lit(True)).otherwise(
            is_lit & num.isNotNull() & (num > F.col("min_exclusive").try_cast("double"))
        )
        & F.when(F.col("max_exclusive").isNull(), F.lit(True)).otherwise(
            is_lit & num.isNotNull() & (num < F.col("max_exclusive").try_cast("double"))
        )
    )
    # sh:languageIn: only language-tagged literals with a listed tag conform
    lang_ok = F.when(F.col("language_in").isNull(), F.lit(True)).otherwise(
        is_lit & F.array_contains(F.col("language_in"), F.coalesce(F.col("o_lit.lang"), F.lit("")))
    )
    conf = (
        node_kind_ok & dtype_ok & in_ok & pattern_ok & len_ok & range_ok
        & lang_ok & class_ok & ref_ok
    )
    conf = F.when(F.col("negated"), ~conf).otherwise(conf)
    return F.when(o.isNull(), F.lit(True)).otherwise(conf)


def validate(
    spark: SparkSession,
    triples: DataFrame,
    shapes: list[NodeShape],
    tbox: TBoxIndex | None = None,
    max_ref_depth: int | None = None,
    with_details: bool = False,
    _ref_sets: dict[str, DataFrame] | None = None,
    _extra_focus: dict[str, DataFrame] | None = None,
    _focus_subset: DataFrame | None = None,
) -> ValidationReport:
    global _LAST_PLAN_FRAME
    shapes = [s for s in shapes if not s.deactivated]  # sh:deactivated true
    pc_rows = _pc_rows(shapes)
    if not pc_rows:
        schema = "focus string, shape string, path string, constraint string, value string"
        if with_details:
            schema += ", severity string, message string"
        empty = local_frame(spark, [], schema)
        if not _has_sparql(shapes):
            return ValidationReport(empty, True, 0)
        # shapes carrying ONLY sh:sparql constraints: no grid to build —
        # evaluate the SPARQL blocks against the targets directly
        targets = _targets(spark, triples, shapes, tbox)
        sv = _sparql_violations(spark, triples, targets, shapes, with_details)
        violations = empty.unionByName(sv) if sv is not None else empty
        _LAST_PLAN_FRAME = violations
        violations = violations.localCheckpoint(eager=True)
        return ValidationReport(violations, violations.isEmpty(), len(shapes))
    pcs = F.broadcast(local_frame(spark, pc_rows, _PC_SCHEMA))
    base_pcs = pcs.filter(F.col("branch_idx").isNull())

    targets = _targets(spark, triples, shapes, tbox)
    if _extra_focus:
        # sh:node conformance evaluation (from _resolve_node_refs): referenced
        # shapes are checked over targets ∪ values-at-referencing-paths, so a
        # value that satisfies the shape's constraints conforms even when it
        # is not typed with the shape's target class (SHACL/pyshacl parity —
        # ADVICE r2).  Reporting calls never pass this: violations stay
        # target-scoped per spec.
        extra_parts = [
            df.select(F.lit(sid).alias("shape_id"), F.col("node").alias("focus"))
            for sid, df in sorted(_extra_focus.items())
        ]
        for x in extra_parts:
            targets = targets.unionByName(x)
        targets = targets.distinct()
    if _focus_subset is not None:
        # incremental validation (validate/incremental.py): re-check only the
        # foci a delta touched — the grid, values join and aggregations all
        # shrink to the affected slice.  sh:node conforming sets stay GLOBAL
        # (resolved by the unrestricted recursion below), so restriction never
        # changes a re-checked focus's verdict.
        targets = targets.join(
            _focus_subset.select(F.col("node").alias("focus")).distinct(),
            "focus",
            "left_semi",
        )
    # focus × constraint grid for this shape's targets
    tp = targets.join(base_pcs.select("pc_id", "shape_id"), "shape_id")

    # complex sh:path constraints: materialize each distinct path expression
    # ONCE as (focus, value) pairs under a virtual predicate named by the
    # expression — the ordinary broadcast values join below then serves plain
    # and complex paths identically.  Only the values join sees these rows:
    # targets / class flags / closed checks keep the real graph.
    val_triples = _path_value_triples(triples, shapes)

    # values at each constrained path: broadcast join puts path filter into the scan
    paths = base_pcs.select(
        F.col("pc_id").alias("v_pc_id"), F.col("path").alias("p"), "inverse"
    ).filter(F.col("p").isNotNull())
    vals = (
        val_triples.join(paths.filter(~F.col("inverse")).drop("inverse"), "p")
        .select(
            F.col("v_pc_id").alias("pc_id"),
            F.col("s").alias("focus"),
            "o",
            "o_lit",
            "is_lit",
        )
    )
    if any(pc.inverse for ns in shapes for pc in _all_pcs(ns)):
        # sh:inversePath: the focus is the OBJECT of the edge; values are the
        # subjects (always resource nodes — s can't be a literal)
        inv_vals = (
            val_triples.join(paths.filter(F.col("inverse")).drop("inverse"), "p")
            .select(
                F.col("v_pc_id").alias("pc_id"),
                F.col("o").alias("focus"),
                F.col("s").alias("o"),
                F.lit(None).cast(triples.schema["o_lit"].dataType).alias("o_lit"),
                F.lit(False).alias("is_lit"),
            )
        )
        vals = vals.unionByName(inv_vals)
    grid = tp.join(vals, ["pc_id", "focus"], "left")

    # class-conformance flags for any constraint row (base or or-branch):
    # the fused graph materializes supertypes, so (o type clazz) is a direct hit
    types = triples.filter(F.col("p") == vocab.TYPE).select(
        F.col("s").alias("_inst"), F.col("o").alias("_cls")
    ).distinct()

    all_pc_cols = pcs.select(
        "pc_id", "branch_idx", "comb", "clazz", "datatype", "node_kind", "node_ref",
        "in_values", "has_value", "pattern", "min_length", "max_length",
        "min_inclusive", "max_inclusive", "min_exclusive", "max_exclusive",
        "language_in", "negated",
    )

    # explode grid × (base + branches) so or-branches evaluate in the same pass
    g = grid.join(all_pc_cols, "pc_id")
    g = g.join(
        types,
        (g["o"] == types["_inst"]) & (g["clazz"] == types["_cls"]) & (~g["is_lit"].eqNullSafe(F.lit(True)) | ~g["is_lit"]),
        "left",
    ).withColumnRenamed("_inst", "_class_hit").drop("_cls")

    # sh:node conforming sets: iterate to fixpoint (optimistic start)
    # node_ref is the 10th element of the _PC_SCHEMA row layout
    _REF_IDX = [f.name for f in _PC_SCHEMA.fields].index("node_ref")
    ref_shapes = sorted({r[_REF_IDX] for r in pc_rows if r[_REF_IDX]})
    if ref_shapes and _ref_sets is not None:
        # inner call from _resolve_node_refs: refs resolve against the
        # PREVIOUS sweep's conforming sets (no fresh recursion — this is what
        # makes refinement actually deepen past two reference hops)
        g = _join_ref_sets(g, _ref_sets)
    elif ref_shapes:
        # depth = the REAL shape-reference DAG depth (LUBM chains are ≤4 deep;
        # the old max(3, len(shapes)) bound scheduled up to 30 refinement
        # sweeps on Shape_30 for nothing).  Cycles fall back to a fixpoint
        # bound — each sweep can only shrink the conforming sets.
        depth = max_ref_depth if max_ref_depth is not None else _ref_dag_depth(shapes)
        g = _resolve_node_refs(
            spark, triples, shapes, tbox, g, ref_shapes, depth, val_triples=val_triples
        )
    else:
        g = g.withColumn("_ref_ok", F.lit(True))

    conf = _value_conformance()
    per_value = g.withColumn("_conf", conf).withColumn(
        "_lang", F.col("o_lit.lang")
    ).withColumn("_dtype", F.col("o_lit.dtype"))

    # collapse branch rows per VALUE (RDF term identity: lex + dtype + lang —
    # "1"^^xsd:int and "1"^^xsd:string are distinct values): base row must
    # conform AND, per combinator group, or→any / and→all / xone→exactly one
    vkey = ["pc_id", "shape_id", "focus", "o", "is_lit", "_lang", "_dtype"]
    collapsed = per_value.groupBy(*vkey).agg(
        F.max(F.when(F.col("comb").isNull(), F.col("_conf"))).alias("_base_conf"),
        F.max(F.when(F.col("comb") == "or", F.col("_conf"))).alias("_or_conf"),
        F.min(F.when(F.col("comb") == "and", F.col("_conf"))).alias("_and_conf"),
        F.sum(F.when(F.col("comb") == "xone", F.col("_conf").cast("int"))).alias("_xone_n"),
        F.max(F.when(F.col("comb") == "qual", F.col("_conf"))).alias("_q_conf"),
        F.first("has_value", ignorenulls=True).alias("has_value"),
    )
    collapsed = collapsed.withColumn(
        "_vconf",
        F.col("_base_conf")
        & F.coalesce(F.col("_or_conf"), F.lit(True))
        & F.coalesce(F.col("_and_conf"), F.lit(True))
        & F.when(
            F.col("_xone_n").isNull() | F.col("o").isNull(), F.lit(True)
        ).otherwise(F.col("_xone_n") == 1),
    )

    # single-pass per-focus aggregation: every count/exists constraint at once
    agg = collapsed.groupBy("pc_id", "shape_id", "focus").agg(
        F.count("o").alias("cnt"),
        F.sum(F.when(~F.col("_vconf"), 1).otherwise(0)).alias("bad_vals"),
        F.max(
            F.when(F.col("has_value").isNotNull() & (F.col("o") == F.col("has_value")), True)
        ).alias("has_v"),
        F.sum(
            F.when(F.col("_q_conf") & F.col("o").isNotNull(), 1).otherwise(0)
        ).alias("q_cnt"),
        # sh:uniqueLang: collapsed rows are distinct per (value, lang), so a
        # tag count exceeding the distinct-tag count means two values share one
        F.count(F.col("_lang")).alias("n_lang"),
        F.count_distinct(F.col("_lang")).alias("n_lang_distinct"),
    )
    agg = agg.join(
        base_pcs.select(
            "pc_id", "path", "min_count", "max_count", "has_value",
            "q_min", "q_max", "unique_lang", "is_not", "severity", "message",
        ),
        "pc_id",
    )
    pos = ~F.coalesce(F.col("is_not"), F.lit(False))

    detail_cols = (
        [
            F.coalesce(F.col("severity"), F.lit(SH + "Violation")).alias("severity"),
            F.col("message"),
        ]
        if with_details
        else []
    )
    mk = lambda cond, constraint, value: agg.filter(cond).select(  # noqa: E731
        F.col("focus"),
        F.col("shape_id").alias("shape"),
        F.col("path"),
        F.lit(constraint).alias("constraint"),
        value.cast("string").alias("value"),
        *detail_cols,
    )
    v_min = mk(pos & F.col("min_count").isNotNull() & (F.col("cnt") < F.col("min_count")), "minCount", F.col("cnt"))
    v_max = mk(pos & F.col("max_count").isNotNull() & (F.col("cnt") > F.col("max_count")), "maxCount", F.col("cnt"))
    v_hv = mk(pos & F.col("has_value").isNotNull() & (~F.coalesce(F.col("has_v"), F.lit(False))), "hasValue", F.col("has_value"))
    # sh:qualifiedMinCount/MaxCount: bounds on the count of values conforming
    # to the qualified value shape (q_cnt aggregated from the 'qual' rows)
    v_qmin = mk(pos & F.col("q_min").isNotNull() & (F.col("q_cnt") < F.col("q_min")), "qualifiedMinCount", F.col("q_cnt"))
    v_qmax = mk(pos & F.col("q_max").isNotNull() & (F.col("q_cnt") > F.col("q_max")), "qualifiedMaxCount", F.col("q_cnt"))
    v_ulang = mk(
        pos & F.coalesce(F.col("unique_lang"), F.lit(False))
        & (F.col("n_lang") > F.col("n_lang_distinct")),
        "uniqueLang", F.col("n_lang") - F.col("n_lang_distinct"),
    )
    # node-level sh:not: violation iff the inner property shape CONFORMS —
    # count bounds satisfied, every value conforms, hasValue present
    inner_ok = (
        (F.col("min_count").isNull() | (F.col("cnt") >= F.col("min_count")))
        & (F.col("max_count").isNull() | (F.col("cnt") <= F.col("max_count")))
        & (F.col("bad_vals") == 0)
        & (F.col("has_value").isNull() | F.coalesce(F.col("has_v"), F.lit(False)))
    )
    v_not = mk(~pos & inner_ok, "not", F.col("cnt"))
    v_vals = (
        collapsed.filter(~F.col("_vconf"))
        .join(base_pcs.select("pc_id", "path", "is_not", "severity", "message"), "pc_id")
        .filter(~F.coalesce(F.col("is_not"), F.lit(False)))
        .select(
            "focus",
            F.col("shape_id").alias("shape"),
            "path",
            F.lit("value").alias("constraint"),
            F.col("o").cast("string").alias("value"),
            *detail_cols,
        )
    )
    violations = (
        v_min.unionByName(v_max).unionByName(v_hv)
        .unionByName(v_qmin).unionByName(v_qmax).unionByName(v_ulang)
        .unionByName(v_not).unionByName(v_vals)
    )
    for extra in (
        _pair_violations(spark, val_triples, targets, shapes, with_details),
        _closed_violations(spark, triples, targets, shapes, with_details),
        _sparql_violations(spark, triples, targets, shapes, with_details),
    ):
        if extra is not None:
            violations = violations.unionByName(extra)
    # the checkpoint makes the returned frame's plan opaque; keep the logical
    # frame around so scripts/plan_audit.py can audit the REAL dataflow
    # (global declared at function top — the sparql-only fast path sets it too)
    _LAST_PLAN_FRAME = violations
    violations = violations.localCheckpoint(eager=True)
    return ValidationReport(violations, violations.isEmpty(), len(shapes))


# pre-checkpoint violations frame of the most recent validate() call
# (plan-audit introspection only — never used for results)
_LAST_PLAN_FRAME: DataFrame | None = None


def _pair_violations(
    spark: SparkSession,
    triples: DataFrame,
    targets: DataFrame,
    shapes: list[NodeShape],
    with_details: bool = False,
) -> DataFrame | None:
    """sh:equals / sh:disjoint / sh:lessThan / sh:lessThanOrEquals — the
    property-PAIR constraints, comparing a focus node's values at the
    constrained path against its values at a second path.

    Dataflow: one broadcast path-map join per side pulls both value sets out
    of a single triples schema (filter pushed into the scan); set comparisons
    are per-focus equi-joins on (pair_id, focus[, value]) — never all-pairs
    across focuses.  Order comparisons (<, <=) compare numerically when both
    lexical forms cast to double, else by string (SHACL: incomparable pairs
    violate; here string order stands in for the full XSD hierarchy —
    documented deviation).  Values are compared by lexical form (term
    identity minus dtype/lang; deviation noted in SURVEY §2.9)."""
    rows = []
    for ns in shapes:
        pcs = list(ns.properties) + ([ns.self_constraint] if ns.self_constraint else [])
        for pc in pcs:
            if pc.path is None:
                continue
            for kind, other in (
                ("equals", pc.equals), ("disjoint", pc.disjoint),
                ("lessThan", pc.less_than), ("lessThanOrEquals", pc.less_than_or_equals),
            ):
                if other is not None:
                    rows.append((
                        len(rows), ns.shape_id, _path_str(pc.path), other, kind, pc.inverse,
                        pc.severity or ns.severity, pc.message or ns.message,
                    ))
    if not rows:
        return None
    prs = local_frame(
        spark,
        rows,
        "pair_id long, shape_id string, path string, other string, kind string, "
        "inverse boolean, severity string, message string",
    )
    scoped = targets.join(F.broadcast(prs), "shape_id")  # focus × pair grid

    def side(pm_rows: list[tuple], focus_col: str, val_col: str, out: str) -> DataFrame:
        pm = F.broadcast(local_frame(spark, pm_rows, "pair_id long, p string"))
        return triples.join(pm, "p").select(
            "pair_id", F.col(focus_col).alias("focus"), F.col(val_col).alias(out)
        ).distinct()

    fwd = [(r[0], r[2]) for r in rows if not r[5]]
    inv = [(r[0], r[2]) for r in rows if r[5]]
    a_vals = None
    if fwd:
        a_vals = side(fwd, "s", "o", "a")
    if inv:  # sh:inversePath constrained side: focus is the object
        ai = side(inv, "o", "s", "a")
        a_vals = a_vals.unionByName(ai) if a_vals is not None else ai
    a = scoped.join(a_vals, ["pair_id", "focus"])
    b = side([(r[0], r[3]) for r in rows], "s", "o", "b")

    out = F.col("shape_id").alias("shape")
    detail_cols = (
        [
            F.coalesce(F.col("severity"), F.lit(SH + "Violation")).alias("severity"),
            F.col("message"),
        ]
        if with_details
        else []
    )
    mk = lambda df, c, v: df.select(  # noqa: E731
        "focus", out, "path", F.lit(c).alias("constraint"),
        v.cast("string").alias("value"), *detail_cols,
    )
    parts: list[DataFrame] = []
    kinds = {r[4] for r in rows}

    if "equals" in kinds:
        eq = scoped.filter(F.col("kind") == "equals")
        ea = a.filter(F.col("kind") == "equals")
        eb = b.join(eq.select("pair_id", "focus", "shape_id", "path").distinct(), ["pair_id", "focus"])
        a_only = ea.join(
            b.withColumnRenamed("b", "a"), ["pair_id", "focus", "a"], "left_anti"
        )
        b_only = eb.join(
            a.select("pair_id", "focus", F.col("a").alias("b")).distinct(),
            ["pair_id", "focus", "b"], "left_anti",
        )
        # eb carried only the join columns — restore the detail columns
        if with_details:
            det = F.broadcast(prs.select("pair_id", "severity", "message"))
            b_only = b_only.join(det, "pair_id")
        parts += [mk(a_only, "equals", F.col("a")), mk(b_only, "equals", F.col("b"))]

    if "disjoint" in kinds:
        dj = a.filter(F.col("kind") == "disjoint").join(
            b.select("pair_id", "focus", F.col("b").alias("a")), ["pair_id", "focus", "a"]
        )
        parts.append(mk(dj, "disjoint", F.col("a")))

    for kind, strict in (("lessThan", True), ("lessThanOrEquals", False)):
        if kind not in kinds:
            continue
        pa = a.filter(F.col("kind") == kind).join(b, ["pair_id", "focus"])
        an, bn = F.col("a").try_cast("double"), F.col("b").try_cast("double")
        lt = (an < bn) if strict else (an <= bn)
        ls = (F.col("a") < F.col("b")) if strict else (F.col("a") <= F.col("b"))
        ok = F.when(an.isNotNull() & bn.isNotNull(), lt).otherwise(ls)
        keep = ["pair_id", "focus", "shape_id", "path", "a"] + (
            ["severity", "message"] if with_details else []
        )
        bad = pa.filter(~ok).select(*keep).distinct()
        parts.append(mk(bad, kind, F.col("a")))

    res = parts[0]
    for x in parts[1:]:
        res = res.unionByName(x)
    return res


def _closed_violations(
    spark: SparkSession,
    triples: DataFrame,
    targets: DataFrame,
    shapes: list[NodeShape],
    with_details: bool = False,
) -> DataFrame | None:
    """sh:closed true — every predicate appearing on a focus node must be a
    declared sh:property path, an sh:ignoredProperties member, or rdf:type.
    One broadcast anti-join of the focus's outgoing edges against the allowed
    (shape, predicate) table; O(1) shuffles in the number of closed shapes."""
    allowed_rows, closed_ids = [], []
    for ns in shapes:
        if not ns.closed:
            continue
        closed_ids.append(ns.shape_id)
        # only DIRECT path IRIs open a predicate (an inverse-path property
        # shape does not declare the forward predicate — SHACL closed rules)
        # complex (query.Path) paths never whitelist a predicate either: sh:closed
        # only honors direct path IRIs
        ps = {pc.path for pc in ns.properties
              if isinstance(pc.path, str) and not pc.inverse}
        ps.update(ns.ignored_properties)
        ps.add(vocab.TYPE)
        allowed_rows += [(ns.shape_id, p) for p in sorted(ps)]
    if not closed_ids:
        return None
    allowed = F.broadcast(local_frame(spark, allowed_rows, ["shape_id", "p"]))
    foci = targets.filter(F.col("shape_id").isin(closed_ids))
    edges = foci.join(
        triples.select(F.col("s").alias("focus"), "p", "o"), "focus"
    )
    bad = edges.join(allowed, ["shape_id", "p"], "left_anti")
    detail_cols = []
    if with_details:
        sev_rows = [
            (ns.shape_id, ns.severity or SH + "Violation", ns.message)
            for ns in shapes
            if ns.closed
        ]
        sev = F.broadcast(
            local_frame(spark, sev_rows, ["shape_id", "severity", "message"])
        )
        bad = bad.join(sev, "shape_id")
        detail_cols = [F.col("severity"), F.col("message")]
    return bad.select(
        "focus", F.col("shape_id").alias("shape"), F.col("p").alias("path"),
        F.lit("closed").alias("constraint"), F.col("o").cast("string").alias("value"),
        *detail_cols,
    )


def _has_sparql(shapes: list[NodeShape]) -> bool:
    """Any sh:sparql constraint — node-shape level or property-shape level."""
    return any(
        ns.sparql_constraints
        or any(getattr(pc, "sparql_constraints", []) for pc in ns.properties)
        for ns in shapes
    )


def _sparql_violations(
    spark: SparkSession,
    triples: DataFrame,
    targets: DataFrame,
    shapes: list[NodeShape],
    with_details: bool = False,
) -> DataFrame | None:
    """sh:sparql (SHACL §5, restricted fragment — validate/sparql.py): each
    constraint's SELECT compiles to ONE distributed query.bgp plan over the
    whole graph; §5.3.2's per-focus $this pre-binding is realized as an
    equi-join of the solution's ``this`` column against the shape's target
    set — never a per-focus loop, so a 10^12-triple graph pays one plan per
    constraint, with Catalyst pushing the FILTERs below the pattern joins.
    Every distinct solution row is one violation; a projected ``?value``
    populates sh:value (SHACL §5.3.3), path is unbound at node-shape level."""
    from re_shacl_spark.validate.sparql import evaluate, parse_select

    parts: list[DataFrame] = []
    for ns in shapes:
        # node-shape constraints (path unbound) + property-shape constraints
        # (SHACL §5.3 property context: $PATH substitutes the plain
        # predicate path; complex paths are out of fragment scope)
        items = [(None, sc) for sc in ns.sparql_constraints] + [
            (pc, sc)
            for pc in ns.properties
            for sc in getattr(pc, "sparql_constraints", [])
        ]
        for pc, sc in items:
            text = sc.select
            if pc is not None:
                if not isinstance(pc.path, str) or pc.inverse:
                    raise ValueError(
                        "sh:sparql $PATH substitution requires a plain "
                        "forward predicate path"
                    )
                text = text.replace("$PATH", f"<{pc.path}>")
            sol = evaluate(triples, parse_select(text, sc.prefixes))
            val = (
                F.col("value").cast("string")
                if "value" in sol.columns
                else F.lit(None).cast("string")
            )
            sel = sol.select(F.col("this").alias("focus"), val.alias("value")).distinct()
            foc = (
                targets.filter(F.col("shape_id") == ns.shape_id)
                .select("focus").distinct()
            )
            severity = (pc.severity if pc is not None else None) or ns.severity
            message = sc.message or (pc.message if pc is not None else None) or ns.message
            detail_cols = (
                [
                    F.lit(severity or SH + "Violation").alias("severity"),
                    F.lit(message).cast("string").alias("message"),
                ]
                if with_details
                else []
            )
            parts.append(
                sel.join(foc, "focus").select(
                    "focus",
                    F.lit(ns.shape_id).alias("shape"),
                    F.lit(pc.path if pc is not None else None)
                    .cast("string").alias("path"),
                    F.lit("sparql").alias("constraint"),
                    "value",
                    *detail_cols,
                )
            )
    if not parts:
        return None
    out = parts[0]
    for x in parts[1:]:
        out = out.unionByName(x)
    return out


def _path_value_triples(triples: DataFrame, shapes: list[NodeShape]) -> DataFrame:
    """The triple relation extended with virtual-predicate rows for every
    complex sh:path used by the shapes: eval_path materializes (focus, value)
    endpoint pairs (with terminal literal metadata, so datatype/lang facets
    still apply) and each pair becomes a triple whose predicate is the path
    expression string.  No complex paths → the input frame, untouched.  Each
    distinct expression evaluates once regardless of how many constraints use
    it; a `+`/`*` closure inside costs its doubling rounds exactly once."""
    exprs = sorted(
        {
            pc.path.expr
            for ns in shapes
            for pc in _all_pcs(ns)
            if isinstance(pc.path, PathExpr)
        }
    )
    if not exprs:
        return triples
    extra = [c for c in triples.columns if c not in ("s", "p", "o", "o_lit", "is_lit")]
    parts = []
    for expr in exprs:
        pairs = eval_path(triples, expr, keep_meta=True)
        sel = [
            F.col("a").alias("s"), F.lit(expr).alias("p"), F.col("b").alias("o"),
            F.col("b_lit").alias("o_lit"),
            F.coalesce(F.col("b_is"), F.lit(False)).alias("is_lit"),
        ] + [F.lit(None).cast(triples.schema[c].dataType).alias(c) for c in extra]
        parts.append(pairs.select(*sel))
    virt = parts[0]
    for p_ in parts[1:]:
        virt = virt.unionByName(p_)
    return triples.unionByName(virt.select(*triples.columns))


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


def _ref_dag_depth(shapes: list[NodeShape]) -> int:
    """Longest sh:node reference chain (in shapes), measured in refinement
    sweeps needed; cyclic graphs get len(shapes)+1 (downward-converging
    fixpoint bound)."""
    by_id = {s.shape_id: s for s in shapes}
    edges: dict[str, set[str]] = {}
    for s in shapes:
        refs = set()
        for pc in _all_pcs(s):
            for x in _sub_pcs(pc):
                if x.node_ref and x.node_ref in by_id:
                    refs.add(x.node_ref)
        edges[s.shape_id] = refs
    memo: dict[str, int] = {}
    onstack: set[str] = set()

    def depth(sid: str) -> int:
        if sid in memo:
            return memo[sid]
        if sid in onstack:
            raise RecursionError  # cycle
        onstack.add(sid)
        d = 1 + max((depth(r) for r in edges.get(sid, ())), default=0)
        onstack.discard(sid)
        memo[sid] = d
        return d

    try:
        return max((depth(s) for s in edges), default=1)
    except RecursionError:
        return len(shapes) + 1


def _ref_value_sets(
    spark: SparkSession,
    triples: DataFrame,
    shapes: list[NodeShape],
    tbox: TBoxIndex | None,
    by_id: dict[str, NodeShape],
) -> dict[str, DataFrame]:
    """Per referenced shape: the distinct RESOURCE values appearing at any
    path that carries a sh:node reference to it — the nodes whose conformance
    sh:node actually asks about.  One broadcast path-map join over triples
    covers every (path, ref) pair.  Self-constraint refs (path None) resolve
    to the referencing shape's own targets.  Literal values at sh:node paths
    stay outside the evaluated set (a literal focus has no outgoing edges in
    the triple layout; documented deviation — they evaluate non-conforming
    unless the ref is vacuous)."""
    pairs: set[tuple[str, str, bool]] = set()
    self_refs: dict[str, list[NodeShape]] = {}
    for s in shapes:
        for pc in _all_pcs(s):
            for x in _sub_pcs(pc):
                if x.node_ref and x.node_ref in by_id:
                    if pc.path is None:
                        self_refs.setdefault(x.node_ref, []).append(s)
                    else:
                        pairs.add((_path_str(pc.path), x.node_ref, pc.inverse))
    out: dict[str, DataFrame] = {}
    if pairs:
        pm = F.broadcast(
            local_frame(spark, sorted(pairs), "p string, _ref string, _inv boolean")
        )
        joined = triples.join(pm, "p")
        vals = (
            joined.filter(~F.col("_inv") & ~F.col("is_lit"))
            .select("_ref", F.col("o").alias("node"))
            .unionByName(
                joined.filter(F.col("_inv")).select("_ref", F.col("s").alias("node"))
            )
            .distinct()
            .localCheckpoint(eager=True)  # one scan, reused by every per-ref filter
        )
        for ref in sorted({r for _, r, _i in pairs}):
            out[ref] = vals.filter(F.col("_ref") == ref).select("node")
    for ref, referencing in sorted(self_refs.items()):
        t = _targets(spark, triples, referencing, tbox).select(F.col("focus").alias("node"))
        out[ref] = out[ref].unionByName(t).distinct() if ref in out else t
    return out


def _resolve_node_refs(
    spark: SparkSession,
    triples: DataFrame,
    shapes: list[NodeShape],
    tbox: TBoxIndex | None,
    g: DataFrame,
    ref_shapes: list[str],
    depth: int,
    val_triples: DataFrame | None = None,
) -> DataFrame:
    """Compute conforming-node sets for referenced shapes by iterated
    refinement: sweep k validates each referenced shape with ITS refs resolved
    against sweep k-1's conforming sets (sweep 1: refs vacuous — the
    optimistic start).  Each sweep can only shrink the sets, so cyclic shape
    graphs converge downward; acyclic graphs are exact after ``depth`` sweeps
    (the reference DAG depth).  A referenced shape is evaluated over its
    targets ∪ the values at paths referencing it (SHACL semantics: sh:node
    asks whether the VALUE conforms, target-typed or not — ADVICE r2);
    reported violations remain target-scoped."""
    by_id = {s.shape_id: s for s in shapes}
    resolvable = [sid for sid in ref_shapes if sid in by_id]
    # values-at-referencing-paths must see the virtual path-expression rows so
    # a sh:node behind a complex path still widens the evaluated set
    ref_vals = _ref_value_sets(
        spark, val_triples if val_triples is not None else triples, shapes, tbox, by_id
    )

    def refs_of(sid: str) -> list[str]:
        out = []
        for pc in _all_pcs(by_id[sid]):
            for x in _sub_pcs(pc):
                if x.node_ref and x.node_ref in by_id:
                    out.append(x.node_ref)
        return out

    def conforming_sets(sids: list[str], ref_sets: dict[str, DataFrame]) -> dict[str, DataFrame]:
        # conformance over targets ∪ referenced values (sh:node checks
        # membership of the value in the conforming set, so every value the
        # data actually references must be evaluated, not just target-typed
        # nodes).  One validate() covers the whole batch — its violations
        # frame is checkpointed, so the per-shape splits below are cheap
        # filters
        batch = [by_id[sid] for sid in sids]
        extra = {sid: ref_vals[sid] for sid in sids if sid in ref_vals}
        rep = validate(spark, triples, batch, tbox, _ref_sets=ref_sets, _extra_focus=extra)
        tgts = _targets(spark, triples, batch, tbox)
        out = {}
        for sid in sids:
            bad = (
                rep.violations.filter(F.col("shape") == sid)
                .select(F.col("focus").alias("node"))
                .distinct()
            )
            evaluated = tgts.filter(F.col("shape_id") == sid).select(
                F.col("focus").alias("node")
            )
            if sid in ref_vals:
                evaluated = evaluated.unionByName(ref_vals[sid]).distinct()
            out[sid] = evaluated.join(bad, "node", "left_anti").localCheckpoint(eager=True)
        return out

    # acyclic (the committed workloads): resolve in dependency order, each
    # referenced shape validated exactly once with its deps already final
    order: list[str] = []
    seen: dict[str, int] = {}  # 0 = on stack, 1 = done

    def topo(sid: str) -> bool:
        if seen.get(sid) == 1:
            return True
        if seen.get(sid) == 0:
            return False  # cycle
        seen[sid] = 0
        for r in refs_of(sid):
            if not topo(r):
                return False
        seen[sid] = 1
        order.append(sid)
        return True

    acyclic = all(topo(sid) for sid in resolvable)
    conforming: dict[str, DataFrame] = {}
    if acyclic:
        # batch shapes of the same dependency LEVEL into one validate() —
        # LUBM's 4-6 referenced shapes resolve in depth() calls, not one each
        level_of: dict[str, int] = {}
        for sid in order:  # topological: refs resolved before dependents
            level_of[sid] = 1 + max((level_of[r] for r in refs_of(sid)), default=0)
        levels: dict[int, list[str]] = {}
        for sid in order:
            levels.setdefault(level_of[sid], []).append(sid)
        for lvl in sorted(levels):
            conforming.update(conforming_sets(levels[lvl], conforming))
    else:
        # cyclic shape graph: optimistic start, sweep to downward fixpoint
        for _ in range(max(1, depth)):
            conforming = conforming_sets(resolvable, conforming)

    return _join_ref_sets(g, conforming)


def _join_ref_sets(g: DataFrame, conforming: dict[str, DataFrame]) -> DataFrame:
    """Left-join the labeled conforming sets onto the grid → _ref_ok.  Refs to
    shapes with no NodeShape declaration (schema2/3's `sh:node ub:Course` /
    `ub:GraduateCourse`) are vacuously conforming — an empty shape constrains
    nothing (pyshacl parity)."""
    known = sorted(conforming)
    parts = [
        df.select(F.lit(sid).alias("_ref_shape"), F.col("node").alias("_ref_node"))
        for sid, df in conforming.items()
    ]
    if not parts:
        return g.withColumn("_ref_ok", F.lit(True))
    conf_union = parts[0]
    for x in parts[1:]:
        conf_union = conf_union.unionByName(x)
    g = g.join(
        conf_union,
        (g["node_ref"] == conf_union["_ref_shape"]) & (g["o"] == conf_union["_ref_node"]),
        "left",
    )
    g = g.withColumn(
        "_ref_ok",
        F.when(
            F.col("node_ref").isNull() | ~F.col("node_ref").isin(known), F.lit(True)
        ).otherwise(F.col("_ref_node").isNotNull()),
    ).drop("_ref_shape", "_ref_node")
    return g


def validate_fail_fast(
    spark: SparkSession,
    triples: DataFrame,
    shapes: list[NodeShape],
    tbox: TBoxIndex | None = None,
) -> ValidationReport:
    """Per-shape early termination (north_rule: "early-termination per shape",
    the conformance-check analog of the reference's reduced validation).

    Shapes are evaluated in list order in chunks of GEOMETRICALLY DOUBLING size
    (1, 2, 4, …), one single-pass ``validate()`` aggregation per chunk (VERDICT
    r2 #7: the round-2 version ran one full Spark job chain PER SHAPE — a
    conforming Shape_30 run paid ~30 sequential job chains where batch
    validation needs one).  Now a conforming run costs ⌈log₂ n⌉+1 chains over
    the same total scan volume, and a failure at list index k evaluates at most
    2k+1 shapes (the doubling bound) — exact early-termination semantics are
    preserved by filtering the first failing chunk to its FIRST failing shape:
    ``shapes_evaluated`` and the reported violations are identical to the
    one-at-a-time loop."""
    i, size = 0, 1
    while i < len(shapes):
        batch = shapes[i : i + size]
        rep = validate(spark, triples, batch, tbox)
        if not rep.conforms:
            order: dict[str, int] = {}
            for j, ns in enumerate(batch):
                order.setdefault(ns.shape_id, j)
            failing = [r.shape for r in rep.violations.select("shape").distinct().collect()]
            first = min(order[s] for s in failing if s in order)
            viol = rep.violations.filter(F.col("shape") == batch[first].shape_id)
            return ValidationReport(viol, False, i + first + 1)
        i += size
        size *= 2
    empty = local_frame(spark, [], ["focus", "shape", "path", "constraint", "value"])
    return ValidationReport(empty, True, len(shapes))
