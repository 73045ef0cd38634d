"""End-to-end fusion pipeline: merge-then-reason over the triple store.

Reimplements the reference's outer closure loop
(/root/reference/src/pipeline/closure_engine.py:39-85 and the legacy loop
ReSHACL/re_shacl.py:701-723) as a driver-side fixpoint over pure DataFrame
transforms:

  init: close the input under the single-atom rules J1-J6      — one derive
  round k:
    1. transitive closure + ITS linear closure (when a merge or
       a new transitive-predicate edge can extend it)          — §rules
    2. new = derived ∖ existing (left_anti)                     — semi-naive gate
    3. sameAs edges (explicit + functional/inverse-functional)  — self-joins
    4. connected components (large-star/small-star, salted)     — O(log n)
    5. representative rewrite of s/p/o + dedup                 — 3 coalesce joins
  converged when (2) and (4) produce nothing new; then consistency checks
  (abort on violation).

Invariant: every row that enters the graph is already linearly closed —
``RuleEngine.derive_linear`` composes J1-J6 on the driver and returns a
frame's whole linear closure in one broadcast join, and the rewrite (5)
commutes with those rules.  So no round re-derives them over old rows; the
only full-graph re-derive follows a merge that renames a TBox term.

Convergence uses emptiness of delta frames — sound, unlike raw count-stability.
Each round's frames end in ``materialize`` (model/triples.py), an eager local
checkpoint that keeps the logical plan O(1) across rounds and observes, in the
checkpoint's own job, the counts the next decision reads: rows (emptiness),
owl:sameAs rows (does CC need to run) and transitive-predicate rows (does the
closure need to re-run) — no separate probe job per round.  The reference's
convergence needed a *snapshot repeated twice* (closure_engine.py:69-78)
because its rules interleave destructive mutation; pure dataflow needs exactly
one empty delta.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from re_shacl_spark.canonicalize.cc import connected_components
from re_shacl_spark.canonicalize.rewrite import (
    BROADCAST_REP_MAP_MAX_ROWS,
    apply_static_map,
    canonicalize_triples,
)
from re_shacl_spark.model.triples import (
    dedup_triples,
    iri_rows,
    iri_triple,
    local_frame,
    materialize,
    triples_df,
    vocab,
)
from re_shacl_spark.reasoning.checks import CHECKS, live_checks, run_all_checks
from re_shacl_spark.reasoning.rules import RuleEngine, Scope
from re_shacl_spark.reasoning.tbox import (
    TBoxIndex,
    build_tbox_index,
    extract_tbox,
    is_tbox_row,
)
from re_shacl_spark.session import ensure_fixpoint_confs

MAX_ROUNDS = 25  # reference caps at 25_000 (closure_engine.py:39); past it fuse raises


@dataclass
class FusionResult:
    triples: DataFrame          # fused, canonicalized triple store
    rep_map: DataFrame          # member -> rep (accumulated across rounds)
    tbox: TBoxIndex
    rounds: int
    check_counts: dict[str, int]
    scope: Scope = field(default_factory=Scope)  # the closed scope fused under


def _compose_rep_maps(old: DataFrame, new: DataFrame) -> DataFrame:
    """(member→rep)∘(member→rep): route old targets through the new map, union
    new entries, dedup.  Both maps are rep-closed (CC output), so one hop
    suffices."""
    if old is None:
        return new
    routed = (
        old.alias("o")
        .join(new.alias("n"), F.col("o.rep") == F.col("n.member"), "left")
        .select(
            F.col("o.member").alias("member"),
            F.coalesce(F.col("n.rep"), F.col("o.rep")).alias("rep"),
        )
    )
    return routed.unionByName(new).dropDuplicates(["member"])


def fuse(
    spark: SparkSession,
    triples: DataFrame,
    scope: Scope | None = None,
    emit_sameas_provenance: bool = True,
    assume_distinct: bool = False,
    profile: str = "owl",
    base: FusionResult | None = None,
) -> FusionResult:
    """Scoped reasoning + sameAs canonicalization to fixpoint.

    Returns the fused graph with deterministic min-IRI representatives; the
    provenance triples (rep, owl:sameAs, member) are re-emitted like the
    reference does at re_shacl.py:734-737.

    Rounds: the input is closed under the linear rules J1-J6 once, up
    front; each round then runs the transitive closure (when something can
    extend it) together with the closure's own linear consequences, then
    sameAs components and the representative rewrite.  Every row that enters
    the graph is linearly closed on entry, and the rewrite keeps it so (the
    rules commute with it), so no round re-derives linear consequences of old
    rows — except after a merge renames a TBox term, which rebuilds the rule
    maps and re-closes the whole graph once.

    ``scope`` (see :class:`Scope`) is closed under the input's TBox, and again
    whenever a merge rebuilds the TBox; the result records the closed scope.

    With ``base`` set (use :func:`fuse_delta`), ``triples`` is a DELTA
    extending an already-closed, consistent fusion result, whose TBox is
    ``base.tbox`` (never re-extracted from ``base.triples``) and whose scope
    is ``base.scope`` (passing another raises ``ValueError``): incoming ids
    are routed through the base's class/property equivalence reps and its
    rep map, the delta is linearly closed in one derive (the closed base
    stays closed), and the transitive/sameAs stages and each consistency
    check run only when the delta can trigger them.  The crawl-increment
    case (no new sameAs, no transitive edges, no consistency axioms) costs
    three checkpoints (rep map, canonicalized delta, novelty anti-join) and
    no TBox or check scan.  A delta whose TBox rows change what the index
    entails falls back to full re-fusion: a new axiom entails over the
    entire base, which no delta-fed pass can deliver.
    """
    if base is not None and scope is not None:
        raise ValueError("a delta folds under its base's scope: pass no scope with base")
    ensure_fixpoint_confs(spark)
    rdfs = profile == "rdfs"
    first_full = base is None
    tbox = build_tbox_index(extract_tbox(triples), rdfs_mode=rdfs) if first_full else base.tbox
    scope = (scope or Scope.unrestricted()).close(tbox) if first_full else base.scope
    engine = RuleEngine(spark, tbox, scope, profile=profile)

    # TBox-level equivalence collapse first (class + property reps) — the
    # reference's merge_target_classes / merge_same_property stages.  The
    # base is already collapsed; a delta goes through the same reps below.
    static_pairs = tbox.class_rep_pairs() + tbox.prop_rep_pairs()
    cur = apply_static_map(triples, static_pairs) if first_full else None

    # materialize the TBox transitive closures as triples (scm-sco / scm-spo) so
    # the fused graph is self-contained like the reference's owlrl output —
    # TBox-sized, so this union is negligible
    closure_rows = (
        [(a, vocab.SUBCLASS, b) for a, b in tbox.subclass_closure_pairs()]
        + [(a, vocab.SUBPROP, b) for a, b in tbox.subprop_closure_pairs()]
    ) if first_full else []
    if closure_rows:
        closure_df = triples_df(spark, [iri_triple(*r) for r in closure_rows])
        if assume_distinct:
            # closure rows are TBox-sized: anti-join them against the (already
            # distinct) input instead of re-shuffling the whole graph
            closure_df = closure_df.join(cur, ["s", "p", "o"], "left_anti")
        cur = cur.unionByName(closure_df)
    if first_full and not assume_distinct:
        # unknown provenance: one global dedup, materialized once
        cur, _ = materialize(dedup_triples(cur))
    # assume_distinct: leave cur as parquet-backed union — re-materializing the
    # whole input here would double the I/O for nothing

    # Invariant: every row that enters ``cur`` is already closed under J1-J6
    # (σ commutes with them while it renames no TBox term), so rounds derive
    # linear consequences only of rows they just produced.  The two-atom rules
    # (transitive J7, functional/inverse-functional J9/J10) do NOT commute
    # with merging — merges can join chains / equate join keys — so they
    # re-run gated on "a merge happened last round" (or new edges arrived).
    rep_map: DataFrame | None = None
    n_rep_map = 0
    rounds = 0
    trans_props = sorted(tbox.transitive)
    # sameAs / differentFrom rows added to the graph, and whether any round
    # merged: over a consistent base, the sameAs ∧ differentFrom check can
    # fire only if one of them is nonzero
    n_eq_added = 0
    merged_any = False

    def is_trans() -> Column:
        return F.col("p").isin(trans_props) if trans_props else F.lit(False)

    def linear_novelty(frame: DataFrame) -> DataFrame:
        """Rows of ``frame``'s linear closure that ``frame`` lacks."""
        derived = engine.derive_linear(frame).dropDuplicates(["s", "p", "o"])
        return derived.join(frame, ["s", "p", "o"], "left_anti")

    if first_full:
        # close the input once, BEFORE the first transitive closure: linear
        # rules feed transitive predicates (subPropertyOf into a
        # TransitiveProperty is the canonical case), so the closure then runs
        # once over the linear-closed graph instead of twice
        lin, _ = materialize(linear_novelty(cur))
        cur = cur.unionByName(lin)
    else:
        # incremental init: canonicalize the delta into the base's id space
        # (class/property reps first, like the full path, then node reps),
        # close it under the linear rules (broadcast joins over delta-sized
        # frames), then pay the full-graph novelty anti-join exactly once
        d = apply_static_map(triples, static_pairs) if static_pairs else dedup_triples(triples)
        rep_map = base.rep_map
        if rep_map is not None:
            rep_map, rc = materialize(rep_map)
            n_rep_map = rc["rows"]
            if n_rep_map:
                d = canonicalize_triples(
                    d, rep_map, broadcast=n_rep_map <= BROADCAST_REP_MAP_MAX_ROWS
                )
        # the checkpoint's job counts the delta's TBox rows: they are
        # collected only when there are some
        d, dc = materialize(d, tbox=is_tbox_row())
        if dc["tbox"] and build_tbox_index(tbox.rows + extract_tbox(d), rdfs_mode=rdfs) != tbox:
            # the base's collapsed equivalence axioms are gone from its
            # triples; the index still holds them
            eq_rows = triples_df(spark, [iri_triple(*r) for r in tbox.equivalence_rows()])
            return fuse(
                spark, base.triples.unionByName(eq_rows).unionByName(d), scope=base.scope,
                emit_sameas_provenance=emit_sameas_provenance,
                assume_distinct=assume_distinct, profile=profile,
            )
        # the delta's own sameAs / transitive-predicate rows seed round 1's
        # triggers; the checkpoint's job counts them
        delta, delta_counts = materialize(
            d.unionByName(linear_novelty(d)).join(base.triples, ["s", "p", "o"], "left_anti"),
            sameas=F.col("p") == vocab.SAMEAS,
            different=F.col("p") == vocab.DIFFERENT,
            trans=is_trans(),
        )
        cur = base.triples.unionByName(delta)
        if not delta_counts["rows"]:
            # nothing new: the base is already the fixpoint, and consistent
            return FusionResult(
                triples=base.triples,
                rep_map=base.rep_map
                if base.rep_map is not None
                else local_frame(spark, [], ["member", "rep"]),
                tbox=tbox, rounds=0, check_counts=dict.fromkeys(CHECKS, 0), scope=scope,
            )
        n_eq_added = delta_counts["sameas"] + delta_counts["different"]
    merged_last = False
    # purely-linear rule sets: a merge cannot enable anything new (linear rules
    # commute with the rewrite; only J7/J9/J10 join on columns a merge can
    # equate), so merge-triggered re-derivation rounds are skipped outright
    def merge_retriggers() -> bool:
        return bool(trans_props or tbox.functional or tbox.inverse_functional)
    # every IRI the TBox index was built from: if a sameAs merge renames one of
    # these, the driver-closed maps go stale and must be rebuilt from the
    # rewritten graph (classes/properties CAN be sameAs-merged — eq-rep-p)
    tbox_terms = sorted({t for row in tbox.rows for t in row})
    # the linear closure emitted a new trans-pred edge last round; the
    # incremental path seeds it from the delta itself (a delta trans-edge must
    # trigger closure)
    lin_made_trans = not first_full and delta_counts["trans"] > 0
    for rounds in range(1, MAX_ROUNDS + 1):
        progressed = False
        # Re-run the transitive closure only when something can EXTEND it: a
        # merge (equated nodes join chains) or a trans-pred edge emitted by the
        # linear closure last round (e.g. subPropertyOf into a transitive
        # property).  The closure's own output rows do NOT re-trigger —
        # closure(closure(G)) = closure(G).
        has_new = False
        nc = {"rows": 0, "sameas": 0, "different": 0, "trans": 0}
        if trans_props and ((first_full and rounds == 1) or merged_last or lin_made_trans):
            closure = engine.rule_transitive(cur)
            # the closure's linear consequences, tagged: a trans-pred edge
            # among them (and not in the closure itself) is next round's
            # trigger, counted on this round's checkpoint
            lin = linear_novelty(closure)
            derived = closure.withColumn("_lin", F.lit(False)).unionByName(
                lin.withColumn("_lin", F.lit(True))
            )
            new, nc = materialize(
                derived.dropDuplicates(["s", "p", "o"]).join(cur, ["s", "p", "o"], "left_anti"),
                sameas=F.col("p") == vocab.SAMEAS,
                different=F.col("p") == vocab.DIFFERENT,
                trans=is_trans() & F.col("_lin"),
            )
            n_eq_added += nc["sameas"] + nc["different"]
            has_new = nc["rows"] > 0
            if has_new:
                progressed = True
                # both children are materialized — a plain union keeps lineage
                # O(1) per round without re-writing the whole graph each round
                cur = cur.unionByName(new.drop("_lin"))
        lin_made_trans = nc["trans"] > 0

        # sameAs closure + canonical rewrite: needed on round 1, after new
        # facts, or after a merge (merging can enable J9/J10 anew)
        need_sameas = rounds == 1 or has_new or merged_last
        if need_sameas and not (first_full and rounds == 1) and not merged_last and not (
            tbox.functional or tbox.inverse_functional
        ):
            # without functional/inverse-functional axioms the only edge
            # source is explicit owl:sameAs rows, and past rounds already
            # processed everything outside this round's new rows — the sameAs
            # count observed on this round's checkpoint replaces the full CC
            # machinery (derive_sameas scan + dedup + component probe jobs)
            # on rounds that cannot merge anything.
            # incremental round 1: the delta's OWN rows are in `delta`, not in
            # this round's `new` frame — count both
            n_sameas = nc["sameas"]
            if not first_full and rounds == 1:
                n_sameas += delta_counts["sameas"]
            need_sameas = n_sameas > 0
        merged_last = False
        if need_sameas:
            # connected_components handles empty edge frames itself; the
            # map's checkpoint job also yields the row count (broadcast size
            # gate) and the TBox-rename hit count (stale-map rebuild trigger)
            # — at toy scale the fixpoint is job-barrier-bound, so every
            # probe action per round is wall-clock
            edges = engine.derive_sameas(cur)
            touches_tbox = (
                F.col("member").isin(tbox_terms) | F.col("rep").isin(tbox_terms)
                if tbox_terms
                else F.lit(False)
            )
            new_reps, rc = materialize(
                connected_components(edges), tbox_hits=touches_tbox
            )
            n_reps, tbox_hits = rc["rows"], rc["tbox_hits"]
            if n_reps:
                # size-gate ONCE per round on the checkpointed map, pass the
                # decision through (SURVEY §2.3 J13: broadcast small maps,
                # sort-merge web-scale ones)
                bcast = n_reps <= BROADCAST_REP_MAP_MAX_ROWS
                cur, _ = materialize(canonicalize_triples(cur, new_reps, broadcast=bcast))
                rep_map, rc = materialize(_compose_rep_maps(rep_map, new_reps))
                n_rep_map = rc["rows"]
                progressed = True
                merged_last = merge_retriggers()
                merged_any = True
                if tbox_hits:
                    # member side: a TBox term was renamed → closed maps are
                    # stale.  rep side: a non-TBox IRI merged INTO a TBox
                    # term, landing rows on it that the old maps never saw.
                    # Either way σ no longer commutes with the old rules:
                    # rebuild the maps from the rewritten graph and re-close
                    # the whole graph under them.  The collapsed equivalence
                    # axioms left the graph with the initial pass; their rows
                    # keep the reps in the rebuilt index (a later delta still
                    # names the collapsed terms).
                    old_static = set(static_pairs)
                    tbox = build_tbox_index(
                        extract_tbox(cur) + tbox.equivalence_rows(), rdfs_mode=rdfs
                    )
                    scope = scope.close(tbox)
                    engine = RuleEngine(spark, tbox, scope, profile=profile)
                    trans_props = sorted(tbox.transitive)
                    tbox_terms = sorted({t for row in tbox.rows for t in row})
                    # merges may have created fresh class/property
                    # equivalences — collapse them like the initial pass
                    static_pairs = tbox.class_rep_pairs() + tbox.prop_rep_pairs()
                    static = [pr for pr in static_pairs if pr not in old_static]
                    if static:
                        cur, _ = materialize(apply_static_map(cur, static))
                    lin, _ = materialize(linear_novelty(cur))
                    cur = cur.unionByName(lin)
                    merged_last = True  # rebuild must force the next round
        if not progressed:
            break
        if not has_new and not merged_last:
            # merge under a purely-linear rule set: commutation says the
            # closure is already complete — skip the confirmation round
            break
    else:
        raise RuntimeError(f"fuse fixpoint did not converge in {MAX_ROUNDS} rounds")

    if rep_map is None:
        rep_map = local_frame(spark, [], ["member", "rep"])

    if emit_sameas_provenance and n_rep_map:
        prov = iri_rows(rep_map, F.col("rep"), F.lit(vocab.SAMEAS), F.col("member"))
        # canonicalization turned every merged sameAs row into a dropped
        # self-loop, so only the (small) sameAs slice can collide with the
        # provenance rows — dedup that slice, not the whole graph
        sameas_slice = cur.filter(F.col("p") == vocab.SAMEAS)
        rest = cur.filter(F.col("p") != vocab.SAMEAS)
        merged = dedup_triples(sameas_slice.unionByName(prov))
        cur = rest.unionByName(merged)

    # a consistent base stays consistent unless an added row completes a
    # violation: only the checks that such a row can complete run
    live = live_checks(tbox, same_different=first_full or n_eq_added > 0 or merged_any)
    counts = run_all_checks(cur, tbox, checks=live) if live else dict.fromkeys(CHECKS, 0)
    return FusionResult(
        triples=cur, rep_map=rep_map, tbox=tbox, rounds=rounds, check_counts=counts, scope=scope
    )


def fuse_delta(
    spark: SparkSession,
    base: FusionResult,
    delta: DataFrame,
    **kwargs,
) -> FusionResult:
    """Incremental fusion: extend a CLOSED fusion result with a batch of new
    triples — the crawl-increment entry point (daily WARC deltas at 10^12-page
    scale must not re-close the whole KG).

    The base's TBox is ``base.tbox``, the index its fusion returned, and the
    delta folds under ``base.scope``; the base's triples are not scanned for
    the TBox.  ABox-only deltas run the
    delta-fed fixpoint (see :func:`fuse` with ``base``): linear rules join
    only the delta against broadcast TBox maps; the transitive closure,
    sameAs machinery and consistency checks run only when the delta can
    trigger them.  A delta whose TBox rows change what ``base.tbox`` entails
    falls back to full re-fusion — a new axiom entails over the entire base,
    which no delta-fed pass can deliver.  Equivalence
    ``fuse_delta(fuse(A, scope=s), B) == fuse(A ∪ B, scope=s)`` is pytest-asserted and
    oracle-gated (``kg_fuse_delta``)."""
    return fuse(spark, delta, base=base, **kwargs)


# ---------------------------------------------------------------------------
# expansion-only ablation (reference: re_shacl_withoutM.py:635-788
# ``inferenced_graph``): sameAs COPIES triples across members instead of
# merging them — the baseline Re-SHACL's merge strategy is measured against.
# Confluence (expand-then-quotient ≡ merge-during-reasoning) is asserted by
# tests/test_pipeline.py against the naive expansion oracle.
# ---------------------------------------------------------------------------

def _sameas_member_pairs(rep_map: DataFrame) -> DataFrame:
    """(m, w) for every ordered member pair — including the diagonal — of each
    sameAs component.  Σk² rows; this quadratic frame IS the ablation's cost."""
    inv = rep_map.unionByName(
        rep_map.select(F.col("rep").alias("member"), "rep")
    ).dropDuplicates(["member", "rep"])
    return (
        inv.alias("x")
        .join(inv.alias("y"), "rep")
        .select(F.col("x.member").alias("m"), F.col("y.member").alias("w"))
    )


def expand_sameas(triples: DataFrame, rep_map: DataFrame) -> DataFrame:
    """σ⁻¹(σ(G)) over s/p/o: every triple copied onto every member combination
    of its nodes' components (re_shacl_withoutM.py copies one hop per round;
    the pair-join closes a whole component per round)."""
    pairs = F.broadcast(_sameas_member_pairs(rep_map))  # ablation runs at test scale

    def fan(df: DataFrame, col: str, literal_guard: bool) -> DataFrame:
        m = pairs.select(F.col("m").alias(f"_{col}_m"), F.col("w").alias(f"_{col}_w"))
        cond = df[col] == m[f"_{col}_m"]
        if literal_guard:
            cond = cond & ~df["is_lit"]
        out = df.join(m, cond, "left")
        return out.withColumn(col, F.coalesce(f"_{col}_w", col)).drop(f"_{col}_m", f"_{col}_w")

    out = fan(triples, "s", False)
    out = fan(out, "o", True)
    out = fan(out, "p", False)
    return out


def fuse_expand(
    spark: SparkSession,
    triples: DataFrame,
    profile: str = "owl",
) -> FusionResult:
    """Expansion-semantics fixpoint: rules + sameAs materialization + component
    copy-through, no canonicalization.  The final graph equals the naive
    oracle's pre-quotient closure; its size blowup vs fuse() is the A1-style
    ablation metric (merging beats materialization).

    ``profile="rdfs"`` completes the reference's 2×2 method matrix
    (merge?, owl-vs-rdfs): the rdfs×withoutM arm
    (ReSHACL/re_shacl_rdfs_withoutM.py:127-145, 634-786 — rules
    rdfs2/3/5/7/9 only, owl:sameAs uninterpreted, no merging).  Under RDFS
    the engine derives no sameAs edges, so the component copy-through below
    is structurally dead and the loop is a pure linear-rule expansion."""
    ensure_fixpoint_confs(spark)
    cur, _ = materialize(dedup_triples(triples))
    rep_map: DataFrame | None = None
    tbox = None
    rounds = 0
    for rounds in range(1, MAX_ROUNDS + 1):
        # rebuild per round: expansion copies axioms onto new terms
        tbox_rows = extract_tbox(cur)
        tbox = build_tbox_index(
            tbox_rows, rdfs_mode=profile == "rdfs", eq_as_edges=True
        )
        engine = RuleEngine(spark, tbox, Scope.unrestricted(), profile=profile)

        derived = engine.derive_all(cur)
        closure_rows = [
            (a, vocab.SUBCLASS, b) for a, b in tbox.subclass_closure_pairs()
        ] + [(a, vocab.SUBPROP, b) for a, b in tbox.subprop_closure_pairs()]
        # Under OWL, equivalence cycles entail the REFLEXIVE a⊑a rows too
        # (scm-sco through the cycle); the merge path drops them as
        # degenerate, OWL expansion keeps them like the naive closure does.
        # RDFS has no scm rules — equivalence is just mutual sub-edges
        # (reference re_shacl_rdfs_withoutM.py:127-145), so no a⊑a there.
        if profile != "rdfs":
            sc, sp = tbox.superclasses, tbox.superprops
            closure_rows += [
                (a, vocab.SUBCLASS, a) for a, sups in sc.items()
                if any(a in sc.get(b, ()) for b in sups)
            ] + [
                (a, vocab.SUBPROP, a) for a, sups in sp.items()
                if any(a in sp.get(b, ()) for b in sups)
            ]
        if closure_rows:
            derived = derived.unionByName(
                triples_df(spark, [iri_triple(*r) for r in closure_rows])
            )

        edges = engine.derive_sameas(cur)
        reps, rc = materialize(connected_components(edges))
        if rc["rows"]:
            rep_map = reps
            pairs = _sameas_member_pairs(rep_map)
            # the complete sameAs graph on each component (incl. diagonal)
            sameas_rows = iri_rows(pairs, F.col("m"), F.lit(vocab.SAMEAS), F.col("w"))
            derived = derived.unionByName(expand_sameas(cur, rep_map)).unionByName(sameas_rows)

        new, nc = materialize(
            derived.dropDuplicates(["s", "p", "o"]).join(cur, ["s", "p", "o"], "left_anti")
        )
        if not nc["rows"]:
            break
        cur = cur.unionByName(new)
    else:
        raise RuntimeError(f"fuse_expand fixpoint did not converge in {MAX_ROUNDS} rounds")

    if rep_map is None:
        rep_map = local_frame(spark, [], ["member", "rep"])
    return FusionResult(triples=cur, rep_map=rep_map, tbox=tbox, rounds=rounds, check_counts={})


# ---------------------------------------------------------------------------
# full-materialization baseline (reference: ``inter_graph`` /
# ``inter_graph_rdfs``, ReSHACL/re_shacl.py:754-797 — owlrl
# ``DeductiveClosure(CustomRDFSOWLRLSemantics).expand(g)`` over the WHOLE data
# graph).  This is the third arm of the reference's method comparison: the
# unscoped closure whose size/time blowup the "Re-" idea exists to avoid.
# ---------------------------------------------------------------------------

def _resource_typing(triples: DataFrame) -> DataFrame:
    """The RDFS axiomatic-typing closure rows the scoped arms never emit —
    rdfs4a (every subject is an rdfs:Resource), rdfs4b (every non-literal
    object is an rdfs:Resource) and rdf1 (every predicate is an rdf:Property).

    Computed in CLOSED FORM rather than by iteration: one application adds only
    the fixed terms {rdf:type, rdfs:Resource, rdf:Property} to the term set, so
    seeding those three up front reaches the fixpoint in a single pass.  One
    distinct-union over three projections of the graph — a single shuffle,
    partial-aggregated map-side; no driver collect."""
    spark = triples.sparkSession
    rdf_type, resource, prop = (
        vocab.TYPE, vocab.RDFS + "Resource", vocab.RDF + "Property"
    )
    fixed = local_frame(spark, [(rdf_type,), (resource,), (prop,)], ["t"])
    terms = (
        triples.select(F.col("s").alias("t"))
        .unionByName(triples.filter(~F.col("is_lit")).select(F.col("o").alias("t")))
        .unionByName(triples.select(F.col("p").alias("t")))
        .unionByName(fixed)
        .distinct()
    )
    preds = (
        triples.select(F.col("p").alias("t"))
        .unionByName(fixed.filter(F.col("t") == rdf_type))
        .distinct()
    )
    return iri_rows(terms, F.col("t"), F.lit(rdf_type), F.lit(resource)).unionByName(
        iri_rows(preds, F.col("t"), F.lit(rdf_type), F.lit(prop))
    )


def fuse_full(spark: SparkSession, triples: DataFrame) -> FusionResult:
    """Full unscoped materialization: the expansion-semantics fixpoint (all
    rules, sameAs copy-through, no merge — ``fuse_expand``) PLUS the
    axiomatic resource/property typing layer (rdfs4a/4b, rdf1) that owlrl's
    combined RDFS+OWL-RL closure materializes and both Re-SHACL arms skip.

    The typing layer is applied once AFTER the rule fixpoint: typing rows can
    feed no rule in the engine (their predicate is rdf:type over vocabulary
    classes that carry no axioms), so post-closure union is equivalent to
    interleaving — and costs one pass instead of one per round.  owl:sameAs
    self-loops (eq-ref) are intentionally not emitted: the expansion arm
    already materializes the complete per-component sameAs graph including
    diagonals, which covers every node that participates in any equality.

    Size ordering on any sameAs-bearing input: |fuse| < |fuse_expand| <
    |fuse_full| — the ablation triple the reference reports via
    ``inter_graph`` vs Re-SHACL (BENCH.md §ablation)."""
    res = fuse_expand(spark, triples)
    cur = res.triples
    typing = _resource_typing(cur).join(cur, ["s", "p", "o"], "left_anti")
    return FusionResult(
        triples=cur.unionByName(typing),
        rep_map=res.rep_map,
        tbox=res.tbox,
        rounds=res.rounds,
        check_counts={},
    )
