"""End-to-end fusion pipeline: merge-then-reason over the triple store.

Reimplements the reference's outer closure loop
(/root/reference/src/pipeline/closure_engine.py:39-85 and the legacy loop
ReSHACL/re_shacl.py:701-723) as a driver-side fixpoint over pure DataFrame
transforms:

  round k:
    1. derive rule consequences (broadcast joins, §rules)         — one ABox scan
    2. new = derived ∖ existing (left_anti)                        — semi-naive gate
    3. sameAs edges (explicit + functional/inverse-functional)     — self-joins
    4. connected components (large-star/small-star, salted)        — O(log n)
    5. representative rewrite of s/p/o + dedup                     — 3 coalesce joins
    6. consistency checks (abort on violation)
  converged when (2) and (4) produce nothing new.

Convergence uses emptiness of delta frames — sound, unlike raw count-stability.
Each round ends in localCheckpoint(eager) so the logical plan stays O(1) across
rounds.  The reference's convergence needed a *snapshot repeated twice*
(closure_engine.py:69-78) because its rules interleave destructive mutation;
pure dataflow needs exactly one empty delta.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from re_shacl_spark.canonicalize.cc import connected_components
from re_shacl_spark.canonicalize.rewrite import (
    BROADCAST_REP_MAP_MAX_ROWS,
    apply_static_map,
    canonicalize_triples,
)
from re_shacl_spark.model.triples import dedup_triples, iri_triple, local_frame, triples_df, vocab
from re_shacl_spark.reasoning.checks import run_all_checks
from re_shacl_spark.reasoning.rules import RuleEngine, Scope
from re_shacl_spark.reasoning.tbox import TBoxIndex, build_tbox_index, extract_tbox
from re_shacl_spark.session import ensure_fixpoint_confs

MAX_ROUNDS = 25  # reference caps at 25_000 (closure_engine.py:39) — log-round CC
# linear pre-closure iteration budget: composition depth is tiny in practice
# (≤4); if the budget runs out unconverged, round 1 of the main fixpoint
# falls back to deriving (see `preclosed`) instead of dropping derivations
LINEAR_PRECLOSE_BUDGET = 32
#                  plus closed TBox maps converge in a handful of rounds.


def _trace_t() -> float:
    import time

    return time.time()


def _trace(t0: float, msg: str) -> None:
    """Opt-in fixpoint phase timing (SPARK_GRAFT_TRACE=1): one stderr line per
    round phase — the tool that localizes job-barrier cost at toy scale."""
    import os
    import sys
    import time

    if os.environ.get("SPARK_GRAFT_TRACE"):
        print(f"[fuse] {msg}: {time.time() - t0:.2f}s", file=sys.stderr)


@dataclass
class FusionResult:
    triples: DataFrame          # fused, canonicalized triple store
    rep_map: DataFrame          # member -> rep (accumulated across rounds)
    tbox: TBoxIndex
    rounds: int
    check_counts: dict[str, int]


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
    run_checks: bool = True,
    max_rounds: int = MAX_ROUNDS,
    cc_salts: int = 8,
    assume_distinct: bool = False,
    profile: str = "owl",
    base: FusionResult | None = None,
    _tbox_rows: list[tuple[str, str, str]] | None = None,
) -> FusionResult:
    """Scoped reasoning + sameAs canonicalization to fixpoint.

    Returns the fused graph with deterministic min-IRI representatives; the
    provenance triples (rep, owl:sameAs, member) are re-emitted like the
    reference does at re_shacl.py:734-737.

    With ``base`` set (use :func:`fuse_delta`), ``triples`` is an ABox-only
    DELTA extending an already-closed fusion result: incoming ids are routed
    through the established rep map, linear rules feed on the delta only
    (they commute with the rewrite, so the closed base stays closed), and the
    transitive/sameAs stages run only when the delta can actually trigger
    them — the crawl-increment case (no new sameAs, no transitive edges)
    costs O(|delta|) rule joins plus one anti-join, never a base re-closure.
    """
    ensure_fixpoint_confs(spark)
    rdfs = profile == "rdfs"
    first_full = base is None
    src_triples = triples if first_full else base.triples
    # fuse_delta already scanned the base for its fallback check — reuse
    tbox_rows = _tbox_rows if _tbox_rows is not None else extract_tbox(src_triples)
    tbox = build_tbox_index(tbox_rows, rdfs_mode=rdfs)
    engine = RuleEngine(spark, tbox, scope or Scope.unrestricted(), profile=profile)

    # TBox-level equivalence collapse first (class + property reps) — the
    # reference's merge_target_classes / merge_same_property stages.  The
    # incremental path skips it: the base is closed and the delta carries no
    # TBox rows (fuse_delta falls back to full fusion otherwise).
    static_pairs = (tbox.class_rep_pairs() + tbox.prop_rep_pairs()) if first_full else []
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
        cur = dedup_triples(cur).localCheckpoint(eager=True)
    # assume_distinct: leave cur as parquet-backed union — re-materializing the
    # whole input here would double the I/O for nothing

    # Semi-naive fixpoint.  Single-atom rules (J1-J6) commute with the
    # representative rewrite σ (rule(σ(G)) = σ(rule(G))), so once the graph is
    # closed under them it stays closed across merges — rounds > 1 feed them
    # only the previous round's delta.  The two-atom rules (transitive J7,
    # functional/inverse-functional J9/J10) do NOT commute with merging —
    # merges can join chains / equate join keys — so they re-run gated on
    # "a merge happened last round" (or new edges arrived).
    rep_map: DataFrame | None = None
    rounds = 0
    if first_full:
        # Close the LINEAR rules to fixpoint BEFORE the first transitive
        # closure.  Linear rules feed transitive predicates (subPropertyOf
        # into a TransitiveProperty is the canonical case), so interleaving
        # them with the closure runs the closure TWICE: once over the raw
        # graph, once after the linear round lands its trans-pred edges.
        # Pre-closing costs one cheap broadcast-join derive + anti-join per
        # composition level (depth ≤4), and the iterative-doubling closure —
        # the most expensive phase at 10^12 triples — then runs exactly once
        # over the linear-closed graph (same inner loop the incremental init
        # below already uses on its delta).
        _pt = _trace_t()
        step = cur
        preclosed = False  # True only when the loop PROVED an empty delta
        for _i in range(LINEAR_PRECLOSE_BUDGET):
            _it = _trace_t()
            derived = engine.derive_linear(step)
            # delta-fed rounds (iter ≥ 1): probe the derive BEFORE the
            # full-graph anti-join — the usual termination round derives
            # nothing, and the probe re-evaluates only broadcast joins over
            # the previous delta, vs a whole-graph shuffle.  Never probe
            # iter 0: its derive scans the entire graph.
            if _i > 0 and derived.isEmpty():
                _trace(_it, f"pre-closure iter {_i} empty probe hit")
                preclosed = True
                break
            nd = derived.dropDuplicates(["s", "p", "o"])
            nd = nd.join(cur, ["s", "p", "o"], "left_anti").localCheckpoint(eager=True)
            empty = nd.isEmpty()
            _trace(_it, f"pre-closure iter {_i} empty={empty}")
            if empty:
                preclosed = True
                break
            cur = cur.unionByName(nd)
            step = nd
        _trace(_pt, "linear pre-closure")
        delta = cur
    else:
        # incremental init: canonicalize the delta into the base's id space,
        # pre-close it under the LINEAR rules against small frames only (the
        # rules are broadcast joins, so closing a 10k-row delta is 10k-row
        # work), then pay the full-graph novelty anti-join exactly ONCE —
        # the per-round variant re-shuffled the whole base every round
        d = dedup_triples(triples)
        rep_map = base.rep_map
        if rep_map is not None and not rep_map.isEmpty():
            n_rep = rep_map.count()
            d = canonicalize_triples(d, rep_map, broadcast=n_rep <= BROADCAST_REP_MAP_MAX_ROWS)
        acc = d.localCheckpoint(eager=True)
        step = acc
        preclosed = False
        for _ in range(LINEAR_PRECLOSE_BUDGET):  # composition depth is tiny (≤4)
            nd = engine.derive_linear(step).dropDuplicates(["s", "p", "o"])
            nd = nd.join(acc, ["s", "p", "o"], "left_anti").localCheckpoint(eager=True)
            if nd.isEmpty():
                preclosed = True
                break
            acc = acc.unionByName(nd)
            step = nd
        delta = acc.join(base.triples, ["s", "p", "o"], "left_anti").localCheckpoint(eager=True)
        cur = base.triples.unionByName(delta)
        if delta.isEmpty():
            # nothing new: the base is already the fixpoint
            counts = run_all_checks(base.triples, tbox) if run_checks else {}
            return FusionResult(
                triples=base.triples,
                rep_map=base.rep_map
                if base.rep_map is not None
                else local_frame(spark, [], ["member", "rep"]),
                tbox=tbox, rounds=0, check_counts=counts,
            )
    merged_last = False
    trans_props = sorted(tbox.transitive)
    # purely-linear rule sets: a merge cannot enable anything new (linear rules
    # commute with the rewrite; only J7/J9/J10 join on columns a merge can
    # equate), so merge-triggered re-derivation rounds are skipped outright
    def merge_retriggers() -> bool:
        return bool(trans_props or tbox.functional or tbox.inverse_functional)
    # every IRI the TBox index was built from: if a sameAs merge renames one of
    # these, the driver-closed maps go stale and must be rebuilt from the
    # rewritten graph (classes/properties CAN be sameAs-merged — eq-rep-p)
    tbox_terms = sorted({t for row in tbox_rows for t in row})
    # linear rules emitted a trans-pred edge last round; the incremental path
    # seeds it from the delta itself (a delta trans-edge must trigger closure)
    lin_made_trans = bool(trans_props) and not first_full and (
        not delta.filter(F.col("p").isin(trans_props)).isEmpty()
    )
    for rounds in range(1, max_rounds + 1):
        progressed = False
        _rt = _trace_t()

        # round 1's graph is already linearly closed (the pre-closure above,
        # both the full and the incremental path) — skip the re-derivation
        # AND its full-graph anti-join.  If the 32-iteration pre-closure
        # budget ran out without proving an empty delta (a >32-level linear
        # composition), fall back to deriving here instead of silently
        # dropping derivations.
        if rounds == 1 and preclosed:
            derived = delta.limit(0)
        else:
            derived = engine.derive_linear(delta)
        # Re-run the transitive closure only when something can EXTEND it: a
        # merge (equated nodes join chains) or a trans-pred edge emitted by the
        # LINEAR rules last round (e.g. subPropertyOf into a transitive
        # property).  The closure's own output rows do NOT re-trigger —
        # closure(closure(G)) = closure(G) — which previously cost one full
        # closure + full-graph anti-join per confirmation round.
        include_trans = trans_props and (
            (first_full and rounds == 1) or merged_last or lin_made_trans
        )
        if trans_props:
            # cheap delta-fed probe on the linear frame BEFORE the closure is
            # unioned in — decides next round's trigger.  Round 1's linear
            # frame is empty by construction (pre-closed), so its trans-pred
            # edges are already inside the closure running this round.
            lin_made_trans = not derived.filter(F.col("p").isin(trans_props)).isEmpty()
        if include_trans:
            derived = derived.unionByName(engine.rule_transitive(cur))
        # For linear-only confirmation rounds, probe derived BEFORE the
        # anti-join: its right side is the whole graph (cannot be broadcast),
        # so an empty derived frame would still pay a full-graph shuffle.  The
        # probe re-evaluates the derive plan, which is cheap ONLY for the
        # delta-fed linear rules — never probe when the transitive closure is
        # in the union (it would run the closure twice per round).
        if not include_trans and derived.isEmpty():
            new = derived.limit(0).localCheckpoint(eager=True)
            has_new = False
        else:
            derived = derived.dropDuplicates(["s", "p", "o"])
            new = derived.join(cur, ["s", "p", "o"], "left_anti").localCheckpoint(eager=True)
            has_new = not new.isEmpty()
        _trace(_rt, f"r{rounds} derive+anti trans={bool(include_trans)} has_new={has_new}")
        _rt = _trace_t()
        if has_new:
            progressed = True
            # both children are materialized — a plain union keeps lineage O(1)
            # per round without re-writing the whole graph each round
            cur = cur.unionByName(new)

        # sameAs closure + canonical rewrite: needed on round 1, after new
        # facts, or after a merge (merging can enable J9/J10 anew)
        need_sameas = rounds == 1 or has_new or merged_last
        if need_sameas and not (first_full and rounds == 1) and not merged_last and not (
            tbox.functional or tbox.inverse_functional
        ):
            # without functional/inverse-functional axioms the only edge
            # source is explicit owl:sameAs rows, and past rounds already
            # processed everything outside this round's delta — one limit-1
            # probe on the checkpointed delta replaces the full CC machinery
            # (derive_sameas scan + dedup + component probe jobs) on rounds
            # that cannot merge anything
            # incremental round 1: the delta's OWN rows are in `delta`, not in
            # the derived `new` frame — probe both for explicit sameAs edges
            probe = new if has_new else new.limit(0)
            if not first_full and rounds == 1:
                probe = probe.unionByName(delta)
            need_sameas = not probe.filter(F.col("p") == vocab.SAMEAS).isEmpty()
        merged_last = False
        if need_sameas:
            # connected_components handles empty edge frames itself; one
            # count() on the checkpointed map replaces three separate probe
            # jobs (edges.isEmpty, reps.isEmpty, broadcast-gate limit+count) —
            # at toy scale the fixpoint is job-barrier-bound, so every probe
            # action per round is wall-clock
            edges = engine.derive_sameas(cur)
            new_reps = connected_components(edges, n_salts=cc_salts)
            new_reps = new_reps.localCheckpoint(eager=True)
            # ONE aggregate job yields both the row count (broadcast size gate)
            # and the TBox-rename hit count (stale-map rebuild trigger) — the
            # round-2 version paid a second probe job per merge round for the
            # latter, a pure job-barrier tax at toy scale (VERDICT r2 #3)
            touches_tbox = (
                F.col("member").isin(tbox_terms) | F.col("rep").isin(tbox_terms)
                if tbox_terms
                else F.lit(False)
            )
            stats = new_reps.agg(
                F.count(F.lit(1)).alias("n"),
                F.count(F.when(touches_tbox, 1)).alias("tbox_hits"),
            ).first()
            n_reps, tbox_hits = stats["n"], stats["tbox_hits"]
            if n_reps:
                # size-gate ONCE per round on the checkpointed map, pass the
                # decision through (SURVEY §2.3 J13: broadcast small maps,
                # sort-merge web-scale ones)
                bcast = n_reps <= BROADCAST_REP_MAP_MAX_ROWS
                cur = canonicalize_triples(
                    cur, new_reps, broadcast=bcast
                ).localCheckpoint(eager=True)
                new = canonicalize_triples(new, new_reps, broadcast=bcast) if has_new else new
                rep_map = _compose_rep_maps(rep_map, new_reps)
                rep_map = rep_map.localCheckpoint(eager=True)
                progressed = True
                merged_last = merge_retriggers()
                if tbox_hits:
                    # member side: a TBox term was renamed → closed maps are
                    # stale.  rep side: a non-TBox IRI merged INTO a TBox
                    # term — the rewrite lands rows on that term only in
                    # `cur`, never in the delta, so delta-fed linear rules
                    # would silently miss them; re-derive over the full
                    # graph (new = cur below).
                    # a merge renamed a TBox term: rebuild the closed maps
                    # from the rewritten graph and re-derive from scratch
                    tbox_rows = extract_tbox(cur)
                    tbox = build_tbox_index(tbox_rows, rdfs_mode=rdfs)
                    engine = RuleEngine(spark, tbox, scope or Scope.unrestricted(), profile=profile)
                    trans_props = sorted(tbox.transitive)
                    tbox_terms = sorted({t for row in tbox_rows for t in row})
                    # merges may have created fresh class/property
                    # equivalences — collapse them like the initial pass
                    static = tbox.class_rep_pairs() + tbox.prop_rep_pairs()
                    if static:
                        cur = apply_static_map(cur, static).localCheckpoint(eager=True)
                    new = cur  # next round re-derives over the full graph
                    merged_last = True  # rebuild must force the next round
            _trace(_rt, f"r{rounds} sameas+cc reps={n_reps if need_sameas else 0}")
        if not progressed:
            break
        if not has_new and not merged_last:
            # merge under a purely-linear rule set: commutation says the
            # closure is already complete — skip the confirmation round
            break
        delta = new

    if rep_map is None:
        rep_map = local_frame(spark, [], ["member", "rep"])

    if emit_sameas_provenance and not rep_map.isEmpty():
        prov = rep_map.select(
            F.col("rep").alias("s"),
            F.lit(vocab.SAMEAS).alias("p"),
            F.col("member").alias("o"),
            F.lit(None).cast("struct<lex:string,dtype:string,lang:string>").alias("o_lit"),
            F.lit(False).alias("is_lit"),
            F.lit(None).cast("string").alias("src_url"),
        )
        # canonicalization turned every merged sameAs row into a dropped
        # self-loop, so only the (small) sameAs slice can collide with the
        # provenance rows — dedup that slice, not the whole graph
        sameas_slice = cur.filter(F.col("p") == vocab.SAMEAS)
        rest = cur.filter(F.col("p") != vocab.SAMEAS)
        merged = dedup_triples(sameas_slice.unionByName(prov))
        cur = rest.unionByName(merged)

    counts = run_all_checks(cur, tbox) if run_checks else {}
    return FusionResult(triples=cur, rep_map=rep_map, tbox=tbox, rounds=rounds, check_counts=counts)


def fuse_delta(
    spark: SparkSession,
    base: FusionResult,
    delta: DataFrame,
    **kwargs,
) -> FusionResult:
    """Incremental fusion: extend a CLOSED fusion result with a batch of new
    triples — the crawl-increment entry point (daily WARC deltas at 10^12-page
    scale must not re-close the whole KG).

    ABox-only deltas run the delta-fed fixpoint (see :func:`fuse` with
    ``base``): linear rules join only the delta against broadcast TBox maps;
    the transitive closure and sameAs machinery run only when the delta can
    trigger them.  A delta carrying NEW TBox axioms falls back to full
    re-fusion — a new axiom entails over the entire base, which no delta-fed
    pass can deliver.  Equivalence ``fuse_delta(fuse(A), B) == fuse(A ∪ B)``
    is pytest-asserted and oracle-gated (``kg_fuse_delta``)."""
    base_tbox_rows = extract_tbox(base.triples)
    if set(extract_tbox(delta)) - set(base_tbox_rows):
        return fuse(spark, base.triples.unionByName(dedup_triples(delta)), **kwargs)
    return fuse(spark, delta, base=base, _tbox_rows=base_tbox_rows, **kwargs)


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
    max_rounds: int = MAX_ROUNDS,
    cc_salts: int = 8,
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
    cur = dedup_triples(triples).localCheckpoint(eager=True)
    rep_map: DataFrame | None = None
    tbox = None
    rounds = 0
    for rounds in range(1, max_rounds + 1):
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
        if not edges.isEmpty():
            reps = connected_components(edges, n_salts=cc_salts)
            if not reps.isEmpty():
                rep_map = reps.localCheckpoint(eager=True)
                pairs = _sameas_member_pairs(rep_map)
                # the complete sameAs graph on each component (incl. diagonal)
                sameas_rows = pairs.select(
                    F.col("m").alias("s"),
                    F.lit(vocab.SAMEAS).alias("p"),
                    F.col("w").alias("o"),
                    F.lit(None).cast("struct<lex:string,dtype:string,lang:string>").alias("o_lit"),
                    F.lit(False).alias("is_lit"),
                    F.lit(None).cast("string").alias("src_url"),
                )
                derived = derived.unionByName(expand_sameas(cur, rep_map)).unionByName(sameas_rows)

        new = (
            derived.dropDuplicates(["s", "p", "o"])
            .join(cur, ["s", "p", "o"], "left_anti")
            .localCheckpoint(eager=True)
        )
        if new.isEmpty():
            break
        cur = cur.unionByName(new)

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
    rows = terms.select(
        F.col("t").alias("s"), F.lit(rdf_type).alias("p"), F.lit(resource).alias("o")
    ).unionByName(
        preds.select(F.col("t").alias("s"), F.lit(rdf_type).alias("p"), F.lit(prop).alias("o"))
    )
    return rows.select(
        "s", "p", "o",
        F.lit(None).cast("struct<lex:string,dtype:string,lang:string>").alias("o_lit"),
        F.lit(False).alias("is_lit"),
        F.lit(None).cast("string").alias("src_url"),
    )


def fuse_full(
    spark: SparkSession,
    triples: DataFrame,
    max_rounds: int = MAX_ROUNDS,
    cc_salts: int = 8,
) -> FusionResult:
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
    res = fuse_expand(spark, triples, max_rounds=max_rounds, cc_salts=cc_salts)
    cur = res.triples
    typing = _resource_typing(cur).join(cur, ["s", "p", "o"], "left_anti")
    return FusionResult(
        triples=cur.unionByName(typing),
        rep_map=res.rep_map,
        tbox=res.tbox,
        rounds=res.rounds,
        check_counts={},
    )
