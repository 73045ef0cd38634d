"""Scoped OWL/RDFS rules as declarative DataFrame transforms.

Every rule is a broadcast hash join between the (huge) triple frame and a (tiny)
driver-closed TBox map — Catalyst keeps these in whole-stage codegen and never
shuffles the big side.  The two genuinely shuffling rules are the self-joins for
functional / inverse-functional sameAs derivation (prp-fp / prp-ifp) and the
iterative transitive-property closure; those are where skew handling lives.

Rule → reference-site map (semantics studied, not ported):
  J1 domain   prp-dom/rdfs2   /root/reference/ReSHACL/re_shacl.py:128-135
  J2 range    prp-rng/rdfs3   re_shacl.py:137-143
  J3 subprop  prp-spo1/rdfs7  re_shacl.py:725-732, src/utils/property_closure.py:29-41
  J4 subclass cax-sco/rdfs9   src/pipeline/closure_engine.py:158-165
  J5 inverse  prp-inv         re_shacl.py:114-124
  J6 symmetric prp-symp       re_shacl.py:72-76
  J7 transitive prp-trp       re_shacl.py:88-93
  J9 functional prp-fp        re_shacl.py:346-353
  J10 inv-functional prp-ifp  re_shacl.py:356-363
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from re_shacl_spark.model.triples import local_frame, vocab
from re_shacl_spark.reasoning.tbox import TBoxIndex

_EMPTY_HINT = "_re_shacl_empty"


@dataclass
class Scope:
    """The 'Re-' in Re-SHACL: only shape-reachable classes/properties/nodes enter
    the rule engine (reference target extraction: re_shacl.py:637-690).

    None-valued fields mean unrestricted (full-closure mode, used by oracle
    parity tests)."""

    classes: set[str] | None = None       # C: target classes + subclass closure
    properties: set[str] | None = None    # F: sh:path properties + subprop closure
    focus_nodes: set[str] | None = None   # P: explicit target nodes

    @staticmethod
    def unrestricted() -> "Scope":
        return Scope()


@dataclass
class RuleEngine:
    spark: SparkSession
    tbox: TBoxIndex
    scope: Scope = field(default_factory=Scope.unrestricted)
    # "owl" = full merge-then-reason profile; "rdfs" = the reference's RDFS
    # variant (ReSHACL/re_shacl_rdfs.py; rule subset rdfs2/3/7/9 at
    # re_shacl_rdfs_withoutM.py:127-145): domain/range/subclass/subproperty
    # only — no sameAs merging, no inverse/symmetric/transitive closure
    profile: str = "owl"

    # -- scope filters ----------------------------------------------------------
    def _keep_cls(self, c: str) -> bool:
        return self.scope.classes is None or c in self.scope.classes

    def _keep_prop(self, p: str) -> bool:
        return self.scope.properties is None or p in self.scope.properties

    # -- TBox map frames --------------------------------------------------------
    def _map(self, pairs: list[tuple[str, str]], a: str, b: str) -> DataFrame:
        """TBox-map frame, cached per (contents, colnames): the same maps are
        re-joined every fixpoint round.  A local_frame LocalRelation carries its
        size, so the join plans as a broadcast (the hint covers maps past
        LOCAL_FRAME_MAX_CELLS), and an empty map prunes its rule's join at plan
        time."""
        if not hasattr(self, "_map_cache"):
            self._map_cache: dict = {}
        key = (tuple(pairs), a, b)
        hit = self._map_cache.get(key)
        if hit is None:
            hit = F.broadcast(local_frame(self.spark, pairs, [a, b]))
            self._map_cache[key] = hit
        return hit

    # -- rules: each returns newly derivable triples (may overlap existing) -----
    def rule_domain(self, triples: DataFrame) -> DataFrame:
        """J1: (p rdfs:domain c) ∧ (x p y) ⇒ (x rdf:type c)."""
        pairs = [(p, c) for p, c in self.tbox.domain_pairs() if self._keep_cls(c)]
        m = self._map(pairs, "p", "_cls")
        return (
            triples.join(m, "p")
            .select(
                F.col("s"),
                F.lit(vocab.TYPE).alias("p"),
                F.col("_cls").alias("o"),
                F.lit(None).cast("struct<lex:string,dtype:string,lang:string>").alias("o_lit"),
                F.lit(False).alias("is_lit"),
                F.col("src_url"),
            )
        )

    def rule_range(self, triples: DataFrame) -> DataFrame:
        """J2: (p rdfs:range c) ∧ (x p y) ⇒ (y rdf:type c); literal objects excluded."""
        pairs = [(p, c) for p, c in self.tbox.range_pairs() if self._keep_cls(c)]
        m = self._map(pairs, "p", "_cls")
        return (
            triples.filter(~F.col("is_lit"))
            .join(m, "p")
            .select(
                F.col("o").alias("s"),
                F.lit(vocab.TYPE).alias("p"),
                F.col("_cls").alias("o"),
                F.lit(None).cast("struct<lex:string,dtype:string,lang:string>").alias("o_lit"),
                F.lit(False).alias("is_lit"),
                F.col("src_url"),
            )
        )

    def rule_subproperty(self, triples: DataFrame) -> DataFrame:
        """J3: (p ⊑* q) ∧ (x p y) ⇒ (x q y) — joined against the transitively
        closed map, so one pass materializes all levels."""
        pairs = [(p, q) for p, q in self.tbox.subprop_closure_pairs() if self._keep_prop(q)]
        m = self._map(pairs, "p", "_super")
        return (
            triples.filter(F.col("p") != vocab.TYPE)
            .join(m, "p")
            .select(
                "s",
                F.col("_super").alias("p"),
                "o",
                "o_lit",
                "is_lit",
                "src_url",
            )
        )

    def rule_subclass(self, triples: DataFrame) -> DataFrame:
        """J4: (x type c) ∧ (c ⊑* d) ⇒ (x type d)."""
        pairs = [(c, d) for c, d in self.tbox.subclass_closure_pairs() if self._keep_cls(d)]
        m = self._map(pairs, "_cls", "_super")
        return (
            triples.filter(F.col("p") == vocab.TYPE)
            .join(m, triples["o"] == F.col("_cls"))
            .select(
                "s",
                F.lit(vocab.TYPE).alias("p"),
                F.col("_super").alias("o"),
                F.lit(None).cast("struct<lex:string,dtype:string,lang:string>").alias("o_lit"),
                F.lit(False).alias("is_lit"),
                "src_url",
            )
        )

    def rule_inverse(self, triples: DataFrame) -> DataFrame:
        """J5: (p owl:inverseOf q) ∧ (x p y) ⇒ (y q x), both directions
        (inverse_pairs is already symmetric)."""
        pairs = [(p, q) for p, q in self.tbox.inverse_pairs() if self._keep_prop(p) or self._keep_prop(q)]
        m = self._map(pairs, "p", "_inv")
        return (
            triples.filter(~F.col("is_lit"))
            .join(m, "p")
            .select(
                F.col("o").alias("s"),
                F.col("_inv").alias("p"),
                F.col("s").alias("o"),
                F.lit(None).cast("struct<lex:string,dtype:string,lang:string>").alias("o_lit"),
                F.lit(False).alias("is_lit"),
                "src_url",
            )
        )

    def rule_symmetric(self, triples: DataFrame) -> DataFrame:
        """J6: p symmetric ∧ (x p y) ⇒ (y p x)."""
        props = [p for p in self.tbox.symmetric if self._keep_prop(p)]
        if not props:
            return triples.limit(0)
        return (
            triples.filter(F.col("p").isin(props) & ~F.col("is_lit"))
            .select(
                F.col("o").alias("s"),
                "p",
                F.col("s").alias("o"),
                "o_lit",
                "is_lit",
                "src_url",
            )
        )

    TRANSITIVE_DRIVER_EDGE_CAP = 300_000   # collect threshold (rows)
    TRANSITIVE_DRIVER_CLOSURE_CAP = 3_000_000  # bail if closure explodes

    def _driver_transitive_closure(self, rows: list) -> list | None:
        """Python closure for small edge sets; None = closure too large,
        caller falls back to the distributed path."""
        from collections import defaultdict, deque

        succ: dict = defaultdict(set)
        for r in rows:
            succ[(r.p, r.s)].add(r.o)
        out: list = []
        for (p, s), direct in list(succ.items()):
            seen: set = set()
            dq = deque(direct)
            while dq:
                o = dq.popleft()
                if o in seen:
                    continue
                seen.add(o)
                dq.extend(succ.get((p, o), ()))
            out.extend((s, p, o) for o in seen)
            if len(out) > self.TRANSITIVE_DRIVER_CLOSURE_CAP:
                return None
        return out

    def rule_transitive(self, triples: DataFrame) -> DataFrame:
        """J7: full transitive closure of every owl:TransitiveProperty, all
        properties in one keyed frame.

        Small edge sets (≤ TRANSITIVE_DRIVER_EDGE_CAP after dedup) close on the
        driver — per-source BFS, one collect — because each distributed
        doubling round costs two shuffles + a convergence probe regardless of
        size.  Larger relations use the doubling self-join (closure ⋈ closure,
        O(log path-length) rounds, localCheckpoint truncating lineage), with a
        driver bail-back if a collected closure explodes past the cap."""
        props = [p for p in self.tbox.transitive if self._keep_prop(p)]
        if not props:
            return triples.limit(0)
        from re_shacl_spark.session import ensure_fixpoint_confs

        ensure_fixpoint_confs(self.spark)
        e = (
            triples.filter(F.col("p").isin(props) & ~F.col("is_lit"))
            .select("s", "p", "o")
            .distinct()
            .localCheckpoint(eager=True)
        )
        head = e.limit(self.TRANSITIVE_DRIVER_EDGE_CAP + 1).collect()
        if len(head) <= self.TRANSITIVE_DRIVER_EDGE_CAP:
            closed = self._driver_transitive_closure(head)
            if closed is not None:
                if not closed:
                    return triples.limit(0)
                df = local_frame(self.spark, closed, ["s", "p", "o"])
                return df.select(
                    "s",
                    "p",
                    "o",
                    F.lit(None).cast("struct<lex:string,dtype:string,lang:string>").alias("o_lit"),
                    F.lit(False).alias("is_lit"),
                    F.lit(None).cast("string").alias("src_url"),
                )
        closure = e
        for _ in range(32):
            nxt = (
                closure.alias("a")
                .join(
                    closure.alias("b"),
                    (F.col("a.o") == F.col("b.s")) & (F.col("a.p") == F.col("b.p")),
                )
                .select(F.col("a.s").alias("s"), F.col("a.p").alias("p"), F.col("b.o").alias("o"))
            )
            new = nxt.join(closure, ["s", "p", "o"], "left_anti").distinct()
            new = new.localCheckpoint(eager=True)
            if new.isEmpty():
                break
            closure = closure.union(new).localCheckpoint(eager=True)
        return closure.select(
            "s",
            "p",
            "o",
            F.lit(None).cast("struct<lex:string,dtype:string,lang:string>").alias("o_lit"),
            F.lit(False).alias("is_lit"),
            F.lit(None).cast("string").alias("src_url"),
        )

    # -- sameAs-deriving rules ---------------------------------------------------
    def sameas_functional(self, triples: DataFrame) -> DataFrame:
        """J9 prp-fp: (x p y1) ∧ (x p y2) ∧ y1<y2 ⇒ sameAs(y1,y2).
        Self-join on (s,p): sort-merge/shuffled-hash; AQE skew-split absorbs hub
        subjects.  IRI objects only (literal 'sameAs' is a consistency matter)."""
        props = [p for p in self.tbox.functional if self._keep_prop(p)]
        if not props:
            return local_frame(self.spark, [], ["a", "b"])
        t = triples.filter(F.col("p").isin(props) & ~F.col("is_lit")).select("s", "p", "o")
        return (
            t.alias("a")
            .join(t.alias("b"), ["s", "p"])
            .filter(F.col("a.o") < F.col("b.o"))
            .select(F.col("a.o").alias("a"), F.col("b.o").alias("b"))
            .distinct()
        )

    def sameas_inverse_functional(self, triples: DataFrame) -> DataFrame:
        """J10 prp-ifp: (x1 p y) ∧ (x2 p y) ∧ x1<x2 ⇒ sameAs(x1,x2).
        Self-join on (p,o) — THE hub-entity skew case; AQE skew-join enabled in
        the session, and downstream CC is salted regardless."""
        props = [p for p in self.tbox.inverse_functional if self._keep_prop(p)]
        if not props:
            return local_frame(self.spark, [], ["a", "b"])
        t = triples.filter(F.col("p").isin(props) & ~F.col("is_lit")).select("s", "p", "o")
        return (
            t.alias("a")
            .join(t.alias("b"), ["p", "o"])
            .filter(F.col("a.s") < F.col("b.s"))
            .select(F.col("a.s").alias("a"), F.col("b.s").alias("b"))
            .distinct()
        )

    def explicit_sameas(self, triples: DataFrame) -> DataFrame:
        return (
            triples.filter((F.col("p") == vocab.SAMEAS) & ~F.col("is_lit"))
            .select(F.col("s").alias("a"), F.col("o").alias("b"))
            .distinct()
        )

    def derive_linear(self, triples: DataFrame) -> DataFrame:
        """Union of the SINGLE-ATOM rules (J1-J6).  These commute with
        representative rewriting (rule(σ(G)) = σ(rule(G))), so a semi-naive
        fixpoint may feed them only the per-round delta — the reference's
        incremental idea (src/core/merging/class_merging.py:134-142),
        generalized to every linear rule."""
        parts = [
            self.rule_domain(triples),
            self.rule_range(triples),
            self.rule_subproperty(triples),
            self.rule_subclass(triples),
        ]
        if self.profile != "rdfs":
            parts += [
                self.rule_inverse(triples),
                self.rule_symmetric(triples),
            ]
        out = parts[0]
        for x in parts[1:]:
            out = out.unionByName(x)
        return out

    def derive_all(self, triples: DataFrame) -> DataFrame:
        """One full reasoning pass: linear rules + transitive closure."""
        return self.derive_linear(triples).unionByName(self.rule_transitive(triples))

    def derive_sameas(self, triples: DataFrame) -> DataFrame:
        if self.profile == "rdfs":  # owl:sameAs is uninterpreted under RDFS
            return local_frame(self.spark, [], ["a", "b"])
        return (
            self.explicit_sameas(triples)
            .union(self.sameas_functional(triples))
            .union(self.sameas_inverse_functional(triples))
            .distinct()
        )
