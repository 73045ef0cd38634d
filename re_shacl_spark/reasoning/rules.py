"""Scoped OWL/RDFS rules as declarative DataFrame transforms.

Every rule is a broadcast hash join between the (huge) triple frame and a (tiny)
driver-closed TBox map — Catalyst keeps these in whole-stage codegen and never
shuffles the big side.  The two genuinely shuffling rules are the self-joins for
functional / inverse-functional sameAs derivation (prp-fp / prp-ifp) and the
iterative transitive-property closure; those are where skew handling lives.

The single-atom rules J1-J6 read one triple plus the TBox, so a triple's
closure under them depends only on the TBox (WebPIE's rule-ordering argument,
Urbani et al., ISWC 2009): ``derive_linear`` composes them on the driver and
reaches the linear fixpoint in ONE broadcast join, with the same scope
semantics as iterating the single ``rule_*`` steps.

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

from collections import defaultdict
from dataclasses import dataclass, field
from functools import cached_property

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from re_shacl_spark.model.triples import iri_rows, local_frame, materialize, vocab
from re_shacl_spark.reasoning.tbox import TBoxIndex


@dataclass
class Scope:
    """The 'Re-' in Re-SHACL: only shape-reachable classes and properties
    enter the rule engine (reference target extraction: re_shacl.py:637-690;
    ``validate.shapes.shape_scope`` builds one from shapes).  Target nodes
    need no scope: ``rewrite_shapes`` moves them onto their reps.

    ``fuse`` closes its scope (``close``) each time it builds a RuleEngine;
    ``RuleEngine`` applies a scope as given, as an output filter on each
    rule.  None-valued fields mean unrestricted (full-closure mode)."""

    classes: set[str] | None = None       # C: classes whose rdf:type facts are kept
    properties: set[str] | None = None    # F: properties whose facts are kept

    @staticmethod
    def unrestricted() -> "Scope":
        return Scope()

    def close(self, tbox: TBoxIndex) -> "Scope":
        """This scope in ``tbox``'s ids (equivalence reps), grown to every
        class and property whose facts a rule chain carries into it: the
        subclasses of a class (J4), the subproperties and inverses of a
        property (J3, J5), the properties whose domain or range is an
        in-scope class (J1, J2), and every functional or inverse-functional
        property, whose merges (J9, J10) rename terms of any scope."""
        cls = None if self.classes is None else {tbox.c(c) for c in self.classes}
        props = None if self.properties is None else (
            {tbox.p(p) for p in self.properties} | tbox.functional | tbox.inverse_functional
        )
        subs = tbox.subclass_closure_pairs()
        feeds = tbox.subprop_closure_pairs() + tbox.inverse_pairs()
        typing = tbox.domain_pairs() + tbox.range_pairs()
        while True:
            size = len(cls or ()), len(props or ())
            if cls is not None:
                cls |= {c for c, d in subs if d in cls}
            if props is not None:
                props |= {p for p, q in feeds if q in props}
                props |= {p for p, c in typing if cls is None or c in cls}
            if (len(cls or ()), len(props or ())) == size:
                return Scope(cls, props)


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

    @cached_property
    def _pairs(self) -> dict[str, list]:
        """Each single-atom rule's TBox map after its scope OUTPUT filter — the
        ``rule_*`` steps and the composed closure read the same maps."""
        t = self.tbox
        return {
            "domain": [(p, c) for p, c in t.domain_pairs() if self._keep_cls(c)],
            "range": [(p, c) for p, c in t.range_pairs() if self._keep_cls(c)],
            "subprop": [(p, q) for p, q in t.subprop_closure_pairs() if self._keep_prop(q)],
            "subclass": [(c, d) for c, d in t.subclass_closure_pairs() if self._keep_cls(d)],
            "inverse": [
                (p, q) for p, q in t.inverse_pairs() if self._keep_prop(p) or self._keep_prop(q)
            ],
            "symmetric": sorted(p for p in t.symmetric if self._keep_prop(p)),
        }

    # -- TBox map frames --------------------------------------------------------
    def _map(self, rows: list[tuple], schema: str | list[str]) -> DataFrame:
        """TBox-map frame, cached per (contents, schema): the same maps are
        re-joined every fixpoint round.  A local_frame LocalRelation carries its
        size, so the join plans as a broadcast (the hint covers maps past
        LOCAL_FRAME_MAX_CELLS), and an empty map prunes its rule's join at plan
        time."""
        if not hasattr(self, "_map_cache"):
            self._map_cache: dict = {}
        key = (tuple(rows), str(schema))
        hit = self._map_cache.get(key)
        if hit is None:
            hit = F.broadcast(local_frame(self.spark, rows, schema))
            self._map_cache[key] = hit
        return hit

    # -- rules: each returns newly derivable triples (may overlap existing) -----
    def rule_domain(self, triples: DataFrame) -> DataFrame:
        """J1: (p rdfs:domain c) ∧ (x p y) ⇒ (x rdf:type c)."""
        m = self._map(self._pairs["domain"], ["p", "_cls"])
        t = triples.join(m, "p")
        return iri_rows(t, F.col("s"), F.lit(vocab.TYPE), F.col("_cls"), F.col("src_url"))

    def rule_range(self, triples: DataFrame) -> DataFrame:
        """J2: (p rdfs:range c) ∧ (x p y) ⇒ (y rdf:type c); literal objects excluded."""
        m = self._map(self._pairs["range"], ["p", "_cls"])
        t = triples.filter(~F.col("is_lit")).join(m, "p")
        return iri_rows(t, F.col("o"), F.lit(vocab.TYPE), F.col("_cls"), F.col("src_url"))

    def rule_subproperty(self, triples: DataFrame) -> DataFrame:
        """J3: (p ⊑* q) ∧ (x p y) ⇒ (x q y) — joined against the transitively
        closed map, so one pass materializes all levels."""
        m = self._map(self._pairs["subprop"], ["p", "_super"])
        return (
            triples.filter(F.col("p") != vocab.TYPE)
            .join(m, "p")
            .select("s", F.col("_super").alias("p"), "o", "o_lit", "is_lit", "src_url")
        )

    def rule_subclass(self, triples: DataFrame) -> DataFrame:
        """J4: (x type c) ∧ (c ⊑* d) ⇒ (x type d)."""
        m = self._map(self._pairs["subclass"], ["_cls", "_super"])
        t = triples.filter(F.col("p") == vocab.TYPE).join(m, triples["o"] == F.col("_cls"))
        return iri_rows(t, F.col("s"), F.lit(vocab.TYPE), F.col("_super"), F.col("src_url"))

    def rule_inverse(self, triples: DataFrame) -> DataFrame:
        """J5: (p owl:inverseOf q) ∧ (x p y) ⇒ (y q x), both directions
        (inverse_pairs is already symmetric)."""
        m = self._map(self._pairs["inverse"], ["p", "_inv"])
        t = triples.filter(~F.col("is_lit")).join(m, "p")
        return iri_rows(t, F.col("o"), F.col("_inv"), F.col("s"), F.col("src_url"))

    def rule_symmetric(self, triples: DataFrame) -> DataFrame:
        """J6: p symmetric ∧ (x p y) ⇒ (y p x)."""
        props = self._pairs["symmetric"]
        if not props:
            return triples.limit(0)
        return (
            triples.filter(F.col("p").isin(props) & ~F.col("is_lit"))
            .select(F.col("o").alias("s"), "p", F.col("s").alias("o"), "o_lit", "is_lit", "src_url")
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
        O(log path-length) rounds, ``materialize`` truncating lineage and
        counting each round's novelty), with a driver bail-back if a collected
        closure explodes past the cap."""
        props = [p for p in self.tbox.transitive if self._keep_prop(p)]
        if not props:
            return triples.limit(0)
        from re_shacl_spark.session import ensure_fixpoint_confs

        ensure_fixpoint_confs(self.spark)
        e = (
            triples.filter(F.col("p").isin(props) & ~F.col("is_lit"))
            .select("s", "p", "o")
            .distinct()
        )
        # probe BEFORE checkpointing (as canonicalize.cc does): the driver
        # path costs one job; only the distributed path materializes
        head = e.limit(self.TRANSITIVE_DRIVER_EDGE_CAP + 1).collect()
        if len(head) <= self.TRANSITIVE_DRIVER_EDGE_CAP:
            closed = self._driver_transitive_closure(head)
            if closed is not None:
                if not closed:
                    return triples.limit(0)
                df = local_frame(self.spark, closed, ["s", "p", "o"])
                return iri_rows(df, F.col("s"), F.col("p"), F.col("o"))
        closure, _ = materialize(e)
        for _ in range(32):
            nxt = (
                closure.alias("a")
                .join(
                    closure.alias("b"),
                    (F.col("a.o") == F.col("b.s")) & (F.col("a.p") == F.col("b.p")),
                )
                .select(F.col("a.s").alias("s"), F.col("a.p").alias("p"), F.col("b.o").alias("o"))
            )
            new, c = materialize(nxt.join(closure, ["s", "p", "o"], "left_anti").distinct())
            if not c["rows"]:
                break
            closure, _ = materialize(closure.union(new))
        return iri_rows(closure, F.col("s"), F.col("p"), F.col("o"))

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

    @cached_property
    def _linear_templates(self) -> tuple[list[tuple], list[str], list[str]]:
        """J1-J6 composed on the driver: (template rows, predicates keyed on
        the subject's class view, predicates keyed on the object's).

        A worklist closes the abstract triple (X p Y), literal or IRI object,
        under the single steps, each through its scope-filtered map.  Only J4
        reads a term's value (its class, in rdf:type's object slot); when p's
        closure puts X or Y there (p = rdf:type, or axioms on rdf:type), p's
        templates are enumerated per class view of that term: a subclass-map
        key, or "" for any other value.  Each row is (p, is_lit, subject
        view, object view; output s as variable 0/1 or constant, output p,
        output o likewise, output is_lit)."""
        X, Y = 0, 1  # the input triple's subject and object
        pairs = self._pairs
        dom, rng, sub, sco, inv = (defaultdict(list) for _ in range(5))
        for m, k in ((dom, "domain"), (rng, "range"), (sub, "subprop"), (sco, "subclass")):
            for a, b in pairs[k]:
                m[a].append(b)
        sym: set[str] = set()
        if self.profile != "rdfs":  # J5/J6 are OWL-only
            for a, b in pairs["inverse"]:
                inv[a].append(b)
            sym = set(pairs["symmetric"])

        def close(p: str, lit: bool, view: dict) -> tuple[set, set]:
            """(derived abstract triples, variables whose class view J4 read)."""
            start = (X, p, Y, lit)
            seen, todo, asked = {start}, [start], set()

            def add(t):
                if t not in seen:
                    seen.add(t)
                    todo.append(t)

            while todo:
                s, q, o, lit_o = todo.pop()
                for c in dom.get(q, ()):
                    add((s, vocab.TYPE, c, False))                      # J1
                if q == vocab.TYPE:
                    if isinstance(o, int) and sco:
                        asked.add(o)
                    for d in sco.get(view[o] if isinstance(o, int) else o, ()):
                        add((s, vocab.TYPE, d, False))                  # J4
                else:
                    for r in sub.get(q, ()):
                        add((s, r, o, lit_o))                           # J3
                if not lit_o:
                    for c in rng.get(q, ()):
                        add((o, vocab.TYPE, c, False))                  # J2
                    for r in inv.get(q, ()):
                        add((o, r, s, False))                           # J5
                    if q in sym:
                        add((o, q, s, False))                           # J6
            seen.discard(start)
            return seen, asked

        def split(term) -> tuple:  # (variable, constant) template columns
            return (term, None) if isinstance(term, int) else (None, term)

        classes = [None] + sorted(sco)
        rows: list[tuple] = []
        need_s: list[str] = []
        need_o: list[str] = []
        for p in sorted({*dom, *rng, *sub, *inv, *sym, vocab.TYPE}):
            need: set = set()
            while True:  # grow the views this p's closure reads until stable
                runs = {
                    (lit, vx, vy): close(p, lit, {X: vx, Y: vy})
                    for lit in (False, True)
                    for vx in (classes if X in need else [None])
                    for vy in (classes if Y in need else [None])
                }
                asked = set().union(*(a for _, a in runs.values()))
                if asked <= need:
                    break
                need |= asked
            need_s += [p] * (X in need)
            need_o += [p] * (Y in need)
            for (lit, vx, vy), (out, _) in runs.items():
                rows += [
                    (p, lit, vx or "", vy or "", *split(s), q, *split(o), lit_o)
                    for s, q, o, lit_o in out
                ]
        return rows, need_s, need_o

    def derive_linear(self, triples: DataFrame) -> DataFrame:
        """The full closure of ``triples`` under the SINGLE-ATOM rules (J1-J6)
        in one pass: a broadcast join against the composed template map fans
        each row out to every triple its rule chains reach (rows may overlap
        the input; callers anti-join).  Each rule filters its own output by
        the scope, so a chain stops at an out-of-scope class or property.

        These rules commute with representative rewriting (rule(σ(G)) =
        σ(rule(G))), so a graph closed under them stays closed across merges —
        the reference's incremental idea (src/core/merging/class_merging.py:
        134-142), generalized to every linear rule."""
        rows, need_s, need_o = self._linear_templates
        classes = sorted({c for c, _ in self._pairs["subclass"]})

        def view(col: str, preds: list[str]):
            if not preds:
                return F.lit("")
            hit = F.col("p").isin(preds) & F.col(col).isin(classes)
            return F.when(hit, F.col(col)).otherwise(F.lit(""))

        def term(var: str, const: str):  # variable 0/1 = the input's s/o
            return (
                F.when(F.col(var) == 0, F.col("s"))
                .when(F.col(var) == 1, F.col("o"))
                .otherwise(F.col(const))
            )

        schema = (
            "p string, is_lit boolean, _sk string, _ok string,"
            " _sv int, _sc string, _q string, _ov int, _oc string, _ol boolean"
        )

        return (
            triples.withColumn("_sk", view("s", need_s))
            .withColumn("_ok", view("o", need_o))
            .join(self._map(rows, schema), ["p", "is_lit", "_sk", "_ok"])
            .select(
                term("_sv", "_sc").alias("s"),
                F.col("_q").alias("p"),
                term("_ov", "_oc").alias("o"),
                F.when(F.col("_ol"), F.col("o_lit")).alias("o_lit"),
                F.col("_ol").alias("is_lit"),
                "src_url",
            )
        )

    def derive_all(self, triples: DataFrame) -> DataFrame:
        """One full reasoning pass: the linear closure + transitive closure."""
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
