"""The end-to-end KG-construction DAG (BASELINE.json north_star):

  pages (url, warc_ts, html, text, lang)
    → s1_text      HTML→text extraction (Arrow UDF, byte-identical per url)
    → s2_mentions  gazetteer mention detection + link scoring (pandas UDF,
                   broadcast alias dict)
    → s3_triples   (s,p,o) emission into the hash-partitioned triple store
    → s4_fused     OWL rules scoped to what the shapes read (shape_scope) +
                   owl:sameAs CC canonicalization (fixpoint); the stage meta
                   keeps the TBox's class/property rep pairs
    → s5_violations / s5_conformant   the shapes, rewritten onto the fused
                   reps (rewrite_shapes), checked against the fused graph with
                   no tbox (it already holds every in-scope supertype);
                   conformant = triples whose subject has no violation

Every stage checkpoints through CheckpointStore (per-partition lineage rows +
resume), the Spark-native replacement for the reference's rerun-from-scratch
protocol (/root/reference/run_experiment.py:138-170).
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from re_shacl_spark import corpus
from re_shacl_spark.checkpoint import CheckpointStore, input_fingerprint
from re_shacl_spark.extract.emit import MENTIONS_P, SURFACE_P, emit_triples
from re_shacl_spark.extract.html import extract_text
from re_shacl_spark.extract.mentions import detect_mentions
from re_shacl_spark.model.triples import iri_triple, triples_df, vocab
from re_shacl_spark.pipeline import fuse
from re_shacl_spark.validate.engine import validate
from re_shacl_spark.validate.shapes import (
    NodeShape,
    PropertyConstraint,
    rewrite_shapes,
    shape_nodes,
    shape_scope,
)

CLS = "http://kg.example.org/class/"

# corpus ontology: class hierarchy + page typing via domain of kg:mentions
CORPUS_TBOX: list[tuple[str, str, str]] = [
    (CLS + "Organization", vocab.SUBCLASS, CLS + "Entity"),
    (CLS + "Person", vocab.SUBCLASS, CLS + "Entity"),
    (CLS + "Place", vocab.SUBCLASS, CLS + "Entity"),
    (MENTIONS_P, vocab.DOMAIN, CLS + "Page"),
]

# corpus shapes: entities need a surface form; pages mention at most 2 entities
# (deliberately violated by ~⅓ of pages so the conformant filter does real work)
def corpus_shapes() -> list[NodeShape]:
    return [
        NodeShape(
            "sh:EntityShape",
            target_classes=[CLS + "Entity"],
            properties=[
                PropertyConstraint(path=SURFACE_P, min_count=1, node_kind=vocab.SH + "Literal")
            ],
        ),
        NodeShape(
            "sh:PageShape",
            target_classes=[CLS + "Page"],
            properties=[PropertyConstraint(path=MENTIONS_P, min_count=1, max_count=2)],
        ),
    ]


@dataclass
class KGResult:
    conformant: DataFrame
    violations: DataFrame
    triples: DataFrame
    rep_map: DataFrame
    rounds: int
    metrics: dict = field(default_factory=dict)


def construct_kg(
    spark: SparkSession,
    pages: DataFrame,
    alias_rows: list[tuple[str, str, float]],
    entity_classes: dict[str, str] | None = None,
    tbox_rows: list[tuple[str, str, str]] | None = None,
    shapes: list[NodeShape] | None = None,
    store: CheckpointStore | None = None,
    triple_partitions: int | None = None,
    input_token: str | None = None,
) -> KGResult:
    """Run (or resume) the full DAG.  With a store, completed stages load from
    their checkpoints; without one, the plan runs straight through."""
    t0 = time.time()
    metrics: dict = {}
    tbox_rows = CORPUS_TBOX if tbox_rows is None else tbox_rows
    shapes = corpus_shapes() if shapes is None else shapes
    entity_classes = corpus.ENTITY_CLASSES if entity_classes is None else entity_classes

    stage_sec: dict[str, float] = {}

    # one fingerprint over every DAG input: resuming after ANY input change
    # (pages file set, aliases, classes, tbox, shapes) invalidates all stages
    # instead of silently serving stale checkpoints
    if input_token is not None:
        # the caller declares the pages' identity (an Iceberg snapshot id, a
        # deterministic generator's (n, seed, …) token): no discovery scan
        page_src = [f"token:{input_token}"]
    else:
        try:
            page_src = sorted(pages.inputFiles())
        except Exception:
            page_src = []
    if not page_src:
        # non-file-backed frame (in-memory test data, views): fingerprint the
        # CONTENT, not just the schema — same-schema-different-rows must
        # invalidate too (ADVICE r2).  count + order-insensitive sum of row
        # hashes: one scan, deterministic across partitionings; file-backed
        # inputs never pay it (their file list is the digest)
        digest = pages.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal accumulator: a sum of 64-bit hashes overflows long under
            # ANSI; decimal(38,0) holds ~10^18 rows' worth without wrapping
            F.sum(F.xxhash64(*pages.columns).cast("decimal(38,0)")).alias("h"),
        ).first()
        page_src = [pages.schema.json(), str(digest["n"]), str(digest["h"])]
    fp = input_fingerprint(
        page_src, alias_rows, sorted((entity_classes or {}).items()), tbox_rows, shapes
    )

    def run(stage, build, meta=None):
        t = time.time()
        out = build() if store is None else store.run_stage(stage, build, meta, fingerprint=fp)
        stage_sec[stage] = round(time.time() - t, 2)
        return out

    # drop the raw bytes once text is extracted: at corpus scale the html
    # column dominates checkpoint I/O and is never read downstream (url is the
    # lineage key back to the source table)
    s1 = run("s1_text", lambda: extract_text(pages).drop("html"))
    # project to what the UDF reads (url/text/lang — warc_ts never enters the
    # Arrow batch) and drop the text INSIDE it (never rides the return leg);
    # downstream (emit_triples) consumes only url + mentions
    s2 = run(
        "s2_mentions",
        lambda: detect_mentions(s1.select("url", "text", "lang"), alias_rows, drop=("text",)),
    )

    def build_triples():
        t = emit_triples(s2, entity_classes)
        t = t.unionByName(triples_df(spark, [iri_triple(*x) for x in tbox_rows]))
        # hash-partition the store by subject (north_rule): co-locates the
        # subject-keyed rewrite joins and the validation groupBys downstream
        n = triple_partitions or spark.sparkContext.defaultParallelism
        return t.repartition(n, "s")

    s3 = run("s3_triples", build_triples)

    t_fuse = time.time()
    s4_meta = store.stage_meta("s4_fused") if store is not None else None
    if s4_meta and "reps" in s4_meta and store.has("s4_fused", fp) and store.has("s4_repmap", fp):
        fused_triples = store.load("s4_fused")
        rep_map = store.load("s4_repmap")
        rounds = int(s4_meta["rounds"])
        reps = json.loads(s4_meta["reps"])
    else:
        res = fuse(spark, s3, scope=shape_scope(shapes), assume_distinct=True)
        rounds = res.rounds
        # the TBox's equivalence reps: the shapes are rewritten through them
        reps = [res.tbox.class_rep_pairs(), res.tbox.prop_rep_pairs()]
        if store is not None:
            meta = {"rounds": rounds, "reps": json.dumps(reps)}
            fused_triples = store.save("s4_fused", res.triples, meta, fingerprint=fp)
            rep_map = store.save("s4_repmap", res.rep_map, {"rounds": rounds}, fingerprint=fp)
        else:
            fused_triples, rep_map = res.triples, res.rep_map
    stage_sec["s4_fuse"] = round(time.time() - t_fuse, 2)

    def build_violations():
        named = shape_nodes(shapes)
        node_rep = {}
        if named:  # only the node IRIs the shapes name: no job without them
            hits = rep_map.filter(F.col("member").isin(named)).collect()
            node_rep = {r.member: r.rep for r in hits}
        class_rep, prop_rep = (dict(pairs) for pairs in reps)
        checked = rewrite_shapes(shapes, node_rep, class_rep, prop_rep)
        return validate(spark, fused_triples, checked).violations

    violations = run("s5_violations", build_violations)

    def build_conformant():
        bad_focus = violations.select(F.col("focus").alias("s")).distinct()
        return fused_triples.join(bad_focus, "s", "left_anti")

    conformant = run("s5_conformant", build_conformant)

    def n_rows(stage: str, df: DataFrame) -> int:
        # a stored stage's manifest holds its row count (parquet footers):
        # count only what no store committed
        n = store.rows(stage) if store is not None else None
        return df.count() if n is None else n

    n_conf = n_rows("s5_conformant", conformant)
    wall = time.time() - t0
    metrics.update(
        {
            "wall_sec": round(wall, 2),
            "fused_triples": n_rows("s4_fused", fused_triples),
            "conformant_triples": n_conf,
            "violations": n_rows("s5_violations", violations),
            "fixpoint_rounds": rounds,
            "triples_per_sec": round(n_conf / wall, 1),
            "stage_sec": stage_sec,
        }
    )
    return KGResult(conformant, violations, fused_triples, rep_map, rounds, metrics)
