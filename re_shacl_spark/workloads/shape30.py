"""Shape_30 workload: the reference's committed DBpedia shapes graph
(/root/reference/source/ShapesGraphs/Shape_30.ttl — 30 node shapes, 611
property shapes; the headline dataset of run_experiment.py:99-102) validated
END-TO-END against a deterministic DBpedia-like ABox.

Generator contract (constraint census of the compiled graph):
  - 30 ``sh:in`` property shapes all sit on path rdf:type with the target
    class as the single allowed value → satisfied by the target-typing triple
    itself; excluded from violation seeding.
  - the remaining pcs fall into: datatype (272, incl. rdf:langString),
    base sh:class (6), sh:or over class/empty/xsd:string-datatype branches
    (256), count-only (47); all minCounts are 1, no maxCount/hasValue/sh:node.
  - every (entity k, property shape pcid) emits ONE conforming value, except:
      skip  when (k + pcid) % 17 == 5  → minCount violation iff minCount=1
      bad   when not skip and (k + pcid) % 23 == 7 → a literal with dtype
            kg:wrong replaces the good value → 'value' violation iff the pc
            constrains values at all (or-pcs: iff no vacuous branch — branches
            carrying only the ignored capital-N ``sh:NodeKind`` compile empty
            and conform everything, pyshacl parity)
  - sh:class values point at a typed instance: a REGULAR entity of the
    target's shape when the class is one of the 30 targets (avoids creating
    accidental focus nodes), else a dedicated t{j} instance.

The whole report is mirrored in closed form by ``oracle_sql`` (a VALUES spec
of the seedable pcs joined to ``range(n_ent)``), so the reference's headline
workload carries a driver-checkable CORRECTNESS row.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from re_shacl_spark.model.triples import O_LIT_TYPE, local_frame, vocab
from re_shacl_spark.model.ttl import parse_ttl_file
from re_shacl_spark.validate.engine import validate
from re_shacl_spark.validate.shapes import NodeShape, compile_shapes

SHAPE30 = "/root/reference/source/ShapesGraphs/Shape_30.ttl"
N_ENT_DEFAULT = 40
WRONG_DT = "kg:wrong"
LANGSTRING = vocab.RDF + "langString"


def shape30_shapes() -> list[NodeShape]:
    return compile_shapes(parse_ttl_file(SHAPE30))


def _spec(shapes: list[NodeShape]) -> tuple[list[dict], dict[str, str]]:
    """Per-pc seeding spec + {class: instance-iri} for sh:class values."""
    target_of = {}  # target class -> shape index
    for si, s in enumerate(shapes):
        for tc in s.target_classes:
            target_of.setdefault(tc, si)

    cls_inst: dict[str, str] = {}
    extra_j = 0

    def inst_for(cls: str) -> str:
        nonlocal extra_j
        if cls in cls_inst:
            return cls_inst[cls]
        if cls in target_of:
            iri = f"e{target_of[cls]}_0"  # typed entity of that shape
        else:
            iri = f"t{extra_j}"
            extra_j += 1
        cls_inst[cls] = iri
        return iri

    rows: list[dict] = []
    pcid = 0
    for si, s in enumerate(shapes):
        for pc in s.properties:
            if pc.path == vocab.TYPE:
                pcid += 1  # sh:in on rdf:type: satisfied by the typing triple
                continue
            r = {
                "pcid": pcid, "si": si, "shape": s.shape_id, "path": pc.path,
                "min1": pc.min_count == 1,
                "good_is_lit": True, "good_o": f"v{pcid}",
                "good_dtype": vocab.XSD + "string", "good_lang": None,
                "bad_viol": bool(pc.datatype or pc.clazz or pc.in_values or pc.node_ref),
            }
            if pc.datatype == LANGSTRING:
                r.update(good_dtype=None, good_lang="en")
            elif pc.datatype:
                r.update(good_dtype=pc.datatype)
            elif pc.clazz:
                r.update(good_is_lit=False, good_o=inst_for(pc.clazz),
                         good_dtype=None)
            elif pc.or_branches:
                empty = [b for b in pc.or_branches
                         if not any([b.clazz, b.datatype, b.node_kind, b.node_ref,
                                     b.in_values, b.has_value])]
                if empty:
                    r.update(good_is_lit=False, good_o="xfree", good_dtype=None)
                else:
                    r["bad_viol"] = True
                    cls_b = [b for b in pc.or_branches if b.clazz]
                    if cls_b:
                        r.update(good_is_lit=False, good_o=inst_for(cls_b[0].clazz),
                                 good_dtype=None)
                    # else: string-datatype branch — keep the default literal
            rows.append(r)
            pcid += 1
    # only classes NOT among the targets need their own typing triples
    extra_types = {c: i for c, i in cls_inst.items() if c not in target_of}
    return rows, extra_types


def shape30_abox(spark: SparkSession, n_ent: int = N_ENT_DEFAULT) -> DataFrame:
    shapes = shape30_shapes()
    spec, extra_types = _spec(shapes)

    k = F.col("k")
    ents = spark.range(n_ent).select(F.col("id").cast("int").alias("k"))

    # target typing triples (these double as the sh:in rdf:type values)
    typing = [
        ents.select(
            F.concat(F.lit(f"e{si}_"), k.cast("string")).alias("s"),
            F.lit(vocab.TYPE).alias("p"),
            F.lit(s.target_classes[0]).alias("o"),
            F.lit(None).cast(O_LIT_TYPE).alias("o_lit"),
            F.lit(False).alias("is_lit"),
            F.lit(None).cast("string").alias("src_url"),
        )
        for si, s in enumerate(shapes)
    ]

    spec_df = local_frame(
        spark,
        [
            (r["pcid"], r["si"], r["path"], r["good_is_lit"], r["good_o"],
             r["good_dtype"], r["good_lang"])
            for r in spec
        ],
        "pcid int, si int, path string, good_is_lit boolean, good_o string, "
        "good_dtype string, good_lang string",
    )
    grid = spec_df.crossJoin(ents).filter((k + F.col("pcid")) % 17 != 5)
    bad = (k + F.col("pcid")) % 23 == 7
    o = F.when(bad, F.lit("bad")).otherwise(F.col("good_o"))
    is_lit = F.when(bad, F.lit(True)).otherwise(F.col("good_is_lit"))
    o_lit = F.when(
        is_lit,
        F.struct(
            o.alias("lex"),
            F.when(bad, F.lit(WRONG_DT)).otherwise(F.col("good_dtype")).alias("dtype"),
            F.when(bad, F.lit(None).cast("string")).otherwise(F.col("good_lang")).alias("lang"),
        ),
    ).otherwise(F.lit(None).cast(O_LIT_TYPE))
    values = grid.select(
        F.concat(F.lit("e"), F.col("si").cast("string"), F.lit("_"), k.cast("string")).alias("s"),
        F.col("path").alias("p"),
        o.alias("o"),
        o_lit.alias("o_lit"),
        is_lit.alias("is_lit"),
        F.lit(None).cast("string").alias("src_url"),
    )

    extra = [
        local_frame(
            spark,
            [(iri, vocab.TYPE, cls) for cls, iri in sorted(extra_types.items())],
            ["s", "p", "o"],
        ).select(
            "s", "p", "o",
            F.lit(None).cast(O_LIT_TYPE).alias("o_lit"),
            F.lit(False).alias("is_lit"),
            F.lit(None).cast("string").alias("src_url"),
        )
    ] if extra_types else []

    out = functools.reduce(lambda a, x: a.unionByName(x), typing + [values] + extra)
    return out.repartition(max(spark.sparkContext.defaultParallelism, 4), "s")


def shape30_violations(spark: SparkSession, n_ent: int = N_ENT_DEFAULT) -> DataFrame:
    """End-to-end: all 30 committed node shapes (611 property shapes)
    validated in ONE single-pass aggregation over the generated ABox."""
    abox = shape30_abox(spark, n_ent).localCheckpoint(eager=True)
    return validate(spark, abox, shape30_shapes()).violations


def oracle_sql(n_ent: int = N_ENT_DEFAULT) -> str:
    """Closed-form DuckDB mirror of shape30_violations."""
    spec, _ = _spec(shape30_shapes())
    seedable = [r for r in spec if r["min1"] or r["bad_viol"]]
    vals = ",\n ".join(
        f"({r['pcid']},{r['si']},'{r['shape']}','{r['path']}',"
        f"{str(r['min1']).lower()},{str(r['bad_viol']).lower()})"
        for r in seedable
    )
    return f"""WITH spec(pcid, si, shape, path, min1, badv) AS (VALUES
 {vals}),
e AS (SELECT range::INT AS k FROM range({n_ent}))
SELECT 'e'||si||'_'||k AS focus, shape, path, 'minCount' AS "constraint", '0' AS value
FROM spec JOIN e ON (k + pcid) % 17 = 5 WHERE min1
UNION ALL
SELECT 'e'||si||'_'||k, shape, path, 'value', 'bad'
FROM spec JOIN e ON (k + pcid) % 17 <> 5 AND (k + pcid) % 23 = 7 WHERE badv"""
