"""Triple emitter: linked mentions → (s, p, o) rows in the triple store.

Per page mention (url, alias, entity, score):
  (page_iri,   kg:mentions,  mention_iri)        — page-level provenance
  (mention_iri, kg:surface,  "alias")            — literal surface form
  (mention_iri, owl:sameAs,  entity_id)          — the linking decision; distinct
                                                   aliases of one entity thus
                                                   produce sameAs clusters that
                                                   the CC stage collapses
  (entity_id,  rdf:type,     class)              — from the broadcast class map

The emitter is pure column algebra (explode + selects + union) — no UDF; it
stays entirely inside whole-stage codegen.  src_url carries lineage per
BASELINE.json north_rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from re_shacl_spark.model.triples import local_frame, materialize, vocab

KG = "http://kg.example.org/ns#"
MENTIONS_P = KG + "mentions"
SURFACE_P = KG + "surface"
XSD_STRING = vocab.XSD + "string"


def _mention_iri(alias_col, entity_col):
    # mention node id is deterministic in (alias): multiple aliases of the same
    # entity yield distinct mention nodes whose sameAs edges meet at the entity.
    # The alias is already lowercase (see emit_triples); Spark's lower() would
    # run ICU case mapping per row for nothing.
    return F.concat(F.lit("http://kg.example.org/mention/"), F.regexp_replace(alias_col, r"[^a-z0-9]+", "_"))


def emit_triples(
    pages_with_mentions: DataFrame,
    entity_classes: dict[str, str] | None = None,
) -> DataFrame:
    """Triples of ``pages_with_mentions`` (``url`` plus a ``mentions`` array of
    ``alias``/``entity`` structs, as ``detect_mentions`` emits them).

    Precondition: every ``alias`` is already lowercase — ``detect_mentions``
    lowercases aliases in Python — since the mention IRI is built from the
    alias as is."""
    # distinct (alias, entity) per page BEFORE exploding: a page mentioning one
    # entity 100 times contributes 100 array elements but only one triple set,
    # and array_distinct runs inside codegen — map-side reduction ahead of any
    # shuffle (the emitted triples are deduped again globally below)
    pairs = F.array_distinct(
        F.transform(
            "mentions",
            lambda x: F.struct(x["alias"].alias("alias"), x["entity"].alias("entity")),
        )
    )
    m = pages_with_mentions.select("url", F.explode(pairs).alias("mn")).select(
        F.col("url"),
        F.col("mn.alias").alias("alias"),
        F.col("mn.entity").alias("entity"),
    )
    m = m.withColumn("mention_iri", _mention_iri(F.col("alias"), F.col("entity")))
    # the four output branches below each re-scan m; materialize it once
    # (small: one row per detected mention) instead of recomputing the
    # explode+projection per branch
    m, _ = materialize(m)
    page_iri = F.concat(F.lit("http://kg.example.org/page/"), F.sha2(F.col("url"), 256))

    null_lit = F.lit(None).cast("struct<lex:string,dtype:string,lang:string>")

    page_mentions = m.select(
        page_iri.alias("s"),
        F.lit(MENTIONS_P).alias("p"),
        F.col("mention_iri").alias("o"),
        null_lit.alias("o_lit"),
        F.lit(False).alias("is_lit"),
        F.col("url").alias("src_url"),
    )
    surface = m.select(
        F.col("mention_iri").alias("s"),
        F.lit(SURFACE_P).alias("p"),
        F.col("alias").alias("o"),
        F.struct(
            F.col("alias").alias("lex"),
            F.lit(XSD_STRING).alias("dtype"),
            F.lit(None).cast("string").alias("lang"),
        ).alias("o_lit"),
        F.lit(True).alias("is_lit"),
        F.col("url").alias("src_url"),
    )
    links = m.select(
        F.col("mention_iri").alias("s"),
        F.lit(vocab.SAMEAS).alias("p"),
        F.col("entity").alias("o"),
        null_lit.alias("o_lit"),
        F.lit(False).alias("is_lit"),
        F.col("url").alias("src_url"),
    )
    out = page_mentions.unionByName(surface).unionByName(links)

    if entity_classes:
        spark = pages_with_mentions.sparkSession
        cls_map = F.broadcast(
            local_frame(spark, sorted(entity_classes.items()), ["entity", "cls"])
        )
        typed = (
            m.select("entity", "url")
            .join(cls_map, "entity")
            .select(
                F.col("entity").alias("s"),
                F.lit(vocab.TYPE).alias("p"),
                F.col("cls").alias("o"),
                null_lit.alias("o_lit"),
                F.lit(False).alias("is_lit"),
                F.col("url").alias("src_url"),
            )
        )
        out = out.unionByName(typed)
    return out.dropDuplicates(["s", "p", "o"])
