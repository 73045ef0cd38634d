"""re_shacl_spark — a brand-new PySpark-native KG-construction + scoped-reasoning +
reduced-SHACL-validation engine, with the query/data-processing capabilities of
DE-TUM/Re-SHACL (reference at /root/reference, studied for semantics only).

Architecture (Spark-first, NOT a port):
  pages (url, warc_ts, html, text, lang)      -- Iceberg/parquet scan
    -> extract.html     : vectorized Arrow UDF html->text (byte-stable per url)
    -> extract.mentions : pandas UDF mention detection over broadcast alias dict
    -> extract.emit     : (s, p, o) triple emitter into the triple-store DataFrame
    -> reasoning        : scoped OWL/RDFS rules as broadcast-join transforms
    -> canonicalize     : owl:sameAs closure = large-star/small-star connected
                          components + representative rewrite (min-IRI, deterministic)
    -> validate         : SHACL-style constraints as single-pass Spark SQL aggregations
                          with per-shape early termination

Everything is DataFrame-declarative so Catalyst handles pushdown/pruning/broadcast
selection; the only driver-side loops are the reasoning fixpoints (Catalyst cannot
loop) which use semi-naive deltas + model.triples.materialize (an eager local
checkpoint that also observes the next round's counts) to truncate lineage.
"""

__version__ = "0.1.0"
