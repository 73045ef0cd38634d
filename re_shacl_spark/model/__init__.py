from re_shacl_spark.model.triples import (  # noqa: F401
    TRIPLE_SCHEMA,
    iri_triple,
    lit_triple,
    local_frame,
    materialize,
    triples_df,
    vocab,
)
