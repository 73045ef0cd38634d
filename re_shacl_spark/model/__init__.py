from re_shacl_spark.model.triples import (  # noqa: F401
    TRIPLE_SCHEMA,
    TRIPLE_FIELDS,
    iri_triple,
    lit_triple,
    local_frame,
    triples_df,
    vocab,
)
