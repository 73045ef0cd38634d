"""Large-scale training-data pipeline operators over the documents/embeddings
tables: deduplication (exact / MinHash-LSH / SimHash / n-gram Jaccard /
embedding-cosine / duplicate-span coverage), similarity search (brute-force +
LSH- and IVF-bucketed ANN, int8 quantization), text analysis (language-ID,
quality, tokens, fingerprints, bigram-LM fluency), corpus prep (chunking,
vocab, n-grams, training shards, boilerplate removal), sampling/packing/
decontamination.

All hot paths are built-in pyspark.sql.functions (JVM, whole-stage codegen);
hashes are md5-derived so DuckDB oracles can reproduce them bit-for-bit.
"""
