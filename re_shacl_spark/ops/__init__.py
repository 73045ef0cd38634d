"""Large-scale training-data pipeline operators over the documents/embeddings
tables: deduplication (exact / MinHash-LSH / SimHash / n-gram Jaccard /
embedding-cosine), similarity search (brute-force + LSH- and IVF-bucketed
ANN, int8 quantization), text analysis (language-ID, quality, tokens,
fingerprints, bigram-LM fluency, PII scrubbing) and train/test
decontamination.

All hot paths are built-in pyspark.sql.functions (JVM, whole-stage codegen);
hashes are md5-derived so DuckDB oracles can reproduce them bit-for-bit.
"""
