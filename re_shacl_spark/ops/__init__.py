"""Text statistics over the documents table (ops/textstats): tokens, quality,
language-ID, fingerprints, repetition, PII scrubbing, bigram-LM fluency and
TF-IDF top terms.

All hot paths are built-in pyspark.sql.functions (JVM, whole-stage codegen);
hashes are md5-derived so DuckDB oracles can reproduce them bit-for-bit.
"""
