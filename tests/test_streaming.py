"""Incremental Structured-Streaming ingestion: exactly-once file draining,
append triple sink, parity with the batch front end."""

from __future__ import annotations

from re_shacl_spark import corpus
from re_shacl_spark.extract.emit import emit_triples
from re_shacl_spark.extract.html import extract_text
from re_shacl_spark.extract.mentions import detect_mentions
from re_shacl_spark.streaming.incremental import run_incremental


def _write_pages(spark, path, lo, hi, seed=21):
    import pyspark.sql.functions as F

    pages = corpus.generate_pages(spark, hi, seed=seed).filter(F.col("url").isNotNull())
    # deterministic split on the page index embedded in the url
    idx = F.element_at(F.split("url", "/"), -1).cast("long")
    pages.filter((idx >= lo) & (idx < hi)).write.mode("append").parquet(path)


def test_incremental_exactly_once_and_batch_parity(spark, tmp_path):
    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "triples")
    ck = str(tmp_path / "ck")
    aliases = corpus.alias_rows()

    _write_pages(spark, pages_dir, 0, 120)
    n1 = run_incremental(spark, pages_dir, out_dir, ck, aliases, corpus.ENTITY_CLASSES)
    assert n1 > 0
    got1 = spark.read.parquet(out_dir)
    c1 = got1.count()

    # second invocation with NO new files: nothing is re-ingested
    n2 = run_incremental(spark, pages_dir, out_dir, ck, aliases, corpus.ENTITY_CLASSES)
    assert n2 == 0
    assert spark.read.parquet(out_dir).count() == c1

    # drop a second batch of files → only the delta is processed
    _write_pages(spark, pages_dir, 120, 200)
    n3 = run_incremental(spark, pages_dir, out_dir, ck, aliases, corpus.ENTITY_CLASSES)
    assert n3 > 0
    streamed = spark.read.parquet(out_dir).select("s", "p", "o").distinct()

    # batch front end over the same accumulated pages == streamed result
    pages = spark.read.parquet(pages_dir)
    batch = emit_triples(
        detect_mentions(extract_text(pages).drop("html"), aliases).drop("text"),
        corpus.ENTITY_CLASSES,
    ).select("s", "p", "o").distinct()
    assert streamed.exceptAll(batch).isEmpty() and batch.exceptAll(streamed).isEmpty()
