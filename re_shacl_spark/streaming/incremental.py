"""Incremental KG ingestion via Structured Streaming.

The reference is strictly batch (SURVEY §2.10: no streaming surface), and the
north rule's resumability is batch checkpoint/resume — but a Common-Crawl-style
corpus arrives in increments, so the construction FRONT END (extract → mention
→ emit; all stateless row transforms) is exposed as a streaming pipeline:

    pages parquet dir (file source) → mapInPandas extract → pandas-UDF mentions
    → triple emission → append-mode parquet sink

With ``Trigger.AvailableNow`` each invocation drains exactly the unseen input
files and stops — incremental batch with exactly-once file tracking from the
streaming checkpoint log.  The stateful tail (fusion fixpoint + validation)
stays batch: it is a whole-graph fixpoint, re-run over the accumulated store
(the reference's merge-then-reason contract is corpus-global, not windowed).

Note: the streaming emitter cannot globally dropDuplicates across batches
(that would need unbounded state); it dedups within the micro-batch and the
downstream batch fusion dedups globally — same final graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from re_shacl_spark.corpus import PAGE_SCHEMA
from re_shacl_spark.extract.emit import emit_triples
from re_shacl_spark.extract.html import extract_text
from re_shacl_spark.extract.mentions import detect_mentions


def read_page_stream(spark: SparkSession, pages_dir: str, max_files: int = 64) -> DataFrame:
    return (
        spark.readStream.schema(PAGE_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(pages_dir)
    )


def triple_stream(
    pages: DataFrame,
    alias_rows: list[tuple[str, str, float]],
    entity_classes: dict[str, str] | None = None,
) -> DataFrame:
    """pages stream → (s,p,o,...) stream.  Stateless transforms only, so the
    plan is valid in append mode with no watermark."""
    t = extract_text(pages).drop("html")
    m = detect_mentions(t, alias_rows, drop=("text",))
    return emit_triples(m, entity_classes, stream_safe=True)


def run_incremental(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    alias_rows: list[tuple[str, str, float]],
    entity_classes: dict[str, str] | None = None,
) -> int:
    """Drain all currently-unseen page files into the triple store (append),
    exactly once, then stop.  Returns TRIPLE ROWS WRITTEN this invocation,
    measured as the sink row-count delta (the parquet sink reports -1 output
    rows per progress event, and ``recentProgress`` retains only ~100 recent
    batches, so summing progress numInputRows both mislabels pages as triples
    and undercounts long drains)."""

    def sink_rows() -> int:
        try:
            return spark.read.parquet(out_dir).count()
        except Exception:  # sink dir not created yet on first invocation
            return 0

    before = sink_rows()
    stream = triple_stream(read_page_stream(spark, pages_dir), alias_rows, entity_classes)
    q = (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sink_rows() - before
