"""spark-submit entry for the full KG-construction DAG (north_rule).

  spark-submit --master local[4] --py-files re_shacl_spark.zip \
      jobs/run_pipeline.py --pages 100000 --checkpoint /tmp/kg_ckpt

Also runnable as plain `python jobs/run_pipeline.py`: it builds its own
session on local[--cpus] when given, else get_spark's default
(SPARK_GRAFT_CPUS, or the CPU count).  Prints ONE JSON metrics line; with
--checkpoint, a second run resumes from the last complete stage (delete the
dir to rerun).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=100_000)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--body-repeat", type=int, default=1)
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    if "PYSPARK_GATEWAY_PORT" in os.environ:
        # launched via spark-submit (the gateway JVM already exists):
        # --master/--conf own the session config, don't override them
        spark = SparkSession.builder.getOrCreate()
    else:
        from re_shacl_spark.session import get_spark

        spark = get_spark(
            "kg_construct",
            master=f"local[{args.cpus}]" if args.cpus else None,
            shuffle_partitions=args.cpus,
            # web pages are WIDE rows (tens of KB of text): the default 10k-row
            # Arrow batch is ~300MB, and one such batch in flight per core
            # thrashes memory at high parallelism.  2048 rows ≈ 60MB bounds
            # peak batch memory; measured 25-30% faster at BOTH 1 and 4 cores
            # on the 800k-page corpus
            extra_conf={
                "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
                # small-corpus stage checkpoints are a few hundred MB: 32MB
                # splits keep every stage at 4+ task waves per core (see
                # scripts/scaling.py for the measurement)
                "spark.sql.files.maxPartitionBytes": "33554432",
            },
        )
    spark.sparkContext.setLogLevel("ERROR")

    from re_shacl_spark import corpus
    from re_shacl_spark.checkpoint import CheckpointStore
    from re_shacl_spark.job import construct_kg

    pages = corpus.generate_pages(spark, args.pages, seed=args.seed, body_repeat=args.body_repeat)
    store = CheckpointStore(spark, args.checkpoint) if args.checkpoint else None
    res = construct_kg(
        spark, pages, corpus.alias_rows(), store=store,
        input_token=corpus.pages_token(args.pages, seed=args.seed, body_repeat=args.body_repeat),
    )

    out = {
        "pages": args.pages,
        "body_repeat": args.body_repeat,
        "parallelism": spark.sparkContext.defaultParallelism,
        **res.metrics,
    }
    if store is not None:
        out["lineage_rows"] = store.lineage().count()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
