"""SparkSession factory with scale-oriented defaults.

Defaults chosen for a 1000-executor / 100 TB deployment and scaled down for
local[] testing:
  - AQE on (runtime coalescing + skew-join splitting),
  - explicit shuffle-partition count from SPARK_GRAFT_CPUS (default: the
    machine's CPU count; cluster: 2-3x cores),
  - driver heap from SPARK_DRIVER_MEM, else 40% of physical RAM capped at 16g,
  - Arrow enabled for every pandas/Arrow UDF path,
  - broadcast threshold left at default; TBox/alias maps are local_frame
    LocalRelations, which carry their size, so joins against them plan as
    broadcasts (the explicit hints cover maps past LOCAL_FRAME_MAX_CELLS),
  - a generated-class cache larger than the engine's working set (see
    CODEGEN_CACHE_ENTRIES).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Generated classes (whole-stage and expression code) are compiled by Janino,
# ~10 ms each, and kept per JVM in an LRU of spark.sql.codegen.cache.maxEntries
# entries, default 100.  One pass compiles more distinct classes than that:
# with Spark's defaults on a 4-core VM (perfbench, seed 1), a crawl_increment
# fold compiles 150-180 and a crawl_build run ~180, and every repeat of the
# fold, e.g. the next crawl increment, recompiles about as many.  Under
# AQE a stage's codegen id follows the order in which other stages finish,
# and the id is part of the class name, so the same stage code also compiled
# again under each new id; spark.sql.codegen.useIdInClassName=false leaves
# it out of the name.  With both settings, three crawl_increment passes
# compiled 141, 0 and 2 classes, and two crawl_build passes 160 and 5.
CODEGEN_CACHE_ENTRIES = 1000


def _default_driver_memory() -> str:
    """40% of physical RAM, capped at 16g: a fixed 16g heap on a 15 GB
    machine gets the JVM OOM-killed once the heap grows under a long run."""
    try:
        ram_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    except (AttributeError, OSError, ValueError):  # no sysconf: not Linux/macOS
        return "16g"
    return f"{max(1024, min(16 * 1024, ram_mb * 2 // 5))}m"


def get_spark(
    app_name: str = "re_shacl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local: one shuffle partition per core; cluster: set 2-3x total cores.
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = cpus if n in ("*", "") else int(n)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config(
            "spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory()
        )
        # iterative fixpoints localCheckpoint() per round; replication not needed locally
        .config("spark.checkpoint.compress", "true")
        # NOT set: spark.rdd.compress / io.compression.codec=zstd — measured
        # A/B at 150k pages showed them ~9% SLOWER at local[4] on this box
        # (spare bandwidth, so compression only costs CPU); on a genuinely
        # bandwidth-starved cluster they are the first knobs to revisit
        # self-referencing unions (fixpoint deltas unioned back into their source
        # frame) trip Catalyst's Union constraint rewrite ("key not found: u#N")
        # in Spark 4.1; constraint propagation buys nothing for checkpoint-
        # truncated iterative plans, so turn it off
        .config("spark.sql.constraintPropagation.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def ensure_fixpoint_confs(spark: SparkSession) -> None:
    """Make iterative (union + localCheckpoint) plans safe on ANY session, not
    just ones built by get_spark: Spark 4.1's Union constraint rewrite throws
    "key not found: <attr>" on self-referencing unions (delta frames unioned
    back into their source).  Constraint propagation buys nothing for
    checkpoint-truncated iterative plans; runtime-settable, so set it here
    defensively for callers whose session we don't control (the driver's)."""
    spark.conf.set("spark.sql.constraintPropagation.enabled", "false")
