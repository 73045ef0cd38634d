"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship merge-then-reason KG fusion on sf0.001.
queries()      — one callable per implemented operator (SURVEY.md §2).
oracle_sql()   — matching DuckDB SQL; see re_shacl_spark/kgbench.py for the
                 Spark↔SQL mirroring rules (md5-derived hashes, integer-exact
                 aggregates, per-row float folds rounded to fixed decimals).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from re_shacl_spark import kgbench


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full fixpoint fusion (rules J1-J7 + TBox closure + checks)
    over the KG constructed from the sf0.001 relational tables."""
    return kgbench.q_kg_fuse(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(kgbench.QUERIES)


def oracle_sql() -> dict[str, str]:
    """Every registered oracle.  A fixture-derived oracle whose fixture file
    is absent is left out; its row's query raises the FileNotFoundError."""
    out = dict(kgbench.ORACLES)
    for name, build in kgbench.FIXTURE_ORACLES.items():
        try:
            out[name] = build()
        except FileNotFoundError:
            pass
    return out
