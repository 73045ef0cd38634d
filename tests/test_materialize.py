"""model.triples.materialize: an eager local checkpoint whose own job also
returns the counts a fixpoint round decides on.

Counts and flags are checked against ``count()`` / ``filter().count()``;
plans the optimizer proves empty must run no Spark job at all (checked
through the status tracker, with a later sentinel job proving the listener
bus has caught up).  A guard keeps ``localCheckpoint(`` out of the core
outside ``materialize``, the one way to truncate lineage."""

from __future__ import annotations

import os
import re
import time

import pytest
from pyspark.sql import functions as F

from re_shacl_spark.model.triples import (
    TRIPLE_SCHEMA,
    iri_triple,
    lit_triple,
    local_frame,
    materialize,
    triples_df,
    vocab,
)


def _jobs(spark, group: str, fn):
    """(fn(), number of Spark jobs fn started), counted by job group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(group + "-sentinel", "sentinel")
        spark.range(1).collect()
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup(group + "-sentinel"):
        assert time.time() < deadline, "sentinel job never reached the status tracker"
        time.sleep(0.05)
    return out, len(tracker.getJobIdsForGroup(group))


def _frame(spark):
    return spark.range(0, 1000, numPartitions=4).select(
        F.col("id"), (F.col("id") % 7).alias("k"), (F.col("id") % 2 == 0).alias("even")
    )


def test_counts_and_flags_match_count_and_filter(spark):
    df = _frame(spark)
    out, c = materialize(df, k3=F.col("k") == 3, even=F.col("even"), none=F.lit(False))
    assert c == {
        "rows": df.count(),
        "k3": df.filter(F.col("k") == 3).count(),
        "even": df.filter("even").count(),
        "none": 0,
    }
    assert sorted(out.collect()) == sorted(df.collect())
    # the result hangs off the checkpoint, not the source plan
    assert "Range" not in out._jdf.queryExecution().optimizedPlan().toString()


def test_aggregate_metric_observed_as_given(spark):
    df = _frame(spark)
    _, c = materialize(df, h=F.bit_xor(F.xxhash64("id")), mx=F.max("k"))
    row = df.agg(F.bit_xor(F.xxhash64("id")).alias("h"), F.max("k").alias("mx")).first()
    assert (c["h"], c["mx"]) == (row["h"], row["mx"])


def test_one_job_for_checkpoint_and_counts(spark):
    df = local_frame(spark, [(str(i), str(i % 3)) for i in range(50)], ["a", "b"])
    (_, c), jobs = _jobs(spark, "materialize-one", lambda: materialize(df, b0=F.col("b") == "0"))
    assert c == {"rows": 50, "b0": 17}
    assert jobs == 1


@pytest.mark.parametrize("case", ["limit0", "empty_local_frame", "join_empty_map"])
def test_statically_empty_plans_run_no_job(spark, case):
    triples = triples_df(spark, [iri_triple("a", "p", "b"), lit_triple("a", "q", "1")])
    empty_map = local_frame(spark, [], ["member", "rep"])
    df = {
        "limit0": triples.limit(0),
        "empty_local_frame": local_frame(spark, [], TRIPLE_SCHEMA),
        "join_empty_map": triples.join(empty_map, triples["s"] == empty_map["member"]),
    }[case]
    (out, c), jobs = _jobs(
        spark, f"materialize-empty-{case}", lambda: materialize(df, sameas=F.col("p") == vocab.SAMEAS)
    )
    assert c == {"rows": 0, "sameas": 0}
    assert jobs == 0
    assert out.count() == 0 and out.columns == df.columns


def test_rows_is_reserved(spark):
    with pytest.raises(ValueError):
        materialize(_frame(spark), rows=F.lit(True))


# ---------------------------------------------------------------------------
# one way to truncate lineage
# ---------------------------------------------------------------------------

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "re_shacl_spark")
CORE = ["pipeline.py", "job.py", "checkpoint.py", "query.py", "extract", "reasoning",
        "canonicalize", "validate"]


def test_local_checkpoint_only_inside_materialize():
    """The core truncates lineage through materialize (model/triples.py),
    which also counts what the next decision needs, and nowhere else."""
    paths = []
    for entry in CORE:
        full = os.path.join(PKG, entry)
        if os.path.isdir(full):
            paths += [os.path.join(r, n) for r, _, ns in os.walk(full) for n in ns if n.endswith(".py")]
        else:
            paths.append(full)
    offenders = []
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for i, line in enumerate(f, 1):
                if re.search(r"localCheckpoint\s*\(", line):
                    offenders.append(f"{os.path.relpath(path, PKG)}:{i}")
    assert not offenders, f"truncate lineage with materialize, not localCheckpoint: {offenders}"
