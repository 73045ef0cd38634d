"""CheckpointStore: stage persistence, per-partition lineage, resume semantics
(north_rule: resumable from checkpoint with per-partition lineage + metrics)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from re_shacl_spark.checkpoint import CheckpointStore


@pytest.fixture()
def store(spark, tmp_path):
    return CheckpointStore(spark, str(tmp_path / "ckpt"))


def test_save_load_roundtrip(spark, store):
    df = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v"))
    store.save("s1", df, {"note": "x"})
    assert store.has("s1")
    back = store.load("s1")
    assert back.count() == 100
    assert {r.id for r in back.collect()} == set(range(100))
    assert store.stage_meta("s1") == {"note": "x"}


def test_missing_stage_returns_none(store):
    assert store.load("nope") is None
    assert not store.has("nope")


def test_lineage_rows_cover_all_partitions(spark, store):
    df = spark.range(1000).repartition(4)
    store.save("s1", df, {"k": "v"})
    lin = store.lineage("s1").collect()
    assert sum(r.rows for r in lin) == 1000
    assert all(r.stage == "s1" for r in lin)
    assert all(dict(r.meta) == {"k": "v"} for r in lin)


def test_lineage_all_stages(spark, store):
    store.save("a", spark.range(10), {})
    store.save("b", spark.range(20), {"fixpoint": "3"})
    lin = store.lineage()
    assert {r.stage for r in lin.collect()} == {"a", "b"}
    assert lin.filter(F.col("stage") == "b").agg(F.sum("rows")).collect()[0][0] == 20


def test_run_stage_resumes_without_recompute(spark, store):
    calls = []

    def build():
        calls.append(1)
        return spark.range(5)

    a = store.run_stage("s", build)
    b = store.run_stage("s", build)
    assert len(calls) == 1  # second call resumed from the checkpoint
    assert a.count() == b.count() == 5


def test_incomplete_stage_recomputed(spark, store, tmp_path):
    store.save("s", spark.range(5))
    # simulate a crash between data write and manifest commit
    os.remove(store._manifest("s"))
    calls = []

    def build():
        calls.append(1)
        return spark.range(7)

    out = store.run_stage("s", build)
    assert len(calls) == 1 and out.count() == 7


def test_fingerprint_mismatch_invalidates_stage(spark, store):
    from re_shacl_spark.checkpoint import input_fingerprint

    fp1 = input_fingerprint(["file_a"], [("alias", "e1", 0.9)])
    fp2 = input_fingerprint(["file_a", "file_b"], [("alias", "e1", 0.9)])
    assert fp1 != fp2
    calls = []

    def build():
        calls.append(1)
        return spark.range(3).toDF("x")

    store.run_stage("fp_stage", build, fingerprint=fp1)
    # same fingerprint: resumed from checkpoint, no recompute
    store.run_stage("fp_stage", build, fingerprint=fp1)
    assert len(calls) == 1
    # changed inputs: stale checkpoint must NOT be served
    store.run_stage("fp_stage", build, fingerprint=fp2)
    assert len(calls) == 2
    # legacy callers without a fingerprint still resume
    store.run_stage("fp_stage", build)
    assert len(calls) == 2


def test_save_rereads_without_a_schema_job(spark, store, tmp_path):
    """save re-reads its output under the writer's schema: the same schema,
    nullability included, as inferring it from the files, and no Spark job
    beyond the write's own."""
    import time

    df = spark.range(0, 100, numPartitions=2).select(
        F.col("id"), F.when(F.col("id") % 3 == 0, F.lit("x")).alias("s"),
        F.struct(F.col("id").alias("a")).alias("st"),
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs(group, fn):
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

    _, write_jobs = jobs("ckpt-write", lambda: df.write.parquet(str(tmp_path / "plain")))
    back, save_jobs = jobs("ckpt-save", lambda: store.save("s1", df))
    assert save_jobs == write_jobs
    assert back.schema == spark.read.parquet(store._stage_dir("s1")).schema
    assert sorted(back.collect()) == sorted(df.collect())
