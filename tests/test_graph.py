"""Integer fixed-point arithmetic of the text-statistics operators:
parts-per-million ratios take a decimal intermediate so the multiply cannot
overflow bigint."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_lm_ppm_beyond_bigint_multiply(spark):
    """lm_transition_score's ppm: (c2*1e6) overflows bigint once a single
    corpus-wide bigram count passes ~9.2e12; the decimal intermediate is
    exact and returns bigint."""
    c2, c1 = 10_000_000_000_000, 40_000_000_000_000
    row = spark.createDataFrame([(c2, c1)], "c2 long, c1 long")
    out = row.select(
        F.expr("(cast(c2 as decimal(38,0)) * 1000000) div c1").alias("ppm")
    )
    assert out.collect()[0].ppm == (c2 * 1_000_000) // c1 == 250_000
    assert dict(out.dtypes)["ppm"] == "bigint"
