"""Oracle output dtypes stay on the Spark↔DuckDB comparison boundary.

The grading driver's value hash is dtype-sensitive: a DuckDB result column
whose type differs from the Spark result's (e.g. DuckDB promoting
``sum(BIGINT)`` to HUGEINT/int128 while Spark stays long) hash-mismatches
even when every cell agrees — the exact failure mode of the r4
``corpus_pack`` / ``text_lm_score`` reds (VERDICT r4 What's-wrong #1).

This test runs every registered oracle in DuckDB at sf0.001 (cheap — no
Spark) and asserts no result column carries a type Spark cannot emit:
HUGEINT/UHUGEINT (int128), DECIMAL, or unsigned ints.  INTEGER is allowed
because a Spark query may emit int32 there too — the invariant is
Spark/DuckDB dtype AGREEMENT, which scripts/check_oracle.py also verifies
side-by-side.
"""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# types the driver comparison can see from Spark: long/int/double/string/bool
ALLOWED = {"BIGINT", "INTEGER", "DOUBLE", "VARCHAR", "BOOLEAN"}


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return c


def test_no_wide_or_exotic_oracle_types(con):
    offenders: dict[str, list[tuple[str, str]]] = {}
    for name, sql in entry_mod.oracle_sql().items():
        rel = con.sql(sql)
        bad = [
            (c, str(t))
            for c, t in zip(rel.columns, rel.types)
            if str(t) not in ALLOWED
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, f"oracle columns off the comparison boundary: {offenders}"


def test_every_query_has_exactly_one_oracle():
    """A registry row and its oracle leave (or arrive) together: every query
    has a plain or fixture-built oracle, and no oracle names a missing query."""
    from re_shacl_spark import kgbench

    assert not set(kgbench.ORACLES) & set(kgbench.FIXTURE_ORACLES)
    assert set(entry_mod.queries()) == set(kgbench.ORACLES) | set(kgbench.FIXTURE_ORACLES)
