"""model.triples.local_frame: small driver-side frames as Catalyst
LocalRelations (SQL VALUES) instead of createDataFrame's PythonRDD.

Parity with createDataFrame (rows and schema, nullability included) is checked
by hypothesis over arbitrary unicode text and nulls, TRIPLE_SCHEMA rows with
o_lit structs and _PC_SCHEMA rows with arrays, with the row threshold lowered
so one generator lands on both paths.  Plan-level tests pin what the helper is
for: no PythonRDD scan below the threshold, a broadcast join without a hint,
and plan-time pruning of a join against an empty map."""

from __future__ import annotations

import ast
import datetime
import os
import re
from unittest import mock

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from re_shacl_spark.model import triples as tm
from re_shacl_spark.model.triples import (
    LOCAL_FRAME_MAX_CELLS,
    TRIPLE_SCHEMA,
    iri_triple,
    lit_triple,
    local_frame,
)
from re_shacl_spark.validate.engine import _PC_SCHEMA

SETTINGS = settings(
    max_examples=20,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
SMALL_MAX = 3  # rows the property tests let through: 0..6 rows straddle it

# arbitrary unicode (surrogate-free, as a Python str must be to reach the JVM)
# mixed with the characters SQL text and Spark's ${...} substitution treat
# specially
TEXT = st.one_of(
    st.text(max_size=12),
    st.text(alphabet="$\\'\"{}`;-/*\n\tu0024ab😀", max_size=12),
    st.sampled_from(["${spark.app.name}", "${lf.test.var}", "\\u0024", "it's", "--", "/*"]),
)


def _plan_class(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()


def _same_as_create_dataframe(spark, rows, schema):
    width = len(T.StructType.fromDDL(schema) if isinstance(schema, str) else schema)
    with mock.patch.object(tm, "LOCAL_FRAME_MAX_CELLS", SMALL_MAX * width):
        got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    if len(rows) <= SMALL_MAX:
        assert _plan_class(got) == "LocalRelation"
    else:
        assert _plan_class(got) != "LocalRelation"


@pytest.fixture(scope="module")
def var_conf(spark):
    # a defined variable: unescaped, "${lf.test.var}" would be substituted
    spark.conf.set("lf.test.var", "SUBSTITUTED")
    yield
    spark.conf.unset("lf.test.var")


@SETTINGS
@given(rows=st.lists(st.tuples(TEXT, st.none() | TEXT), max_size=2 * SMALL_MAX))
@example(rows=[])
@example(rows=[("${lf.test.var}", "${spark.app.name}"), ("it's \\", "\\u0024\n😀")])
def test_strings_round_trip(spark, var_conf, rows):
    _same_as_create_dataframe(spark, rows, T.StructType([
        T.StructField("a", T.StringType()), T.StructField("b", T.StringType()),
    ]))


triple_st = st.one_of(
    st.builds(iri_triple, TEXT, TEXT, TEXT, st.none() | TEXT),
    st.builds(
        lit_triple, TEXT, TEXT, TEXT,
        st.none() | TEXT, st.none() | TEXT, st.none() | TEXT,
    ),
)


@SETTINGS
@given(rows=st.lists(triple_st, max_size=2 * SMALL_MAX))
def test_triple_rows_round_trip(spark, rows):
    _same_as_create_dataframe(spark, rows, TRIPLE_SCHEMA)


def _value_st(dt: T.DataType):
    if isinstance(dt, T.StringType):
        return TEXT
    if isinstance(dt, T.BooleanType):
        return st.booleans()
    if isinstance(dt, T.IntegerType):
        return st.integers(-(2**31), 2**31 - 1)
    if isinstance(dt, T.LongType):
        return st.integers(-(2**63), 2**63 - 1)
    if isinstance(dt, T.ArrayType):
        return st.lists(st.none() | _value_st(dt.elementType), max_size=3)
    raise AssertionError(dt)


pc_row_st = st.tuples(*[st.none() | _value_st(f.dataType) for f in _PC_SCHEMA.fields])


@SETTINGS
@given(rows=st.lists(pc_row_st, max_size=2 * SMALL_MAX))
def test_pc_rows_round_trip(spark, rows):
    _same_as_create_dataframe(spark, rows, _PC_SCHEMA)


@pytest.mark.parametrize("schema", [
    ["a", "b"],
    "a string, b long",
    TRIPLE_SCHEMA,
    _PC_SCHEMA,
    "stage string, partition_id int, rows long, meta map<string,string>",
])
def test_empty_frames_keep_their_schema(spark, schema):
    got = local_frame(spark, [], schema)
    if isinstance(schema, list):
        want = T.StructType([T.StructField(n, T.StringType()) for n in schema])
    else:
        want = spark.createDataFrame([], schema).schema
    assert got.schema == want
    assert got.collect() == []


def test_other_types_round_trip(spark):
    schema = ("i int, l long, d double, ts timestamp_ntz, m map<string,string>, "
              "s struct<x: array<int>, y: boolean>")
    rows = [
        (-(2**31), -(2**63), -0.0, datetime.datetime(2024, 3, 1, 0, 0, 0, 1),
         {"k": "v", "n": None}, ([1, None], True)),
        (2**31 - 1, 2**63 - 1, float("inf"), datetime.datetime(1970, 1, 1),
         {}, ([], None)),
        (None, None, 1e-300, None, None, None),
    ]
    _same_as_create_dataframe(spark, rows, schema)
    nan = local_frame(spark, [(float("nan"),)], "d double").first()[0]
    assert nan != nan


@pytest.mark.parametrize("n", [LOCAL_FRAME_MAX_CELLS // 2, LOCAL_FRAME_MAX_CELLS // 2 + 1])
def test_real_threshold_both_sides(spark, n):
    rows = [(f"s{i}", "it's ${x}" if i % 7 else None) for i in range(n)]
    got = local_frame(spark, rows, ["a", "b"])
    assert (_plan_class(got) == "LocalRelation") == (2 * n <= LOCAL_FRAME_MAX_CELLS)
    assert sorted(got.collect()) == sorted(spark.createDataFrame(rows, ["a", "b"]).collect())


@pytest.mark.parametrize("rows, schema", [
    ([(1,)], ["a"]),                           # int into a string column
    ([("x",)], "a int"),                       # string into an int column
    ([(True,)], "a long"),                     # bool is not an integer here
    ([(2**31,)], "a int"),                     # out of range
    ([(1,)], "a double"),                      # no silent int -> double
    ([(None, None, None, None, False, None)], TRIPLE_SCHEMA),  # null in non-null s
    ([("a", "b")], ["a"]),                     # arity
    ([("a",)], "a decimal(10,2)"),             # unsupported type
    ([], "a date"),                            # unsupported, even when empty
    ([], T.StructType([T.StructField("a", T.ArrayType(T.StringType(), False))])),  # nested non-null
])
def test_rejects_what_it_cannot_render(spark, rows, schema):
    with pytest.raises(ValueError, match="local_frame"):
        local_frame(spark, rows, schema)


# ---------------------------------------------------------------------------
# plan level
# ---------------------------------------------------------------------------

def test_small_frame_is_a_local_relation(spark):
    df = local_frame(spark, [("a", "b"), ("c", None)], ["x", "y"])
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert _plan_class(df) == "LocalRelation"
    assert "ExistingRDD" not in opt and "LogicalRDD" not in opt
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in phys and "PythonRDD" not in phys and "ExistingRDD" not in phys


def test_join_against_local_frame_plans_as_broadcast(spark):
    big = spark.range(1000).select(F.col("id").cast("string").alias("p"))
    m = local_frame(spark, [("1", "one"), ("2", "two")], ["p", "name"])
    phys = big.join(m, "p")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in phys and "SortMergeJoin" not in phys


@pytest.mark.parametrize("hint", [False, True])
def test_join_against_empty_map_is_pruned(spark, hint):
    big = spark.range(1000).select(F.col("id").cast("string").alias("p"))
    m = local_frame(spark, [], ["p", "cls"])
    joined = big.join(F.broadcast(m) if hint else m, "p")
    qe = joined._jdf.queryExecution()
    assert qe.optimizedPlan().getClass().getSimpleName() == "LocalRelation"
    assert "LocalTableScan <empty>" in qe.executedPlan().toString()
    assert joined.collect() == []


# ---------------------------------------------------------------------------
# one way to build small frames
# ---------------------------------------------------------------------------

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "re_shacl_spark")


def test_create_dataframe_only_inside_local_frame():
    """createDataFrame (parallelize -> PythonRDD) is local_frame's large-input
    path and nowhere else in the package."""
    allowed = os.path.join(PKG, "model", "triples.py")
    tree = ast.parse(open(allowed, encoding="utf-8").read())
    fn = next(n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "local_frame")
    offenders = []
    for root, _, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path, encoding="utf-8") as f:
                for i, line in enumerate(f, 1):
                    if re.search(r"createDataFrame\s*\(", line) and not (
                        path == allowed and fn.lineno <= i <= fn.end_lineno
                    ):
                        offenders.append(f"{os.path.relpath(path, PKG)}:{i}")
    assert not offenders, f"build small frames with local_frame, not createDataFrame: {offenders}"
