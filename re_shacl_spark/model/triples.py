"""The triple-store DataFrame: the engine's one fundamental relation.

Mirrors the reference's rdflib ``Graph`` (a set of (s, p, o) terms — see
/root/reference/ReSHACL/re_shacl.py:35-69 for the load path) as a columnar,
hash-partitionable relation:

    s      string   subject IRI or ``_:``-prefixed bnode id
    p      string   predicate IRI
    o      string   object IRI/bnode, or the literal lexical form when is_lit
    o_lit  struct<lex string, dtype string, lang string>   null for IRI objects
    is_lit boolean
    src_url string  lineage: which page/source emitted this triple (nullable)

Literal fidelity is load-bearing: ``sh:datatype`` appears 282x in the reference's
Shape_30.ttl, so datatype/lang round-trip through ``o_lit`` instead of being
string-collapsed.  The frame is hash-partitioned by ``s`` for subject-local
operations; predicate-selective scans rely on predicate pushdown (and optionally
bucketing-by-p at the storage layer).
"""

from __future__ import annotations

import datetime
import math
from types import SimpleNamespace
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DataType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

O_LIT_TYPE = StructType(
    [
        StructField("lex", StringType(), True),
        StructField("dtype", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

TRIPLE_SCHEMA = StructType(
    [
        StructField("s", StringType(), False),
        StructField("p", StringType(), False),
        StructField("o", StringType(), False),
        StructField("o_lit", O_LIT_TYPE, True),
        StructField("is_lit", BooleanType(), False),
        StructField("src_url", StringType(), True),
    ]
)

TRIPLE_FIELDS = ["s", "p", "o", "o_lit", "is_lit", "src_url"]

# --- vocabulary -----------------------------------------------------------------
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
OWL = "http://www.w3.org/2002/07/owl#"
SH = "http://www.w3.org/ns/shacl#"
XSD = "http://www.w3.org/2001/XMLSchema#"

vocab = SimpleNamespace(
    RDF=RDF,
    RDFS=RDFS,
    OWL=OWL,
    SH=SH,
    XSD=XSD,
    TYPE=RDF + "type",
    FIRST=RDF + "first",
    REST=RDF + "rest",
    NIL=RDF + "nil",
    SUBCLASS=RDFS + "subClassOf",
    SUBPROP=RDFS + "subPropertyOf",
    DOMAIN=RDFS + "domain",
    RANGE=RDFS + "range",
    SAMEAS=OWL + "sameAs",
    DIFFERENT=OWL + "differentFrom",
    EQCLASS=OWL + "equivalentClass",
    EQPROP=OWL + "equivalentProperty",
    INVERSEOF=OWL + "inverseOf",
    DISJOINTWITH=OWL + "disjointWith",
    PROPDISJOINTWITH=OWL + "propertyDisjointWith",
    COMPLEMENTOF=OWL + "complementOf",
    SYMMETRIC=OWL + "SymmetricProperty",
    ASYMMETRIC=OWL + "AsymmetricProperty",
    TRANSITIVE=OWL + "TransitiveProperty",
    FUNCTIONAL=OWL + "FunctionalProperty",
    INVERSEFUNCTIONAL=OWL + "InverseFunctionalProperty",
    IRREFLEXIVE=OWL + "IrreflexiveProperty",
)

# predicates that constitute the TBox / axiom surface the scoped reasoner consumes
# (the rule set of /root/reference/ReSHACL/re_shacl.py:72-363, re-expressed)
TBOX_PREDICATES = [
    vocab.SUBCLASS,
    vocab.SUBPROP,
    vocab.DOMAIN,
    vocab.RANGE,
    vocab.EQCLASS,
    vocab.EQPROP,
    vocab.INVERSEOF,
    vocab.DISJOINTWITH,
    vocab.PROPDISJOINTWITH,
    vocab.COMPLEMENTOF,
]
CHARACTERISTIC_CLASSES = [
    vocab.SYMMETRIC,
    vocab.ASYMMETRIC,
    vocab.TRANSITIVE,
    vocab.FUNCTIONAL,
    vocab.INVERSEFUNCTIONAL,
    vocab.IRREFLEXIVE,
]


# --- row constructors -------------------------------------------------------------
def iri_triple(s: str, p: str, o: str, src_url: str | None = None) -> tuple:
    return (s, p, o, None, False, src_url)


def lit_triple(
    s: str,
    p: str,
    lex: str,
    dtype: str | None = None,
    lang: str | None = None,
    src_url: str | None = None,
) -> tuple:
    return (s, p, lex, (lex, dtype or (XSD + "string" if not lang else None), lang), True, src_url)


# --- small driver-side frames -----------------------------------------------------
# Cells (rows x columns) up to which local_frame emits SQL VALUES, a Catalyst
# LocalRelation, rather than going through createDataFrame, i.e. parallelize ->
# a PythonRDD: one job of defaultParallelism Python tasks per action that reads
# it, with no size estimate.  Measured on a 4-vCPU VM, local[4], build plus one
# read, median of 3-5: a two-string-column frame broadcast-joined against 200k
# rows breaks even at 10k-20k rows; TRIPLE_SCHEMA rows (an o_lit struct on half
# of them) grouped and counted break even at 2k-4k rows.  Both are ~20k cells;
# past that, parsing and analyzing the SQL text (~2 s per MB) dominates.  One
# read is the worst case for VALUES: a createDataFrame frame re-runs its Python
# tasks on every action that reads it.
LOCAL_FRAME_MAX_CELLS = 20_000

_SQL_ATOMIC = {
    StringType: "STRING",
    BooleanType: "BOOLEAN",
    IntegerType: "INT",
    LongType: "BIGINT",
    DoubleType: "DOUBLE",
    TimestampNTZType: "TIMESTAMP_NTZ",
}
_INT_RANGE = {IntegerType: 2**31, LongType: 2**63}


def _sql_name(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _sql_type(dt: DataType) -> str:
    """SQL spelling of ``dt``.  A SQL type cannot declare a nested value
    non-null, so such types are unsupported rather than silently widened."""
    if type(dt) in _SQL_ATOMIC:
        return _SQL_ATOMIC[type(dt)]
    if isinstance(dt, ArrayType) and dt.containsNull:
        return f"ARRAY<{_sql_type(dt.elementType)}>"
    if isinstance(dt, MapType) and dt.valueContainsNull:
        return f"MAP<{_sql_type(dt.keyType)}, {_sql_type(dt.valueType)}>"
    if isinstance(dt, StructType) and all(f.nullable for f in dt.fields):
        return "STRUCT<" + ", ".join(f"{_sql_name(f.name)}: {_sql_type(f.dataType)}" for f in dt.fields) + ">"
    raise ValueError(f"local_frame: unsupported column type {dt.simpleString()}")


def _sql_literal(v, dt: DataType) -> str:
    """One typed SQL literal for ``v``.  Strings escape ``\\`` and ``'`` and
    spell ``$`` as ``\\u0024`` so Spark's ``${...}`` variable substitution,
    which runs on the raw query text, never sees a reference; everything else
    (newlines, non-BMP characters) passes through verbatim."""
    if v is None:
        return "NULL"
    t = type(dt)
    if t is StringType and isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'").replace("$", "\\u0024") + "'"
    if t is BooleanType and isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if t in _INT_RANGE and isinstance(v, int) and not isinstance(v, bool):
        if not -_INT_RANGE[t] <= v < _INT_RANGE[t]:
            raise ValueError(f"local_frame: {v} out of range for {dt.simpleString()}")
        return f"{v}L" if t is LongType else str(v)
    if t is DoubleType and isinstance(v, float):
        return f"{v!r}D" if math.isfinite(v) else f"CAST('{v!r}' AS DOUBLE)"
    if t is TimestampNTZType and isinstance(v, datetime.datetime) and v.tzinfo is None:
        return f"TIMESTAMP_NTZ '{v.isoformat(sep=' ')}'"
    if isinstance(dt, ArrayType) and isinstance(v, (list, tuple)):
        items = ", ".join(_sql_literal(x, dt.elementType) for x in v)
        return f"array({items})"
    if isinstance(dt, MapType) and isinstance(v, dict):
        items = ", ".join(
            f"{_sql_literal(k, dt.keyType)}, {_sql_literal(x, dt.valueType)}" for k, x in v.items()
        )
        return f"map({items})"
    if isinstance(dt, StructType) and isinstance(v, (list, tuple)):
        pairs = ", ".join(
            f"{_sql_literal(f.name, StringType())}, {x}" for f, x in zip(dt.fields, _row_literals(v, dt))
        )
        return f"named_struct({pairs})"
    raise ValueError(f"local_frame: {type(v).__name__} value {v!r} for a {dt.simpleString()} column")


def _row_literals(v, dt: StructType) -> list[str]:
    if len(v) != len(dt.fields):
        raise ValueError(f"local_frame: {len(v)} values for {len(dt.fields)} fields")
    out = []
    for x, f in zip(v, dt.fields):
        if x is None and not f.nullable:
            raise ValueError(f"local_frame: null in non-null field {f.name!r}")
        out.append(_sql_literal(x, f.dataType))
    return out


def _zero(dt: DataType):
    """A non-null placeholder value of ``dt``, for the typed row an empty
    frame filters away."""
    if isinstance(dt, StructType):
        return tuple(_zero(f.dataType) for f in dt.fields)
    return {
        StringType: "", BooleanType: False, IntegerType: 0, LongType: 0, DoubleType: 0.0,
        TimestampNTZType: datetime.datetime(1970, 1, 1), ArrayType: [], MapType: {},
    }[type(dt)]


def local_frame(
    spark: SparkSession, rows: Iterable[tuple], schema: StructType | str | list[str]
) -> DataFrame:
    """The one way to build a small frame from driver-side rows.

    ``schema`` is a ``StructType``, a DDL string (``"a string, b long"``) or a
    list of column names (all strings).  Up to ``LOCAL_FRAME_MAX_CELLS``
    cells (rows x columns) the frame is ``SELECT CAST(c0 AS <type>) AS name,
    ... FROM VALUES ...``: a Catalyst LocalRelation, so reading it runs no
    Python task, a join against it plans as a broadcast (it carries its size),
    and an empty one lets the optimizer prune whatever joins it.  Larger
    inputs keep ``createDataFrame``.
    Values, schema and nullability match ``createDataFrame``; a value or type
    it cannot render exactly raises ``ValueError``."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    elif isinstance(schema, (list, tuple)):
        schema = StructType([StructField(n, StringType(), True) for n in schema])
    fields = schema.fields
    types = [_sql_type(f.dataType) for f in fields]  # rejects unsupported types on both paths
    rows = list(rows)
    if len(rows) * len(fields) > LOCAL_FRAME_MAX_CELLS:
        return spark.createDataFrame(rows, schema)
    where = "" if rows else " WHERE FALSE"
    body = ", ".join(f"({', '.join(_row_literals(r, schema))})" for r in rows or [_zero(schema)])
    # VALUES widens each column to the rows' common type (a NULL or an empty
    # array is untyped) and the CAST pins the declared one; VALUES also types
    # a column non-null when no row holds a null there, so IF(TRUE, x, NULL)
    # restores a nullable field's declared nullability (the optimizer folds
    # both away)
    cols = ", ".join(
        (f"IF(TRUE, CAST(c{i} AS {t}), NULL)" if f.nullable else f"CAST(c{i} AS {t})")
        + f" AS {_sql_name(f.name)}"
        for i, (f, t) in enumerate(zip(fields, types))
    )
    names = ", ".join(f"c{i}" for i in range(len(fields)))
    return spark.sql(f"SELECT {cols} FROM VALUES {body} AS t({names}){where}")


def triples_df(spark: SparkSession, rows: Iterable[tuple], n_partitions: int | None = None) -> DataFrame:
    """Materialize triple rows as the canonical frame, hash-partitioned by subject."""
    df = local_frame(spark, rows, TRIPLE_SCHEMA)
    if n_partitions:
        df = df.repartition(n_partitions, "s")
    return df


def dedup_triples(df: DataFrame) -> DataFrame:
    """Set semantics: rdflib graphs are sets; every rule re-derives existing triples
    (reference relies on Graph.add being idempotent). One shuffle on (s,p,o)."""
    return df.dropDuplicates(["s", "p", "o"])


def only_iri_objects(df: DataFrame) -> DataFrame:
    return df.filter(~F.col("is_lit"))


def types_of(df: DataFrame) -> DataFrame:
    """TYPES projection: (inst, cls). Predicate-selective scan (pushdown-friendly)."""
    return df.filter(F.col("p") == vocab.TYPE).select(F.col("s").alias("inst"), F.col("o").alias("cls"))
