"""Driver-contract bridge: every SURVEY.md §2 operator as a (Spark query,
DuckDB oracle SQL) pair over the driver's parquet tables.

The relational tables (customer/orders/nation/region/supplier) are mapped to a
deterministic KG (the `rel_triples` construction below, mirrored 1:1 by
REL_TRIPLES_CTE) so each reasoning operator — rules J1-J17, connected
components J13, the consistency checks, the SHACL validation aggregates — has
an exact ANSI-SQL oracle.  The extraction front end (extract/) runs on the
documents table directly.

Determinism rules that make the value-hash comparison possible:
  - all hashes are md5-derived (hex→int) — reproducible in DuckDB;
  - no cross-row float sums: aggregates use integer-exact inputs; per-row
    float values are rounded to fixed decimals;
  - Spark int columns are cast to long so schemas match DuckDB BIGINT.

Reference-semantics citations live in the underlying modules (reasoning/rules,
canonicalize/cc, validate/engine) — this module only wires them to the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from re_shacl_spark.canonicalize.cc import connected_components
from re_shacl_spark.canonicalize.rewrite import apply_static_map
from re_shacl_spark.extract.html import extract_text
from re_shacl_spark.extract.mentions import detect_mentions, mention_pairs
from re_shacl_spark.extract.emit import emit_triples
from re_shacl_spark.model.triples import O_LIT_TYPE, iri_triple, triples_df, vocab
from re_shacl_spark.pipeline import fuse
from re_shacl_spark.reasoning import checks as CK
from re_shacl_spark.reasoning.rules import RuleEngine, Scope
from re_shacl_spark.reasoning.tbox import build_tbox_index, extract_tbox
from re_shacl_spark.validate.engine import validate
from re_shacl_spark.validate.shapes import NodeShape, PropertyConstraint

TYPE = vocab.TYPE
SUBCLASS = vocab.SUBCLASS
SUBPROP = vocab.SUBPROP
DOMAIN = vocab.DOMAIN
RANGE = vocab.RANGE
INV = vocab.INVERSEOF
SAMEAS = vocab.SAMEAS
DIFFERENT = vocab.DIFFERENT
OWL = vocab.OWL

# Explicit whitespace class on the Spark↔DuckDB oracle boundary (VERDICT r4
# What's-wrong #2): bare \s differs between Java regex and RE2 (vertical
# tab), so the oracles never use it.  SQL_PY_WSP mirrors Python str.split()'s
# Unicode whitespace set for the twins of the Python-side extractor
# (extract/html.py " ".join(s.split())) — White_Space ∪ {\x1c-\x1f},
# verified exhaustive over the BMP in tests/test_hostile_ws.py.
SQL_PY_WSP = (
    r"[\t-\r \x1c-\x1f\x85\xa0"
    r"\x{1680}\x{2000}-\x{200a}\x{2028}\x{2029}\x{202f}\x{205f}\x{3000}]+"
)

def _null_lit() -> F.Column:
    # built lazily: Column construction needs an active SparkContext
    return F.lit(None).cast(O_LIT_TYPE)


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _iri(prefix: str, col) -> F.Column:
    return F.concat(F.lit(prefix), col.cast("string"))


def _rows(df: DataFrame, s, p, o) -> DataFrame:
    """IRI-object triple rows from column expressions."""
    return df.select(
        s.alias("s"),
        (p if not isinstance(p, str) else F.lit(p)).alias("p"),
        o.alias("o"),
        _null_lit().alias("o_lit"),
        F.lit(False).alias("is_lit"),
        F.lit(None).cast("string").alias("src_url"),
    )


def _lit_rows(df: DataFrame, s, p, lex, dtype) -> DataFrame:
    """Literal-object triple rows; o carries the lexical form."""
    return df.select(
        s.alias("s"),
        F.lit(p).alias("p"),
        lex.alias("o"),
        F.struct(
            lex.alias("lex"), dtype.alias("dtype"), F.lit(None).cast("string").alias("lang")
        ).alias("o_lit"),
        F.lit(True).alias("is_lit"),
        F.lit(None).cast("string").alias("src_url"),
    )


# ---------------------------------------------------------------------------
# shared KG construction over the relational tables (Spark + SQL mirror)
# ---------------------------------------------------------------------------

TBOX_ROWS: list[tuple[str, str, str]] = [
    ("kg:placedBy", DOMAIN, "kg:Order"),
    ("kg:placedBy", RANGE, "kg:Customer"),
    ("kg:placedBy", INV, "kg:ordered"),
    ("kg:inNation", RANGE, "kg:Nation"),
    ("kg:inRegion", RANGE, "kg:Region"),
    ("kg:inNation", SUBPROP, "kg:locatedIn"),
    ("kg:inRegion", SUBPROP, "kg:locatedIn"),
    ("kg:locatedIn", TYPE, OWL + "TransitiveProperty"),
    ("kg:next", TYPE, OWL + "TransitiveProperty"),
    ("kg:adjacentTo", TYPE, OWL + "SymmetricProperty"),
    ("kg:Customer", SUBCLASS, "kg:Agent"),
    ("kg:Supplier", SUBCLASS, "kg:Agent"),
    ("kg:Agent", SUBCLASS, "kg:Thing"),
    ("kg:Nation", SUBCLASS, "kg:Place"),
    ("kg:Region", SUBCLASS, "kg:Place"),
]

# transitive closures of the TBox above (what build_tbox_index materializes)
SUBCLASS_CLOSURE = [
    ("kg:Customer", "kg:Agent"),
    ("kg:Customer", "kg:Thing"),
    ("kg:Supplier", "kg:Agent"),
    ("kg:Supplier", "kg:Thing"),
    ("kg:Agent", "kg:Thing"),
    ("kg:Nation", "kg:Place"),
    ("kg:Region", "kg:Place"),
]
SUBPROP_CLOSURE = [("kg:inNation", "kg:locatedIn"), ("kg:inRegion", "kg:locatedIn")]


def rel_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _read(spark, sf_dir, "customer")
    supp = _read(spark, sf_dir, "supplier")
    nat = _read(spark, sf_dir, "nation")
    orders = _read(spark, sf_dir, "orders")
    parts = [
        _rows(cust, _iri("c:", F.col("c_custkey")), "kg:inNation", _iri("n:", F.col("c_nationkey"))),
        _rows(cust, _iri("c:", F.col("c_custkey")), TYPE, F.lit("kg:Customer")),
        _rows(supp, _iri("s:", F.col("s_suppkey")), "kg:inNation", _iri("n:", F.col("s_nationkey"))),
        _rows(supp, _iri("s:", F.col("s_suppkey")), TYPE, F.lit("kg:Supplier")),
        _rows(nat, _iri("n:", F.col("n_nationkey")), "kg:inRegion", _iri("r:", F.col("n_regionkey"))),
        _rows(nat, _iri("n:", F.col("n_nationkey")), "kg:adjacentTo", _iri("n:", (F.col("n_nationkey") + 1) % 25)),
        _rows(
            nat.filter(F.col("n_nationkey") < 24),
            _iri("n:", F.col("n_nationkey")),
            "kg:next",
            _iri("n:", F.col("n_nationkey") + 1),
        ),
        _rows(orders, _iri("o:", F.col("o_orderkey")), "kg:placedBy", _iri("c:", F.col("o_custkey"))),
        triples_df(spark, [iri_triple(*t) for t in TBOX_ROWS]),
    ]
    out = parts[0]
    for x in parts[1:]:
        out = out.unionByName(x)
    return out


def _sql_tbox_values() -> str:
    rows = ",\n      ".join(f"('{s}','{p}','{o}')" for s, p, o in TBOX_ROWS)
    return f"SELECT * FROM (VALUES\n      {rows}) tb(s,p,o)"


REL_TRIPLES_CTE = f"""
  base(s,p,o) AS (
    SELECT 'c:'||c_custkey::varchar, 'kg:inNation', 'n:'||c_nationkey::varchar FROM customer
    UNION ALL SELECT 'c:'||c_custkey::varchar, '{TYPE}', 'kg:Customer' FROM customer
    UNION ALL SELECT 's:'||s_suppkey::varchar, 'kg:inNation', 'n:'||s_nationkey::varchar FROM supplier
    UNION ALL SELECT 's:'||s_suppkey::varchar, '{TYPE}', 'kg:Supplier' FROM supplier
    UNION ALL SELECT 'n:'||n_nationkey::varchar, 'kg:inRegion', 'r:'||n_regionkey::varchar FROM nation
    UNION ALL SELECT 'n:'||n_nationkey::varchar, 'kg:adjacentTo', 'n:'||((n_nationkey+1)%25)::varchar FROM nation
    UNION ALL SELECT 'n:'||n_nationkey::varchar, 'kg:next', 'n:'||(n_nationkey+1)::varchar FROM nation WHERE n_nationkey < 24
    UNION ALL SELECT 'o:'||o_orderkey::varchar, 'kg:placedBy', 'c:'||o_custkey::varchar FROM orders
    UNION ALL {_sql_tbox_values()}
  )"""


def _engine(triples: DataFrame) -> RuleEngine:
    tb = build_tbox_index(extract_tbox(triples))
    return RuleEngine(triples.sparkSession, tb, Scope.unrestricted())


def _spo(df: DataFrame) -> DataFrame:
    return df.select("s", "p", "o").distinct()


def _delta_split(t: DataFrame, cond: F.Column) -> tuple[DataFrame, DataFrame]:
    """Split ``t`` into (base, delta) on ``cond`` so that every row lands on
    exactly one side.  Spark may evaluate a cast before the predicate test
    beside it, and a term such as kg:placedBy or kg:Customer has no numeric
    suffix, so conditions use try_cast and a NULL condition counts as base —
    never raising under ANSI or dropping the row from both sides.  One
    aggregate checks base + delta rows = input rows."""
    cond = F.coalesce(cond, F.lit(False))
    split = t.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(cond, 1)).alias("delta"),
        F.count(F.when(~cond, 1)).alias("base"),
    ).first()
    if split["base"] + split["delta"] != split["n"]:
        raise AssertionError(f"delta split drops rows: {split.asDict()}")
    return t.filter(~cond), t.filter(cond)


def _placed_by_delta_cond() -> F.Column:
    """~1/7 of the kg:placedBy edges plus the n:12 kg:next chain link."""
    return (
        (F.col("p") == "kg:placedBy")
        & (F.expr("try_cast(substring(s, 3) as long)") % 7 == 0)
    ) | ((F.col("p") == "kg:next") & (F.col("s") == "n:12"))


# ---------------------------------------------------------------------------
# J-rules over the shared KG
# ---------------------------------------------------------------------------

def q_j1_domain(spark, sf_dir):
    t = rel_triples(spark, sf_dir)
    return _spo(_engine(t).rule_domain(t))


SQL_J1 = f"""WITH {REL_TRIPLES_CTE.strip()}
SELECT DISTINCT s, '{TYPE}' AS p, 'kg:Order' AS o FROM base WHERE p = 'kg:placedBy'"""


def q_j2_range(spark, sf_dir):
    t = rel_triples(spark, sf_dir)
    return _spo(_engine(t).rule_range(t))


SQL_J2 = f"""WITH {REL_TRIPLES_CTE.strip()}
SELECT DISTINCT o AS s, '{TYPE}' AS p, 'kg:Customer' AS o FROM base WHERE p = 'kg:placedBy'
UNION SELECT DISTINCT o, '{TYPE}', 'kg:Nation' FROM base WHERE p = 'kg:inNation'
UNION SELECT DISTINCT o, '{TYPE}', 'kg:Region' FROM base WHERE p = 'kg:inRegion'"""


def q_j3_subproperty(spark, sf_dir):
    t = rel_triples(spark, sf_dir)
    return _spo(_engine(t).rule_subproperty(t))


SQL_J3 = f"""WITH {REL_TRIPLES_CTE.strip()}
SELECT DISTINCT s, 'kg:locatedIn' AS p, o FROM base WHERE p IN ('kg:inNation','kg:inRegion')"""


def q_j4_subclass(spark, sf_dir):
    t = rel_triples(spark, sf_dir)
    return _spo(_engine(t).rule_subclass(t))


def _sql_closure_values(pairs, names) -> str:
    rows = ",".join(f"('{a}','{b}')" for a, b in pairs)
    return f"(VALUES {rows}) {names}"


SQL_J4 = f"""WITH {REL_TRIPLES_CTE.strip()}
SELECT DISTINCT b.s, '{TYPE}' AS p, m.super AS o
FROM base b JOIN {_sql_closure_values(SUBCLASS_CLOSURE, "m(cls, super)")} ON b.o = m.cls
WHERE b.p = '{TYPE}'"""


def q_j5_inverse(spark, sf_dir):
    t = rel_triples(spark, sf_dir)
    return _spo(_engine(t).rule_inverse(t))


SQL_J5 = f"""WITH {REL_TRIPLES_CTE.strip()}
SELECT DISTINCT o AS s, 'kg:ordered' AS p, s AS o FROM base WHERE p = 'kg:placedBy'"""


def q_j6_symmetric(spark, sf_dir):
    t = rel_triples(spark, sf_dir)
    return _spo(_engine(t).rule_symmetric(t))


SQL_J6 = f"""WITH {REL_TRIPLES_CTE.strip()}
SELECT DISTINCT o AS s, 'kg:adjacentTo' AS p, s AS o FROM base WHERE p = 'kg:adjacentTo'"""


def q_j7_transitive(spark, sf_dir):
    t = rel_triples(spark, sf_dir)
    return _spo(_engine(t).rule_transitive(t))


# closure of kg:next (a chain) — recursive CTE; kg:locatedIn has no base edges
SQL_J7 = f"""WITH RECURSIVE {REL_TRIPLES_CTE.strip()},
nxt(s,o) AS (SELECT s, o FROM base WHERE p = 'kg:next'),
clo(s,o) AS (SELECT s, o FROM nxt UNION SELECT c.s, n.o FROM clo c JOIN nxt n ON c.o = n.s)
SELECT DISTINCT s, 'kg:next' AS p, o FROM clo"""


def q_j9_functional_sameas(spark, sf_dir):
    cust = _read(spark, sf_dir, "customer")
    edges = _rows(cust, _iri("g:", F.col("c_custkey") % 50), "kg:rep", _iri("c:", F.col("c_custkey")))
    tb = triples_df(spark, [iri_triple("kg:rep", TYPE, OWL + "FunctionalProperty")])
    t = edges.unionByName(tb)
    return _engine(t).sameas_functional(t)


SQL_J9 = """WITH e AS (SELECT 'g:'||(c_custkey%50)::varchar s, 'c:'||c_custkey::varchar o FROM customer)
SELECT DISTINCT a.o AS a, b.o AS b FROM e a JOIN e b ON a.s = b.s AND a.o < b.o"""


def q_j10_inverse_functional_sameas(spark, sf_dir):
    cust = _read(spark, sf_dir, "customer")
    edges = _rows(cust, _iri("c:", F.col("c_custkey")), "kg:mail", _iri("m:", F.col("c_custkey") % 40))
    tb = triples_df(spark, [iri_triple("kg:mail", TYPE, OWL + "InverseFunctionalProperty")])
    t = edges.unionByName(tb)
    return _engine(t).sameas_inverse_functional(t)


SQL_J10 = """WITH e AS (SELECT 'c:'||c_custkey::varchar s, 'm:'||(c_custkey%40)::varchar o FROM customer)
SELECT DISTINCT a.s AS a, b.s AS b FROM e a JOIN e b ON a.o = b.o AND a.s < b.s"""


def q_j13_connected_components(spark, sf_dir):
    """Large-star/small-star CC over a skewed union graph (8-groups + one hub
    component): member → min-IRI representative."""
    cust = _read(spark, sf_dir, "customer")
    base = cust.select(
        _iri("v", F.col("c_custkey")).alias("u"),
        _iri("v", F.col("c_custkey") - F.col("c_custkey") % 8).alias("v"),
    )
    hub = cust.filter(F.col("c_custkey") % 97 == 0).select(
        _iri("v", F.col("c_custkey")).alias("u"), F.lit("v0").alias("v")
    )
    return connected_components(base.unionByName(hub), n_salts=8)


SQL_J13 = """WITH RECURSIVE e(a,b) AS (
  SELECT 'v'||c_custkey::varchar, 'v'||(c_custkey - c_custkey%8)::varchar FROM customer
  UNION ALL SELECT 'v'||c_custkey::varchar, 'v0' FROM customer WHERE c_custkey%97 = 0
),
und(a,b) AS (SELECT a,b FROM e WHERE a != b UNION SELECT b,a FROM e WHERE a != b),
reach(n,m) AS (SELECT a,b FROM und UNION SELECT r.n, u.b FROM reach r JOIN und u ON r.m = u.a),
rep AS (SELECT n, least(n, min(m)) AS rep FROM reach GROUP BY n)
SELECT n AS member, rep FROM rep WHERE rep != n"""


def q_j1_domain_scoped(spark, sf_dir):
    """The 'Re-' core (SURVEY §4 row 1): scope-restricted rule firing — only
    shape-reachable classes enter the rule engine.  Scope = {kg:Order} keeps
    the placedBy domain axiom; everything else is pruned before the join."""
    t = rel_triples(spark, sf_dir)
    tb = build_tbox_index(extract_tbox(t))
    eng = RuleEngine(spark, tb, Scope(classes={"kg:Order"}))
    return _spo(eng.rule_domain(t))


SQL_J1_SCOPED = SQL_J1  # scope {kg:Order} keeps exactly the one domain axiom


def q_j2_range_scoped(spark, sf_dir):
    """Scoped range typing: only kg:Nation survives the class scope, so
    customers/regions get no derived types."""
    t = rel_triples(spark, sf_dir)
    tb = build_tbox_index(extract_tbox(t))
    eng = RuleEngine(spark, tb, Scope(classes={"kg:Nation"}))
    return _spo(eng.rule_range(t))


SQL_J2_SCOPED = f"""WITH {REL_TRIPLES_CTE.strip()}
SELECT DISTINCT o AS s, '{TYPE}' AS p, 'kg:Nation' AS o FROM base WHERE p = 'kg:inNation'"""


def q_j11_class_equivalence(spark, sf_dir):
    """J11 cax-eqc: equivalentClass components collapse to the min-IRI rep;
    type rows rewritten through the class rep map (apply_static_map)."""
    cust = _read(spark, sf_dir, "customer")
    types = _rows(
        cust,
        _iri("c:", F.col("c_custkey")),
        TYPE,
        F.when(F.col("c_custkey") % 2 == 0, F.lit("kg:Buyer")).otherwise(F.lit("kg:Client")),
    )
    tb = triples_df(
        spark,
        [
            iri_triple("kg:Buyer", vocab.EQCLASS, "kg:Client"),
            iri_triple("kg:Client", vocab.EQCLASS, "kg:Purchaser"),
        ],
    )
    t = types.unionByName(tb)
    tbox = build_tbox_index(extract_tbox(t))
    out = apply_static_map(t, tbox.class_rep_pairs())
    return _spo(out.filter(F.col("p") == TYPE))


# Buyer≡Client≡Purchaser → min IRI rep = kg:Buyer
SQL_J11 = f"""SELECT DISTINCT 'c:'||c_custkey::varchar AS s, '{TYPE}' AS p, 'kg:Buyer' AS o FROM customer"""


def q_j12_property_equivalence(spark, sf_dir):
    """J12 prp-eqp: equivalentProperty collapse — every triple's predicate
    rewritten onto the component's min-IRI representative."""
    orders = _read(spark, sf_dir, "orders")
    edges = _rows(
        orders,
        _iri("o:", F.col("o_orderkey")),
        F.when(F.col("o_orderkey") % 2 == 0, F.lit("kg:by")).otherwise(F.lit("kg:orderedBy")),
        _iri("c:", F.col("o_custkey")),
    )
    tb = triples_df(spark, [iri_triple("kg:orderedBy", vocab.EQPROP, "kg:by")])
    t = edges.unionByName(tb)
    tbox = build_tbox_index(extract_tbox(t))
    out = apply_static_map(t, tbox.prop_rep_pairs())
    return _spo(out.filter(F.col("p") == "kg:by"))


SQL_J12 = """SELECT DISTINCT 'o:'||o_orderkey::varchar AS s, 'kg:by' AS p, 'c:'||o_custkey::varchar AS o FROM orders"""


def q_chk_disjoint_properties(spark, sf_dir):
    """J15 prp-pdw: (x p1 y) ∧ (x p2 y) with p1 propertyDisjointWith p2."""
    cust = _read(spark, sf_dir, "customer")
    likes = _rows(cust, _iri("c:", F.col("c_custkey")), "kg:likes", _iri("n:", F.col("c_nationkey")))
    hates = _rows(
        cust.filter(F.col("c_custkey") % 3 == 0),
        _iri("c:", F.col("c_custkey")), "kg:hates", _iri("n:", F.col("c_nationkey")),
    )
    tb = triples_df(spark, [iri_triple("kg:hates", vocab.PROPDISJOINTWITH, "kg:likes")])
    t = likes.unionByName(hates).unionByName(tb)
    tbox = build_tbox_index(extract_tbox(t))
    return CK.check_disjoint_properties(t, tbox)


SQL_CHK_PROPDISJOINT = """SELECT 'c:'||c_custkey::varchar AS s, 'kg:hates' AS p1, 'kg:likes' AS p2,
'n:'||c_nationkey::varchar AS o FROM customer WHERE c_custkey % 3 = 0"""


# ---------------------------------------------------------------------------
# consistency checks (J14-J17)
# ---------------------------------------------------------------------------

def q_chk_disjoint_classes(spark, sf_dir):
    cust = _read(spark, sf_dir, "customer")
    gold = _rows(cust.filter(F.col("c_custkey") % 2 == 0), _iri("c:", F.col("c_custkey")), TYPE, F.lit("kg:Gold"))
    silver = _rows(cust.filter(F.col("c_custkey") % 3 == 0), _iri("c:", F.col("c_custkey")), TYPE, F.lit("kg:Silver"))
    tb_rows = [iri_triple("kg:Gold", vocab.DISJOINTWITH, "kg:Silver")]
    t = gold.unionByName(silver).unionByName(triples_df(spark, tb_rows))
    tbox = build_tbox_index(extract_tbox(t))
    return CK.check_disjoint_classes(t, tbox)


SQL_CHK_DISJOINT = """SELECT 'c:'||c_custkey::varchar AS inst, 'kg:Gold' AS c1, 'kg:Silver' AS c2
FROM customer WHERE c_custkey % 6 = 0"""


def q_chk_asymmetric(spark, sf_dir):
    cust = _read(spark, sf_dir, "customer")
    fwd = _rows(cust, _iri("x:", F.col("c_custkey")), "kg:beats", _iri("x:", F.col("c_custkey") + 1))
    rev = _rows(
        cust.filter(F.col("c_custkey") % 4 == 0),
        _iri("x:", F.col("c_custkey") + 1),
        "kg:beats",
        _iri("x:", F.col("c_custkey")),
    )
    tb = triples_df(spark, [iri_triple("kg:beats", TYPE, OWL + "AsymmetricProperty")])
    t = fwd.unionByName(rev).unionByName(tb)
    tbox = build_tbox_index(extract_tbox(t))
    return CK.check_asymmetric(t, tbox)


SQL_CHK_ASYM = """SELECT 'x:'||c_custkey::varchar AS s, 'kg:beats' AS p, 'x:'||(c_custkey+1)::varchar AS o
FROM customer WHERE c_custkey % 4 = 0
UNION ALL SELECT 'x:'||(c_custkey+1)::varchar, 'kg:beats', 'x:'||c_custkey::varchar
FROM customer WHERE c_custkey % 4 = 0"""


def q_chk_irreflexive(spark, sf_dir):
    cust = _read(spark, sf_dir, "customer")
    off = F.when(F.col("c_custkey") % 5 == 0, F.lit(0)).otherwise(F.lit(1))
    edges = _rows(cust, _iri("w:", F.col("c_custkey")), "kg:nextTo", _iri("w:", F.col("c_custkey") + off))
    tb = triples_df(spark, [iri_triple("kg:nextTo", TYPE, OWL + "IrreflexiveProperty")])
    t = edges.unionByName(tb)
    tbox = build_tbox_index(extract_tbox(t))
    return CK.check_irreflexive(t, tbox)


SQL_CHK_IRREFLEXIVE = """SELECT 'w:'||c_custkey::varchar AS s, 'kg:nextTo' AS p, 'w:'||c_custkey::varchar AS o
FROM customer WHERE c_custkey % 5 = 0"""


def q_chk_same_different(spark, sf_dir):
    cust = _read(spark, sf_dir, "customer")
    same = _rows(cust.filter(F.col("c_custkey") % 2 == 0), _iri("a:", F.col("c_custkey")), SAMEAS, _iri("b:", F.col("c_custkey")))
    diff = _rows(cust.filter(F.col("c_custkey") % 3 == 0), _iri("a:", F.col("c_custkey")), DIFFERENT, _iri("b:", F.col("c_custkey")))
    return CK.check_same_different(same.unionByName(diff))


SQL_CHK_SAMEDIFF = """SELECT 'a:'||c_custkey::varchar AS a, 'b:'||c_custkey::varchar AS b
FROM customer WHERE c_custkey % 6 = 0"""


# ---------------------------------------------------------------------------
# SHACL validation aggregates (§2.9)
# ---------------------------------------------------------------------------

def _cust_targets(spark, sf_dir):
    cust = _read(spark, sf_dir, "customer")
    return _rows(cust, _iri("c:", F.col("c_custkey")), TYPE, F.lit("kg:Customer"))


def q_v_mincount(spark, sf_dir):
    orders = _read(spark, sf_dir, "orders")
    vals = _rows(orders, _iri("c:", F.col("o_custkey")), "kg:ordered", _iri("o:", F.col("o_orderkey")))
    t = _cust_targets(spark, sf_dir).unionByName(vals)
    shapes = [NodeShape("sh:CustShape", target_classes=["kg:Customer"],
                        properties=[PropertyConstraint(path="kg:ordered", min_count=2)])]
    return validate(spark, t, shapes).violations


SQL_V_MINCOUNT = """WITH v AS (SELECT 'c:'||o_custkey::varchar f, 'o:'||o_orderkey::varchar o FROM orders),
c AS (SELECT 'c:'||c_custkey::varchar f FROM customer),
cnt AS (SELECT c.f, count(DISTINCT v.o) n FROM c LEFT JOIN v ON c.f = v.f GROUP BY c.f)
SELECT f AS focus, 'sh:CustShape' AS shape, 'kg:ordered' AS path, 'minCount' AS "constraint", n::varchar AS value
FROM cnt WHERE n < 2"""


def q_v_maxcount(spark, sf_dir):
    orders = _read(spark, sf_dir, "orders")
    vals = _rows(orders, _iri("c:", F.col("o_custkey")), "kg:ordered", _iri("o:", F.col("o_orderkey")))
    t = _cust_targets(spark, sf_dir).unionByName(vals)
    shapes = [NodeShape("sh:CustShape", target_classes=["kg:Customer"],
                        properties=[PropertyConstraint(path="kg:ordered", max_count=15)])]
    return validate(spark, t, shapes).violations


SQL_V_MAXCOUNT = """WITH v AS (SELECT 'c:'||o_custkey::varchar f, 'o:'||o_orderkey::varchar o FROM orders),
c AS (SELECT 'c:'||c_custkey::varchar f FROM customer),
cnt AS (SELECT c.f, count(DISTINCT v.o) n FROM c LEFT JOIN v ON c.f = v.f GROUP BY c.f)
SELECT f AS focus, 'sh:CustShape' AS shape, 'kg:ordered' AS path, 'maxCount' AS "constraint", n::varchar AS value
FROM cnt WHERE n > 15"""


def q_v_class(spark, sf_dir):
    cust = _read(spark, sf_dir, "customer")
    nat = _read(spark, sf_dir, "nation")
    vals = _rows(cust, _iri("c:", F.col("c_custkey")), "kg:inNation", _iri("n:", F.col("c_nationkey")))
    ntypes = _rows(nat.filter(F.col("n_nationkey") % 5 != 0), _iri("n:", F.col("n_nationkey")), TYPE, F.lit("kg:Nation"))
    t = _cust_targets(spark, sf_dir).unionByName(vals).unionByName(ntypes)
    shapes = [NodeShape("sh:CustShape", target_classes=["kg:Customer"],
                        properties=[PropertyConstraint(path="kg:inNation", clazz="kg:Nation")])]
    return validate(spark, t, shapes).violations


SQL_V_CLASS = """SELECT 'c:'||c_custkey::varchar AS focus, 'sh:CustShape' AS shape,
'kg:inNation' AS path, 'value' AS "constraint", 'n:'||c_nationkey::varchar AS value
FROM customer WHERE c_nationkey % 5 = 0"""


XSD_DECIMAL = vocab.XSD + "decimal"
XSD_STRING = vocab.XSD + "string"


def q_v_datatype(spark, sf_dir):
    cust = _read(spark, sf_dir, "customer")
    dtype = F.when(F.col("c_custkey") % 3 == 0, F.lit(XSD_STRING)).otherwise(F.lit(XSD_DECIMAL))
    vals = _lit_rows(cust, _iri("c:", F.col("c_custkey")), "kg:balance", F.col("c_name"), dtype)
    t = _cust_targets(spark, sf_dir).unionByName(vals)
    shapes = [NodeShape("sh:CustShape", target_classes=["kg:Customer"],
                        properties=[PropertyConstraint(path="kg:balance", datatype=XSD_DECIMAL)])]
    return validate(spark, t, shapes).violations


SQL_V_DATATYPE = """SELECT 'c:'||c_custkey::varchar AS focus, 'sh:CustShape' AS shape,
'kg:balance' AS path, 'value' AS "constraint", c_name AS value
FROM customer WHERE c_custkey % 3 = 0"""


def q_v_nodekind(spark, sf_dir):
    cust = _read(spark, sf_dir, "customer")
    lit_half = _lit_rows(
        cust.filter(F.col("c_custkey") % 2 == 0),
        _iri("c:", F.col("c_custkey")), "kg:ref", F.col("c_name"), F.lit(XSD_STRING),
    )
    iri_half = _rows(
        cust.filter(F.col("c_custkey") % 2 != 0),
        _iri("c:", F.col("c_custkey")), "kg:ref", _iri("n:", F.col("c_nationkey")),
    )
    t = _cust_targets(spark, sf_dir).unionByName(lit_half).unionByName(iri_half)
    shapes = [NodeShape("sh:CustShape", target_classes=["kg:Customer"],
                        properties=[PropertyConstraint(path="kg:ref", node_kind=vocab.SH + "IRI")])]
    return validate(spark, t, shapes).violations


SQL_V_NODEKIND = """SELECT 'c:'||c_custkey::varchar AS focus, 'sh:CustShape' AS shape,
'kg:ref' AS path, 'value' AS "constraint", c_name AS value
FROM customer WHERE c_custkey % 2 = 0"""


# ---------------------------------------------------------------------------
# flagship: full merge-then-reason fusion over the shared KG (entry())
# ---------------------------------------------------------------------------

def q_kg_fuse(spark, sf_dir):
    """Full fixpoint fusion: rules to closure + TBox closure materialization.
    No sameAs sources in this graph, so the oracle is the closed-form closure."""
    res = fuse(spark, rel_triples(spark, sf_dir), assume_distinct=True)
    return _spo(res.triples)


SQL_KG_FUSE = f"""WITH RECURSIVE {REL_TRIPLES_CTE.strip()},
loc(s,o) AS (SELECT s,o FROM base WHERE p IN ('kg:inNation','kg:inRegion')),
locc(s,o) AS (SELECT s,o FROM loc UNION SELECT l.s, m.o FROM locc l JOIN loc m ON l.o = m.s),
nxt(s,o) AS (SELECT s,o FROM base WHERE p = 'kg:next'),
nxtc(s,o) AS (SELECT s,o FROM nxt UNION SELECT c.s, n.o FROM nxtc c JOIN nxt n ON c.o = n.s),
all_types(s,o) AS (
  SELECT s, o FROM base WHERE p = '{TYPE}'
  UNION SELECT s, 'kg:Order' FROM base WHERE p = 'kg:placedBy'
  UNION SELECT o, 'kg:Customer' FROM base WHERE p = 'kg:placedBy'
  UNION SELECT o, 'kg:Nation' FROM base WHERE p = 'kg:inNation'
  UNION SELECT o, 'kg:Region' FROM base WHERE p = 'kg:inRegion'
),
final_types(s,o) AS (
  SELECT s, o FROM all_types
  UNION SELECT t.s, m.super FROM all_types t JOIN {_sql_closure_values(SUBCLASS_CLOSURE, "m(cls, super)")} ON t.o = m.cls
)
SELECT DISTINCT s, p, o FROM (
  SELECT s, p, o FROM base
  UNION ALL SELECT s, '{TYPE}', o FROM final_types
  UNION ALL SELECT s, 'kg:locatedIn', o FROM locc
  UNION ALL SELECT s, 'kg:next', o FROM nxtc
  UNION ALL SELECT o, 'kg:ordered', s FROM base WHERE p = 'kg:placedBy'
  UNION ALL SELECT o, 'kg:adjacentTo', s FROM base WHERE p = 'kg:adjacentTo'
  UNION ALL SELECT cls, '{SUBCLASS}', super FROM {_sql_closure_values(SUBCLASS_CLOSURE, "sc(cls, super)")}
  UNION ALL SELECT pr, '{SUBPROP}', super FROM {_sql_closure_values(SUBPROP_CLOSURE, "sp(pr, super)")}
) u"""


# ---------------------------------------------------------------------------
# KG front end: extraction / mentions / triple emission over documents
# ---------------------------------------------------------------------------

def _doc_pages(spark, sf_dir):
    """documents → Common-Crawl-style pages with deterministic HTML wrapping;
    extraction must return byte-identical text (the north-rule invariant)."""
    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        F.concat(F.lit("https://d/"), F.col("doc_id").cast("string")).alias("url"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
        F.encode(
            F.concat(F.lit("<html><body><p>"), F.coalesce(F.col("text"), F.lit("")), F.lit("</p></body></html>")),
            "utf-8",
        ).alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.coalesce(F.col("lang"), F.lit("en")).alias("lang"),
    )


def q_kg_extract_text(spark, sf_dir):
    pages = _doc_pages(spark, sf_dir)
    return extract_text(pages).select("url", "text")


SQL_KG_EXTRACT = f"""SELECT 'https://d/'||doc_id::varchar AS url,
trim(regexp_replace(coalesce(text,''), '{SQL_PY_WSP}', ' ', 'g')) AS text
FROM documents"""

MENTION_ALIASES: list[tuple[str, str, float]] = [
    ("spark", "kg:ent/spark", 1.0),
    ("table", "kg:ent/table", 1.0),
    ("customer", "kg:ent/customer", 1.0),
    ("window", "kg:ent/window", 1.0),
    ("value", "kg:ent/value", 1.0),
]


def q_kg_mentions(spark, sf_dir):
    pages = extract_text(_doc_pages(spark, sf_dir))
    m = detect_mentions(pages, MENTION_ALIASES, skip_empty_lang=False)
    return (
        mention_pairs(m)
        .groupBy("url", "alias", "entity")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _sql_mentions_cte() -> str:
    parts = [
        f"""SELECT 'https://d/'||doc_id::varchar AS url, '{a}' AS alias, '{e}' AS entity,
len(regexp_extract_all(lower(trim(regexp_replace(coalesce(text,''), '{SQL_PY_WSP}', ' ', 'g'))), '\\b{a}\\b'))::BIGINT AS n
FROM documents"""
        for a, e, _ in MENTION_ALIASES
    ]
    return " UNION ALL ".join(parts)


SQL_KG_MENTIONS = f"""WITH m AS ({_sql_mentions_cte()})
SELECT url, alias, entity, n FROM m WHERE n > 0"""

_KG_NS = "http://kg.example.org/ns#"
_MENTION_PREFIX = "http://kg.example.org/mention/"
_PAGE_PREFIX = "http://kg.example.org/page/"


def q_kg_emit_triples(spark, sf_dir):
    pages = extract_text(_doc_pages(spark, sf_dir))
    m = detect_mentions(pages, MENTION_ALIASES, skip_empty_lang=False)
    return _spo(emit_triples(m))


SQL_KG_EMIT = f"""WITH m0 AS ({_sql_mentions_cte()}),
m AS (SELECT url, alias, entity FROM m0 WHERE n > 0)
SELECT DISTINCT s, p, o FROM (
  SELECT '{_PAGE_PREFIX}'||sha256(url) AS s, '{_KG_NS}mentions' AS p, '{_MENTION_PREFIX}'||alias AS o FROM m
  UNION ALL SELECT '{_MENTION_PREFIX}'||alias, '{_KG_NS}surface', alias FROM m
  UNION ALL SELECT '{_MENTION_PREFIX}'||alias, '{SAMEAS}', entity FROM m
) u"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES = {
    "kg_fuse": q_kg_fuse,
    "j1_domain": q_j1_domain,
    "j2_range": q_j2_range,
    "j3_subproperty": q_j3_subproperty,
    "j4_subclass": q_j4_subclass,
    "j5_inverse": q_j5_inverse,
    "j6_symmetric": q_j6_symmetric,
    "j7_transitive": q_j7_transitive,
    "j9_functional_sameas": q_j9_functional_sameas,
    "j10_inverse_functional_sameas": q_j10_inverse_functional_sameas,
    "j13_connected_components": q_j13_connected_components,
    "j1_domain_scoped": q_j1_domain_scoped,
    "j2_range_scoped": q_j2_range_scoped,
    "j11_class_equivalence": q_j11_class_equivalence,
    "j12_property_equivalence": q_j12_property_equivalence,
    "chk_disjoint_properties": q_chk_disjoint_properties,
    "chk_disjoint_classes": q_chk_disjoint_classes,
    "chk_asymmetric": q_chk_asymmetric,
    "chk_irreflexive": q_chk_irreflexive,
    "chk_same_different": q_chk_same_different,
    "v_mincount": q_v_mincount,
    "v_maxcount": q_v_maxcount,
    "v_class": q_v_class,
    "v_datatype": q_v_datatype,
    "v_nodekind": q_v_nodekind,
    "kg_extract_text": q_kg_extract_text,
    "kg_mentions": q_kg_mentions,
    "kg_emit_triples": q_kg_emit_triples,
}

ORACLES = {
    "kg_fuse": SQL_KG_FUSE,
    "j1_domain": SQL_J1,
    "j2_range": SQL_J2,
    "j3_subproperty": SQL_J3,
    "j4_subclass": SQL_J4,
    "j5_inverse": SQL_J5,
    "j6_symmetric": SQL_J6,
    "j7_transitive": SQL_J7,
    "j9_functional_sameas": SQL_J9,
    "j10_inverse_functional_sameas": SQL_J10,
    "j13_connected_components": SQL_J13,
    "j1_domain_scoped": SQL_J1_SCOPED,
    "j2_range_scoped": SQL_J2_SCOPED,
    "j11_class_equivalence": SQL_J11,
    "j12_property_equivalence": SQL_J12,
    "chk_disjoint_properties": SQL_CHK_PROPDISJOINT,
    "chk_disjoint_classes": SQL_CHK_DISJOINT,
    "chk_asymmetric": SQL_CHK_ASYM,
    "chk_irreflexive": SQL_CHK_IRREFLEXIVE,
    "chk_same_different": SQL_CHK_SAMEDIFF,
    "v_mincount": SQL_V_MINCOUNT,
    "v_maxcount": SQL_V_MAXCOUNT,
    "v_class": SQL_V_CLASS,
    "v_datatype": SQL_V_DATATYPE,
    "v_nodekind": SQL_V_NODEKIND,
    "kg_extract_text": SQL_KG_EXTRACT,
    "kg_mentions": SQL_KG_MENTIONS,
    "kg_emit_triples": SQL_KG_EMIT,
}

# e2e pipeline config over the documents front door: every stage has a closed
# form in DuckDB, so the WHOLE DAG is full-oracle (VERDICT r2 missing #4)
_E2E_CLASSES = {e: "kg:class/Topic" for _, e, _ in MENTION_ALIASES}
_E2E_TBOX = [
    ("kg:class/Topic", SUBCLASS, "kg:class/Entity"),
    (_KG_NS + "mentions", DOMAIN, "kg:class/Page"),
]


def _e2e_shapes() -> list[NodeShape]:
    return [
        NodeShape(
            "sh:TopicShape",
            target_classes=["kg:class/Entity"],
            properties=[
                PropertyConstraint(
                    path=_KG_NS + "surface", min_count=1, node_kind=vocab.SH + "Literal"
                )
            ],
        ),
        NodeShape(
            "sh:PageShape",
            target_classes=["kg:class/Page"],
            properties=[PropertyConstraint(path=_KG_NS + "mentions", min_count=1, max_count=2)],
        ),
    ]


def q_kg_pipeline_e2e(spark, sf_dir):
    """The whole north-star DAG — extract → mention detect → emit → fuse
    (rules + sameAs CC + min-IRI rewrite) → SHACL conformant filter — over the
    documents front door, so each stage's closed form composes into ONE DuckDB
    oracle: mention regex counts (kg_mentions), the emitted triple set
    (kg_emit_triples), per-alias two-node sameAs components with least() reps,
    domain/cax-sco derivations, and the maxCount>2 page exclusion."""
    from re_shacl_spark.job import construct_kg

    pages = _doc_pages(spark, sf_dir)
    res = construct_kg(
        spark,
        pages,
        MENTION_ALIASES,
        entity_classes=_E2E_CLASSES,
        tbox_rows=_E2E_TBOX,
        shapes=_e2e_shapes(),
    )
    return _spo(res.conformant)


SQL_KG_E2E = f"""WITH m0 AS ({_sql_mentions_cte()}),
m AS (SELECT DISTINCT url, alias, entity FROM m0 WHERE n > 0),
-- per-alias sameAs component {{mention_iri, entity}}: rep = lexicographic min
am AS (SELECT DISTINCT alias, entity,
       '{_MENTION_PREFIX}'||alias AS mid,
       least('{_MENTION_PREFIX}'||alias, entity) AS rep
       FROM m),
pm AS (SELECT DISTINCT '{_PAGE_PREFIX}'||sha256(m.url) AS pid, am.rep
       FROM m JOIN am USING (alias)),
-- sh:PageShape maxCount 2 on kg:mentions: violating page subjects drop out
viol AS (SELECT pid FROM (SELECT pid, count(DISTINCT rep) c FROM pm GROUP BY pid) WHERE c > 2),
fused(s, p, o) AS (
  SELECT pid, '{_KG_NS}mentions', rep FROM pm
  UNION SELECT rep, '{_KG_NS}surface', alias FROM am
  UNION SELECT rep, '{SAMEAS}', CASE WHEN rep = mid THEN entity ELSE mid END FROM am
  UNION SELECT rep, '{TYPE}', 'kg:class/Topic' FROM am
  UNION SELECT rep, '{TYPE}', 'kg:class/Entity' FROM am
  UNION SELECT pid, '{TYPE}', 'kg:class/Page' FROM pm
  UNION SELECT 'kg:class/Topic', '{SUBCLASS}', 'kg:class/Entity'
  UNION SELECT '{_KG_NS}mentions', '{DOMAIN}', 'kg:class/Page'
)
SELECT DISTINCT s, p, o FROM fused WHERE s NOT IN (SELECT pid FROM viol)"""


QUERIES["kg_pipeline_e2e"] = q_kg_pipeline_e2e
ORACLES["kg_pipeline_e2e"] = SQL_KG_E2E


# ---------------------------------------------------------------------------
# SHACL logical constraints (§2.9: sh:in / sh:hasValue / sh:not / sh:or /
# sh:node) — each implemented at validate/engine.py:125-339, oracle-mirrored
# here so every constraint kind carries a green CORRECTNESS row (VERDICT r1 #3)
# ---------------------------------------------------------------------------

_SEG_OK = ["AUTOMOBILE", "BUILDING", "MACHINERY"]


def q_v_in(spark, sf_dir):
    """sh:in over literal values (validate/engine.py:147-149; reference
    compiles sh:in lists via rdf:first/rest, Shape_30-style)."""
    cust = _read(spark, sf_dir, "customer")
    vals = _lit_rows(cust, _iri("c:", F.col("c_custkey")), "kg:segment",
                     F.col("c_mktsegment"), F.lit(XSD_STRING))
    t = _cust_targets(spark, sf_dir).unionByName(vals)
    shapes = [NodeShape("sh:CustShape", target_classes=["kg:Customer"],
                        properties=[PropertyConstraint(path="kg:segment", in_values=list(_SEG_OK))])]
    return validate(spark, t, shapes).violations


SQL_V_IN = """SELECT 'c:'||c_custkey::varchar AS focus, 'sh:CustShape' AS shape,
'kg:segment' AS path, 'value' AS "constraint", c_mktsegment AS value
FROM customer WHERE c_mktsegment NOT IN ('AUTOMOBILE','BUILDING','MACHINERY')"""


def q_v_hasvalue(spark, sf_dir):
    """sh:hasValue: focus must have the designated value among its path values
    (validate/engine.py:243-245,260)."""
    cust = _read(spark, sf_dir, "customer")
    vals = _rows(cust, _iri("c:", F.col("c_custkey")), "kg:inNation", _iri("n:", F.col("c_nationkey")))
    t = _cust_targets(spark, sf_dir).unionByName(vals)
    shapes = [NodeShape("sh:CustShape", target_classes=["kg:Customer"],
                        properties=[PropertyConstraint(path="kg:inNation", has_value="n:3")])]
    return validate(spark, t, shapes).violations


SQL_V_HASVALUE = """SELECT 'c:'||c_custkey::varchar AS focus, 'sh:CustShape' AS shape,
'kg:inNation' AS path, 'hasValue' AS "constraint", 'n:3' AS value
FROM customer WHERE c_nationkey <> 3"""


def q_v_not(spark, sf_dir):
    """sh:not wrapping sh:class: values must NOT be instances of the restricted
    class (validate/engine.py:157, shapes.py:101-112; lubm/schema2.ttl:102-106)."""
    cust = _read(spark, sf_dir, "customer")
    nat = _read(spark, sf_dir, "nation")
    vals = _rows(cust, _iri("c:", F.col("c_custkey")), "kg:inNation", _iri("n:", F.col("c_nationkey")))
    restricted = _rows(nat.filter(F.col("n_nationkey") % 5 == 0),
                       _iri("n:", F.col("n_nationkey")), TYPE, F.lit("kg:RestrictedNation"))
    t = _cust_targets(spark, sf_dir).unionByName(vals).unionByName(restricted)
    shapes = [NodeShape("sh:CustShape", target_classes=["kg:Customer"],
                        properties=[PropertyConstraint(path="kg:inNation",
                                                       clazz="kg:RestrictedNation", negated=True)])]
    return validate(spark, t, shapes).violations


SQL_V_NOT = """SELECT 'c:'||c_custkey::varchar AS focus, 'sh:CustShape' AS shape,
'kg:inNation' AS path, 'value' AS "constraint", 'n:'||c_nationkey::varchar AS value
FROM customer WHERE c_nationkey % 5 = 0"""


def q_v_or(spark, sf_dir):
    """sh:or branches evaluated per value row inside the one validate
    aggregation (validate/engine.py, ``exists`` over the constraint's
    branch array): value conforms iff ≥1 branch conforms.  Branch 1:
    xsd:decimal literal; branch 2: IRI node."""
    cust = _read(spark, sf_dir, "customer")
    dec_lit = _lit_rows(cust.filter(F.col("c_custkey") % 3 == 0),
                        _iri("c:", F.col("c_custkey")), "kg:contact", F.col("c_name"), F.lit(XSD_DECIMAL))
    iri_val = _rows(cust.filter(F.col("c_custkey") % 3 == 1),
                    _iri("c:", F.col("c_custkey")), "kg:contact", _iri("n:", F.col("c_nationkey")))
    str_lit = _lit_rows(cust.filter(F.col("c_custkey") % 3 == 2),
                        _iri("c:", F.col("c_custkey")), "kg:contact", F.col("c_name"), F.lit(XSD_STRING))
    t = _cust_targets(spark, sf_dir).unionByName(dec_lit).unionByName(iri_val).unionByName(str_lit)
    shapes = [NodeShape("sh:CustShape", target_classes=["kg:Customer"],
                        properties=[PropertyConstraint(
                            path="kg:contact",
                            or_branches=[PropertyConstraint(datatype=XSD_DECIMAL),
                                         PropertyConstraint(node_kind=vocab.SH + "IRI")])])]
    return validate(spark, t, shapes).violations


SQL_V_OR = """SELECT 'c:'||c_custkey::varchar AS focus, 'sh:CustShape' AS shape,
'kg:contact' AS path, 'value' AS "constraint", c_name AS value
FROM customer WHERE c_custkey % 3 = 2"""


def q_v_node(spark, sf_dir):
    """sh:node (recursive shape reference, validate/engine.py:277-339): a
    customer's nation value must conform to NatShape (nations need ≥1
    kg:inRegion).  The report contains BOTH shapes' violations — NatShape
    minCount rows for region-less nations and CustShape value rows for
    customers pointing at them (lubm/schema1.ttl:13,22,27 pattern)."""
    cust = _read(spark, sf_dir, "customer")
    nat = _read(spark, sf_dir, "nation")
    cvals = _rows(cust, _iri("c:", F.col("c_custkey")), "kg:inNation", _iri("n:", F.col("c_nationkey")))
    ntypes = _rows(nat, _iri("n:", F.col("n_nationkey")), TYPE, F.lit("kg:Nation"))
    nregion = _rows(nat.filter(F.col("n_nationkey") % 4 != 1),
                    _iri("n:", F.col("n_nationkey")), "kg:inRegion", _iri("r:", F.col("n_regionkey")))
    t = _cust_targets(spark, sf_dir).unionByName(cvals).unionByName(ntypes).unionByName(nregion)
    shapes = [
        NodeShape("sh:CustShape", target_classes=["kg:Customer"],
                  properties=[PropertyConstraint(path="kg:inNation", node_ref="sh:NatShape")]),
        NodeShape("sh:NatShape", target_classes=["kg:Nation"],
                  properties=[PropertyConstraint(path="kg:inRegion", min_count=1)]),
    ]
    return validate(spark, t, shapes).violations


SQL_V_NODE = """SELECT 'c:'||c_custkey::varchar AS focus, 'sh:CustShape' AS shape,
'kg:inNation' AS path, 'value' AS "constraint", 'n:'||c_nationkey::varchar AS value
FROM customer WHERE c_nationkey % 4 = 1
UNION ALL
SELECT 'n:'||n_nationkey::varchar, 'sh:NatShape', 'kg:inRegion', 'minCount', '0'
FROM nation WHERE n_nationkey % 4 = 1"""


QUERIES["v_in"] = q_v_in
QUERIES["v_hasvalue"] = q_v_hasvalue
QUERIES["v_not"] = q_v_not
QUERIES["v_or"] = q_v_or
QUERIES["v_node"] = q_v_node
ORACLES["v_in"] = SQL_V_IN
ORACLES["v_hasvalue"] = SQL_V_HASVALUE
ORACLES["v_not"] = SQL_V_NOT
ORACLES["v_or"] = SQL_V_OR
ORACLES["v_node"] = SQL_V_NODE


# ---------------------------------------------------------------------------
# committed workloads end-to-end (VERDICT r1 #1): the reference's own LUBM
# shapes graphs (source/ShapesGraphs/lubm/schema{1,2,3}.ttl, driven by
# run_experiment.py:99-102) validated over a deterministic university ABox
# with a closed-form SQL mirror (re_shacl_spark/workloads/lubm.py)
# ---------------------------------------------------------------------------

def q_v_lubm_schema1(spark, sf_dir):
    from re_shacl_spark.workloads import lubm

    return lubm.lubm_violations(spark, 1)


def q_v_lubm_schema2(spark, sf_dir):
    from re_shacl_spark.workloads import lubm

    return lubm.lubm_violations(spark, 2)


def q_v_lubm_schema3(spark, sf_dir):
    from re_shacl_spark.workloads import lubm

    return lubm.lubm_violations(spark, 3)


def _lubm_sql(which: int) -> str:
    from re_shacl_spark.workloads import lubm

    return lubm.oracle_sql(which)


QUERIES["v_lubm_schema1"] = q_v_lubm_schema1
QUERIES["v_lubm_schema2"] = q_v_lubm_schema2
QUERIES["v_lubm_schema3"] = q_v_lubm_schema3
ORACLES["v_lubm_schema1"] = _lubm_sql(1)
ORACLES["v_lubm_schema2"] = _lubm_sql(2)
ORACLES["v_lubm_schema3"] = _lubm_sql(3)


def q_v_shape30_report(spark, sf_dir):
    """Shape_30 end-to-end (VERDICT r1 #1): all 30 committed DBpedia node
    shapes / 611 property shapes validated in one single-pass aggregation over
    the deterministic ABox (re_shacl_spark/workloads/shape30.py)."""
    from re_shacl_spark.workloads import shape30

    return shape30.shape30_violations(spark)


def _shape30_sql() -> str:
    from re_shacl_spark.workloads import shape30

    return shape30.oracle_sql()


QUERIES["v_shape30_report"] = q_v_shape30_report
# derived from the Shape_30 fixture file: built by oracle_sql(), not at import,
# so a missing fixture fails only its own row, not the whole registry
FIXTURE_ORACLES = {"v_shape30_report": _shape30_sql}


# ---------------------------------------------------------------------------
# RDFS-only rule profile (VERDICT r1 #5): the reference ships a whole RDFS
# engine variant (ReSHACL/re_shacl_rdfs.py; rules rdfs2/3/7/9 at
# re_shacl_rdfs_withoutM.py:127-145) — no sameAs merging, no inverse /
# symmetric / transitive interpretation
# ---------------------------------------------------------------------------

def q_kg_fuse_rdfs(spark, sf_dir):
    res = fuse(spark, rel_triples(spark, sf_dir), assume_distinct=True, profile="rdfs")
    return _spo(res.triples)


SQL_KG_FUSE_RDFS = f"""WITH {REL_TRIPLES_CTE.strip()},
all_types(s,o) AS (
  SELECT s, o FROM base WHERE p = '{TYPE}'
  UNION SELECT s, 'kg:Order' FROM base WHERE p = 'kg:placedBy'
  UNION SELECT o, 'kg:Customer' FROM base WHERE p = 'kg:placedBy'
  UNION SELECT o, 'kg:Nation' FROM base WHERE p = 'kg:inNation'
  UNION SELECT o, 'kg:Region' FROM base WHERE p = 'kg:inRegion'
),
final_types(s,o) AS (
  SELECT s, o FROM all_types
  UNION SELECT t.s, m.super FROM all_types t JOIN {_sql_closure_values(SUBCLASS_CLOSURE, "m(cls, super)")} ON t.o = m.cls
)
SELECT DISTINCT s, p, o FROM (
  SELECT s, p, o FROM base
  UNION ALL SELECT s, '{TYPE}', o FROM final_types
  UNION ALL SELECT s, 'kg:locatedIn', o FROM base WHERE p IN ('kg:inNation','kg:inRegion')
  UNION ALL SELECT cls, '{SUBCLASS}', super FROM {_sql_closure_values(SUBCLASS_CLOSURE, "sc(cls, super)")}
  UNION ALL SELECT pr, '{SUBPROP}', super FROM {_sql_closure_values(SUBPROP_CLOSURE, "sp(pr, super)")}
) u"""


QUERIES["kg_fuse_rdfs"] = q_kg_fuse_rdfs
ORACLES["kg_fuse_rdfs"] = SQL_KG_FUSE_RDFS


# ---------------------------------------------------------------------------
# expansion-only ablation (VERDICT r1 #6): fuse_expand reproduces
# re_shacl_withoutM.py:635-788 — sameAs COPIES instead of merging.  The graph:
# every 3rd customer has an alias IRI linked by owl:sameAs, so expansion must
# copy its kg:inNation edge onto the alias and complete the sameAs component
# (including reflexive rows), while range-typing still fires.
# ---------------------------------------------------------------------------

def ablation_graph(spark, sf_dir):
    """sameAs-rich input shared by the expand/merge ablation pair."""
    cust = _read(spark, sf_dir, "customer")
    base = _rows(cust, _iri("c:", F.col("c_custkey")), "kg:inNation", _iri("n:", F.col("c_nationkey")))
    alias = _rows(cust.filter(F.col("c_custkey") % 3 == 0),
                  _iri("c:", F.col("c_custkey")), SAMEAS, _iri("cx:", F.col("c_custkey")))
    tbox = triples_df(spark, [iri_triple("kg:inNation", RANGE, "kg:Nation")])
    return base.unionByName(alias).unionByName(tbox)


def q_kg_fuse_expand(spark, sf_dir):
    from re_shacl_spark.pipeline import fuse_expand

    res = fuse_expand(spark, ablation_graph(spark, sf_dir))
    return _spo(res.triples)


SQL_KG_FUSE_EXPAND = f"""WITH c AS (SELECT c_custkey AS k, c_nationkey AS n FROM customer)
SELECT DISTINCT s, p, o FROM (
  SELECT 'c:'||k AS s, 'kg:inNation' AS p, 'n:'||n AS o FROM c
  UNION ALL SELECT 'cx:'||k, 'kg:inNation', 'n:'||n FROM c WHERE k%3=0
  UNION ALL SELECT 'c:'||k, '{SAMEAS}', 'cx:'||k FROM c WHERE k%3=0
  UNION ALL SELECT 'cx:'||k, '{SAMEAS}', 'c:'||k FROM c WHERE k%3=0
  UNION ALL SELECT 'c:'||k, '{SAMEAS}', 'c:'||k FROM c WHERE k%3=0
  UNION ALL SELECT 'cx:'||k, '{SAMEAS}', 'cx:'||k FROM c WHERE k%3=0
  UNION ALL SELECT 'n:'||n, '{TYPE}', 'kg:Nation' FROM c
  UNION ALL SELECT 'kg:inNation', '{RANGE}', 'kg:Nation'
) t"""


QUERIES["kg_fuse_expand"] = q_kg_fuse_expand
ORACLES["kg_fuse_expand"] = SQL_KG_FUSE_EXPAND


def q_kg_fuse_rdfs_expand(spark, sf_dir):
    """Fourth arm of the reference's 2×2 method matrix (VERDICT r3 #6):
    RDFS-profile expansion-only (ReSHACL/re_shacl_rdfs_withoutM.py:127-145,
    634-786).  Same sameAs-rich input as the OWL expand arm, but owl:sameAs
    stays UNINTERPRETED: no alias copy-through, no symmetric/reflexive
    completion — only rdfs3 range-typing fires."""
    from re_shacl_spark.pipeline import fuse_expand

    res = fuse_expand(spark, ablation_graph(spark, sf_dir), profile="rdfs")
    return _spo(res.triples)


SQL_KG_FUSE_RDFS_EXPAND = f"""WITH c AS (SELECT c_custkey AS k, c_nationkey AS n FROM customer)
SELECT DISTINCT s, p, o FROM (
  SELECT 'c:'||k AS s, 'kg:inNation' AS p, 'n:'||n AS o FROM c
  UNION ALL SELECT 'c:'||k, '{SAMEAS}', 'cx:'||k FROM c WHERE k%3=0
  UNION ALL SELECT 'n:'||n, '{TYPE}', 'kg:Nation' FROM c
  UNION ALL SELECT 'kg:inNation', '{RANGE}', 'kg:Nation'
) t"""


QUERIES["kg_fuse_rdfs_expand"] = q_kg_fuse_rdfs_expand
ORACLES["kg_fuse_rdfs_expand"] = SQL_KG_FUSE_RDFS_EXPAND


# ---------------------------------------------------------------------------
# full-materialization baseline (VERDICT r2 #6): the reference's THIRD method
# arm — unscoped owlrl-style closure (inter_graph, re_shacl.py:754-775) over
# the same sameAs-rich slice as the expand ablation, so the bench can report
# the merged < expanded < full size ordering on identical input.
# ---------------------------------------------------------------------------

def q_kg_fuse_full(spark, sf_dir):
    from re_shacl_spark.pipeline import fuse_full

    res = fuse_full(spark, ablation_graph(spark, sf_dir))
    return _spo(res.triples)


_RDFS_RESOURCE = vocab.RDFS + "Resource"
_RDF_PROPERTY = vocab.RDF + "Property"

SQL_KG_FUSE_FULL = f"""WITH c AS (SELECT c_custkey AS k, c_nationkey AS n FROM customer),
exp AS (
  SELECT 'c:'||k AS s, 'kg:inNation' AS p, 'n:'||n AS o FROM c
  UNION ALL SELECT 'cx:'||k, 'kg:inNation', 'n:'||n FROM c WHERE k%3=0
  UNION ALL SELECT 'c:'||k, '{SAMEAS}', 'cx:'||k FROM c WHERE k%3=0
  UNION ALL SELECT 'cx:'||k, '{SAMEAS}', 'c:'||k FROM c WHERE k%3=0
  UNION ALL SELECT 'c:'||k, '{SAMEAS}', 'c:'||k FROM c WHERE k%3=0
  UNION ALL SELECT 'cx:'||k, '{SAMEAS}', 'cx:'||k FROM c WHERE k%3=0
  UNION ALL SELECT 'n:'||n, '{TYPE}', 'kg:Nation' FROM c
  UNION ALL SELECT 'kg:inNation', '{RANGE}', 'kg:Nation'
),
terms(t) AS (
  SELECT s FROM exp UNION SELECT o FROM exp UNION SELECT p FROM exp
  UNION SELECT '{TYPE}' UNION SELECT '{_RDFS_RESOURCE}' UNION SELECT '{_RDF_PROPERTY}'
),
preds(t) AS (SELECT DISTINCT p FROM exp UNION SELECT '{TYPE}')
SELECT DISTINCT s, p, o FROM (
  SELECT s, p, o FROM exp
  UNION ALL SELECT t, '{TYPE}', '{_RDFS_RESOURCE}' FROM terms
  UNION ALL SELECT t, '{TYPE}', '{_RDF_PROPERTY}' FROM preds
) u"""


QUERIES["kg_fuse_full"] = q_kg_fuse_full
ORACLES["kg_fuse_full"] = SQL_KG_FUSE_FULL


# ---------------------------------------------------------------------------
# SHACL string facets: sh:pattern / sh:minLength / sh:maxLength
# (validate/engine.py::_value_conformance; standard constraints a user
# migrating real shapes graphs expects even though the committed reference
# graphs do not use them)
# ---------------------------------------------------------------------------

def q_v_pattern(spark, sf_dir):
    cust = _read(spark, sf_dir, "customer")
    lex = F.when(F.col("c_custkey") % 4 != 0, F.col("c_name")).otherwise(F.col("c_mktsegment"))
    vals = _lit_rows(cust, _iri("c:", F.col("c_custkey")), "kg:code", lex, F.lit(XSD_STRING))
    t = _cust_targets(spark, sf_dir).unionByName(vals)
    shapes = [NodeShape("sh:CustShape", target_classes=["kg:Customer"],
                        properties=[PropertyConstraint(path="kg:code", pattern="^Customer#[0-9]+$")])]
    return validate(spark, t, shapes).violations


SQL_V_PATTERN = """SELECT 'c:'||c_custkey::varchar AS focus, 'sh:CustShape' AS shape,
'kg:code' AS path, 'value' AS "constraint", c_mktsegment AS value
FROM customer WHERE c_custkey % 4 = 0"""


def q_v_length(spark, sf_dir):
    cust = _read(spark, sf_dir, "customer")
    base = F.concat(F.col("c_name"), F.col("c_mktsegment"))
    lex = base.substr(F.lit(1), (F.col("c_custkey") % 20 + 3).cast("int"))
    vals = _lit_rows(cust, _iri("c:", F.col("c_custkey")), "kg:label", lex, F.lit(XSD_STRING))
    t = _cust_targets(spark, sf_dir).unionByName(vals)
    shapes = [NodeShape("sh:CustShape", target_classes=["kg:Customer"],
                        properties=[PropertyConstraint(path="kg:label", min_length=8, max_length=18)])]
    return validate(spark, t, shapes).violations


SQL_V_LENGTH = """SELECT 'c:'||c_custkey::varchar AS focus, 'sh:CustShape' AS shape,
'kg:label' AS path, 'value' AS "constraint",
substr(c_name || c_mktsegment, 1, (c_custkey % 20 + 3)::INT) AS value
FROM customer WHERE (c_custkey % 20 + 3) < 8 OR (c_custkey % 20 + 3) > 18"""


QUERIES["v_pattern"] = q_v_pattern
QUERIES["v_length"] = q_v_length
ORACLES["v_pattern"] = SQL_V_PATTERN
ORACLES["v_length"] = SQL_V_LENGTH


def q_v_sparql_constraint(spark, sf_dir):
    """sh:sparql SPARQL-based constraint (SHACL §5, validate/sparql.py),
    end-to-end through the FULL path: turtle text with a triple-quoted
    sh:select → model/ttl parse → compile_shapes → one distributed bgp plan
    per constraint joined against the target set (engine._sparql_violations;
    never a per-focus loop).  The constraint flags customers holding a
    negative balance outside the MACHINERY segment — a two-pattern join plus
    a mixed numeric/string FILTER (&&, SPARQL type-error→row-drop via
    try_cast).  `@prefix kg: <kg:>` resolves prefixed names to the graph's
    compact-IRI convention.  Balances ride as exact integer-cent lexicals
    (floor(bal·100) — IEEE-identical on both engines)."""
    from re_shacl_spark.model.ttl import parse_ttl
    from re_shacl_spark.validate.shapes import compile_shapes

    cust = _read(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    cents = F.floor(F.col("c_acctbal") * 100).cast("long").cast("string")
    bal = _lit_rows(cust, _iri("c:", k), "kg:bal", cents,
                    F.lit(vocab.XSD + "integer"))
    seg = _lit_rows(cust, _iri("c:", k), "kg:seg", F.col("c_mktsegment"),
                    F.lit(XSD_STRING))
    t = _cust_targets(spark, sf_dir).unionByName(bal).unionByName(seg)
    ttl = '''
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix kg: <kg:> .
kg:NegBalShape a sh:NodeShape ;
  sh:targetClass kg:Customer ;
  sh:sparql [
    sh:message "negative balance outside MACHINERY" ;
    sh:select """
      SELECT $this ?value
      WHERE {
        $this kg:bal ?value .
        $this kg:seg ?s .
        FILTER (?value < 0 && ?s != "MACHINERY")
      }
    """ ;
  ] .
'''
    return validate(spark, t, compile_shapes(parse_ttl(ttl))).violations


SQL_V_SPARQL = """SELECT 'c:'||c_custkey::varchar AS focus,
'kg:NegBalShape' AS shape, NULL::VARCHAR AS path, 'sparql' AS "constraint",
floor(c_acctbal * 100)::BIGINT::varchar AS value
FROM customer
WHERE floor(c_acctbal * 100) < 0 AND c_mktsegment != 'MACHINERY'"""


QUERIES["v_sparql_constraint"] = q_v_sparql_constraint
ORACLES["v_sparql_constraint"] = SQL_V_SPARQL


def q_v_sparql_target(spark, sf_dir):
    """SHACL-AF custom SPARQL target (sh:target/sh:select,
    validate/sparql.py + engine._targets): the target query's ?this
    solutions ARE the focus set — one distributed bgp plan per target, no
    targetClass.  BUILDING-segment customers must carry ≥1 kg:vip edge
    (only every 5th does)."""
    from re_shacl_spark.model.ttl import parse_ttl
    from re_shacl_spark.validate.shapes import compile_shapes

    cust = _read(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    seg = _lit_rows(cust, _iri("c:", k), "kg:seg", F.col("c_mktsegment"),
                    F.lit(XSD_STRING))
    vip = _rows(cust.filter(k % 5 == 0), _iri("c:", k), "kg:vip", F.lit("kg:Gold"))
    t = seg.unionByName(vip)
    ttl = '''
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix kg: <kg:> .
kg:BuildingShape a sh:NodeShape ;
  sh:target [ sh:select """SELECT ?this WHERE { ?this kg:seg "BUILDING" . }""" ] ;
  sh:property [ sh:path kg:vip ; sh:minCount 1 ] .
'''
    return validate(spark, t, compile_shapes(parse_ttl(ttl))).violations


SQL_V_SPARQL_TARGET = """SELECT 'c:'||c_custkey::varchar AS focus,
'kg:BuildingShape' AS shape, 'kg:vip' AS path, 'minCount' AS "constraint",
'0' AS value
FROM customer WHERE c_mktsegment = 'BUILDING' AND c_custkey % 5 != 0"""


QUERIES["v_sparql_target"] = q_v_sparql_target
ORACLES["v_sparql_target"] = SQL_V_SPARQL_TARGET


# ---------------------------------------------------------------------------
# SHACL round-3 constraint kinds: logical combinators (sh:and / sh:xone),
# qualified value-shape counts, numeric range facets, language facets,
# property-pair constraints, and closed shapes — the remaining SHACL Core
# constraint components a user migrating real shapes graphs needs
# (validate/engine.py: validate / _pair_violations / _closed_violations)
# ---------------------------------------------------------------------------


def _lang_rows(df: DataFrame, s, p, lex, lang) -> DataFrame:
    """Language-tagged literal rows (dtype null, lang set — rdf:langString)."""
    return df.select(
        s.alias("s"),
        F.lit(p).alias("p"),
        lex.alias("o"),
        F.struct(
            lex.alias("lex"), F.lit(None).cast("string").alias("dtype"), lang.alias("lang")
        ).alias("o_lit"),
        F.lit(True).alias("is_lit"),
        F.lit(None).cast("string").alias("src_url"),
    )


def q_v_logic(spark, sf_dir):
    """sh:and (all branches) + sh:xone (exactly one) in one shape, both
    evaluated per value row inside the one validate aggregation (engine.py).
    kg:contact must be a Literal AND xsd:string (the v_or value mix: decimal
    lits and IRIs fail); kg:code must match exactly one of ^A / B$."""
    cust = _read(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    dec_lit = _lit_rows(cust.filter(k % 3 == 0), _iri("c:", k), "kg:contact", F.col("c_name"), F.lit(XSD_DECIMAL))
    iri_val = _rows(cust.filter(k % 3 == 1), _iri("c:", k), "kg:contact", _iri("n:", F.col("c_nationkey")))
    str_lit = _lit_rows(cust.filter(k % 3 == 2), _iri("c:", k), "kg:contact", F.col("c_name"), F.lit(XSD_STRING))
    code = F.element_at(F.array(F.lit("AX"), F.lit("XB"), F.lit("AB"), F.lit("XX")), (k % 4 + 1).cast("int"))
    codes = _lit_rows(cust, _iri("c:", k), "kg:code", code, F.lit(XSD_STRING))
    t = _cust_targets(spark, sf_dir).unionByName(dec_lit).unionByName(iri_val).unionByName(str_lit).unionByName(codes)
    shapes = [NodeShape("sh:CustShape", target_classes=["kg:Customer"], properties=[
        PropertyConstraint(path="kg:contact", and_branches=[
            PropertyConstraint(node_kind=vocab.SH + "Literal"),
            PropertyConstraint(datatype=XSD_STRING)]),
        PropertyConstraint(path="kg:code", xone_branches=[
            PropertyConstraint(pattern="^A"),
            PropertyConstraint(pattern="B$")]),
    ])]
    return validate(spark, t, shapes).violations


SQL_V_LOGIC = """SELECT 'c:'||c_custkey::varchar AS focus, 'sh:CustShape' AS shape,
'kg:contact' AS path, 'value' AS "constraint",
CASE WHEN c_custkey % 3 = 0 THEN c_name ELSE 'n:'||c_nationkey::varchar END AS value
FROM customer WHERE c_custkey % 3 IN (0, 1)
UNION ALL
SELECT 'c:'||c_custkey::varchar, 'sh:CustShape', 'kg:code', 'value',
CASE WHEN c_custkey % 4 = 2 THEN 'AB' ELSE 'XX' END
FROM customer WHERE c_custkey % 4 IN (2, 3)"""


def q_v_qualified(spark, sf_dir):
    """sh:qualifiedValueShape + qualifiedMin/MaxCount: each customer needs
    2..20 kg:ordered values typed kg:PriorityOrder (orderkey % 3 = 0); the
    qualified facet struct is evaluated per value row, counted per focus
    (engine.py: q_conf → q_cnt)."""
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    vals = _rows(orders, _iri("c:", F.col("o_custkey")), "kg:ordered", _iri("o:", F.col("o_orderkey")))
    prio = _rows(orders.filter(F.col("o_orderkey") % 3 == 0),
                 _iri("o:", F.col("o_orderkey")), TYPE, F.lit("kg:PriorityOrder"))
    t = _cust_targets(spark, sf_dir).unionByName(vals).unionByName(prio)
    shapes = [NodeShape("sh:CustShape", target_classes=["kg:Customer"], properties=[
        PropertyConstraint(path="kg:ordered",
                           qualified=PropertyConstraint(clazz="kg:PriorityOrder"),
                           q_min_count=2, q_max_count=20)])]
    return validate(spark, t, shapes).violations


SQL_V_QUALIFIED = """WITH q AS (
  SELECT c.c_custkey AS k,
         count(DISTINCT o.o_orderkey) FILTER (WHERE o.o_orderkey % 3 = 0) AS qc
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1)
SELECT 'c:'||k::varchar AS focus, 'sh:CustShape' AS shape, 'kg:ordered' AS path,
'qualifiedMinCount' AS "constraint", qc::varchar AS value FROM q WHERE qc < 2
UNION ALL
SELECT 'c:'||k::varchar, 'sh:CustShape', 'kg:ordered', 'qualifiedMaxCount',
qc::varchar FROM q WHERE qc > 20"""


def q_v_range(spark, sf_dir):
    """sh:minInclusive / sh:maxExclusive over account balance in integer cents
    (engine.py::_value_conformance range_ok; non-numeric poison values every
    97th customer exercise the incomparable-violates rule)."""
    cust = _read(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    cents = F.round(F.col("c_acctbal") * 100).cast("bigint").cast("string")
    lex = F.when(k % 97 == 0, F.col("c_name")).otherwise(cents)
    vals = _lit_rows(cust, _iri("c:", k), "kg:cents", lex, F.lit(vocab.XSD + "integer"))
    t = _cust_targets(spark, sf_dir).unionByName(vals)
    shapes = [NodeShape("sh:CustShape", target_classes=["kg:Customer"], properties=[
        PropertyConstraint(path="kg:cents", min_inclusive="0", max_exclusive="900000")])]
    return validate(spark, t, shapes).violations


SQL_V_RANGE = """WITH v AS (
  SELECT c_custkey AS k,
    CASE WHEN c_custkey % 97 = 0 THEN c_name
         ELSE (round(c_acctbal*100))::BIGINT::varchar END AS val,
    CASE WHEN c_custkey % 97 = 0 THEN NULL
         ELSE (round(c_acctbal*100))::BIGINT END AS num
  FROM customer)
SELECT 'c:'||k::varchar AS focus, 'sh:CustShape' AS shape, 'kg:cents' AS path,
'value' AS "constraint", val AS value
FROM v WHERE num IS NULL OR num < 0 OR num >= 900000"""


def q_v_lang(spark, sf_dir):
    """sh:languageIn + sh:uniqueLang over language-tagged labels: every
    customer carries two rdf:langString labels; tag 'zz' is outside the
    allowed list, and customers whose two labels share 'en' violate
    uniqueLang (engine.py: lang_ok + n_lang vs n_lang_distinct)."""
    cust = _read(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    lang1 = F.element_at(F.array(F.lit("en"), F.lit("de"), F.lit("fr"), F.lit("zz")), (k % 4 + 1).cast("int"))
    lang2 = F.when(k % 2 == 0, F.lit("en")).otherwise(F.lit("es"))
    l1 = _lang_rows(cust, _iri("c:", k), "kg:label", F.col("c_name"), lang1)
    l2 = _lang_rows(cust, _iri("c:", k), "kg:label", F.col("c_mktsegment"), lang2)
    t = _cust_targets(spark, sf_dir).unionByName(l1).unionByName(l2)
    shapes = [NodeShape("sh:CustShape", target_classes=["kg:Customer"], properties=[
        PropertyConstraint(path="kg:label", language_in=["en", "de", "fr", "es"]),
        PropertyConstraint(path="kg:label", unique_lang=True)])]
    return validate(spark, t, shapes).violations


SQL_V_LANG = """SELECT 'c:'||c_custkey::varchar AS focus, 'sh:CustShape' AS shape,
'kg:label' AS path, 'value' AS "constraint", c_name AS value
FROM customer WHERE c_custkey % 4 = 3
UNION ALL
SELECT 'c:'||c_custkey::varchar, 'sh:CustShape', 'kg:label', 'uniqueLang', '1'
FROM customer WHERE c_custkey % 4 = 0"""


def q_v_pairs(spark, sf_dir):
    """Property-pair constraints sh:lessThan / sh:equals / sh:disjoint in one
    shape (engine.py::_pair_violations: per-focus equi-joins, never all-pairs).
    kg:lo < kg:hi numerically; kg:alias must equal kg:name as a set; kg:tag1
    must not intersect kg:tag2."""
    cust = _read(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    XSD_INT = vocab.XSD + "integer"
    lo = _lit_rows(cust, _iri("c:", k), "kg:lo", (k % 10).cast("string"), F.lit(XSD_INT))
    hi = _lit_rows(cust, _iri("c:", k), "kg:hi", (k % 7 + 3).cast("string"), F.lit(XSD_INT))
    alias = _lit_rows(cust, _iri("c:", k), "kg:alias", F.col("c_mktsegment"), F.lit(XSD_STRING))
    name = _lit_rows(cust, _iri("c:", k), "kg:name",
                     F.when(k % 3 != 0, F.col("c_mktsegment")).otherwise(F.lit("XVAL")), F.lit(XSD_STRING))
    tag1 = _lit_rows(cust, _iri("c:", k), "kg:tag1", F.col("c_mktsegment"), F.lit(XSD_STRING))
    tag2 = _lit_rows(cust, _iri("c:", k), "kg:tag2",
                     F.when(k % 2 == 0, F.col("c_mktsegment")).otherwise(F.col("c_name")), F.lit(XSD_STRING))
    t = _cust_targets(spark, sf_dir)
    for part in (lo, hi, alias, name, tag1, tag2):
        t = t.unionByName(part)
    shapes = [NodeShape("sh:CustShape", target_classes=["kg:Customer"], properties=[
        PropertyConstraint(path="kg:lo", less_than="kg:hi"),
        PropertyConstraint(path="kg:alias", equals="kg:name"),
        PropertyConstraint(path="kg:tag1", disjoint="kg:tag2")])]
    return validate(spark, t, shapes).violations


SQL_V_PAIRS = """SELECT 'c:'||c_custkey::varchar AS focus, 'sh:CustShape' AS shape,
'kg:lo' AS path, 'lessThan' AS "constraint", (c_custkey % 10)::varchar AS value
FROM customer WHERE c_custkey % 10 >= c_custkey % 7 + 3
UNION ALL
SELECT 'c:'||c_custkey::varchar, 'sh:CustShape', 'kg:alias', 'equals', c_mktsegment
FROM customer WHERE c_custkey % 3 = 0
UNION ALL
SELECT 'c:'||c_custkey::varchar, 'sh:CustShape', 'kg:alias', 'equals', 'XVAL'
FROM customer WHERE c_custkey % 3 = 0
UNION ALL
SELECT 'c:'||c_custkey::varchar, 'sh:CustShape', 'kg:tag1', 'disjoint', c_mktsegment
FROM customer WHERE c_custkey % 2 = 0"""


def q_v_closed(spark, sf_dir):
    """sh:closed + sh:ignoredProperties: undeclared kg:extra edges violate;
    kg:note is ignored; rdf:type always allowed
    (engine.py::_closed_violations — one broadcast anti-join)."""
    cust = _read(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    seg = _lit_rows(cust, _iri("c:", k), "kg:segment", F.col("c_mktsegment"), F.lit(XSD_STRING))
    extra = _lit_rows(cust.filter(k % 6 == 0), _iri("c:", k), "kg:extra", F.col("c_name"), F.lit(XSD_STRING))
    note = _lit_rows(cust.filter(k % 9 == 0), _iri("c:", k), "kg:note", F.col("c_name"), F.lit(XSD_STRING))
    t = _cust_targets(spark, sf_dir).unionByName(seg).unionByName(extra).unionByName(note)
    shapes = [NodeShape("sh:CustShape", target_classes=["kg:Customer"],
                        properties=[PropertyConstraint(path="kg:segment")],
                        closed=True, ignored_properties=["kg:note"])]
    return validate(spark, t, shapes).violations


SQL_V_CLOSED = """SELECT 'c:'||c_custkey::varchar AS focus, 'sh:CustShape' AS shape,
'kg:extra' AS path, 'closed' AS "constraint", c_name AS value
FROM customer WHERE c_custkey % 6 = 0"""


QUERIES["v_logic"] = q_v_logic
QUERIES["v_qualified"] = q_v_qualified
QUERIES["v_range"] = q_v_range
QUERIES["v_lang"] = q_v_lang
QUERIES["v_pairs"] = q_v_pairs
QUERIES["v_closed"] = q_v_closed
ORACLES["v_logic"] = SQL_V_LOGIC
ORACLES["v_qualified"] = SQL_V_QUALIFIED
ORACLES["v_range"] = SQL_V_RANGE
ORACLES["v_lang"] = SQL_V_LANG
ORACLES["v_pairs"] = SQL_V_PAIRS
ORACLES["v_closed"] = SQL_V_CLOSED


def q_v_target_of(spark, sf_dir):
    """sh:targetSubjectsOf / sh:targetObjectsOf (engine.py::_targets predicate
    maps): customers who placed >25 orders violate maxCount on the
    subjects-of target; odd orders lack kg:priority under the objects-of
    target."""
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    vals = _rows(orders, _iri("c:", F.col("o_custkey")), "kg:ordered", _iri("o:", F.col("o_orderkey")))
    prio = _lit_rows(orders.filter(F.col("o_orderkey") % 2 == 0),
                     _iri("o:", F.col("o_orderkey")), "kg:priority",
                     F.col("o_orderpriority"), F.lit(XSD_STRING))
    t = vals.unionByName(prio)
    shapes = [
        NodeShape("sh:Orderer", target_subjects_of=["kg:ordered"],
                  properties=[PropertyConstraint(path="kg:ordered", max_count=25)]),
        NodeShape("sh:Ordered", target_objects_of=["kg:ordered"],
                  properties=[PropertyConstraint(path="kg:priority", min_count=1)]),
    ]
    return validate(spark, t, shapes).violations


SQL_V_TARGET_OF = """SELECT 'c:'||o_custkey::varchar AS focus, 'sh:Orderer' AS shape,
'kg:ordered' AS path, 'maxCount' AS "constraint", count(DISTINCT o_orderkey)::varchar AS value
FROM orders GROUP BY o_custkey HAVING count(DISTINCT o_orderkey) > 25
UNION ALL
SELECT 'o:'||o_orderkey::varchar, 'sh:Ordered', 'kg:priority', 'minCount', '0'
FROM orders WHERE o_orderkey % 2 = 1"""


def q_v_inverse_path(spark, sf_dir):
    """sh:inversePath (engine.py: inverse value join — focus is the edge's
    OBJECT): every order's in-edge subjects on kg:ordered must be typed
    kg:Customer; only even custkeys are, so orders placed by odd customers
    report their customer as a bad value."""
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    vals = _rows(orders, _iri("c:", F.col("o_custkey")), "kg:ordered", _iri("o:", F.col("o_orderkey")))
    otypes = _rows(orders, _iri("o:", F.col("o_orderkey")), TYPE, F.lit("kg:Order"))
    ctypes = _rows(cust.filter(F.col("c_custkey") % 2 == 0),
                   _iri("c:", F.col("c_custkey")), TYPE, F.lit("kg:Customer"))
    t = vals.unionByName(otypes).unionByName(ctypes)
    shapes = [NodeShape("sh:OrderShape", target_classes=["kg:Order"], properties=[
        PropertyConstraint(path="kg:ordered", inverse=True, min_count=1, clazz="kg:Customer")])]
    return validate(spark, t, shapes).violations


SQL_V_INVERSE = """SELECT 'o:'||o_orderkey::varchar AS focus, 'sh:OrderShape' AS shape,
'kg:ordered' AS path, 'value' AS "constraint", 'c:'||o_custkey::varchar AS value
FROM orders WHERE o_custkey % 2 = 1"""


QUERIES["v_target_of"] = q_v_target_of
QUERIES["v_inverse_path"] = q_v_inverse_path
ORACLES["v_target_of"] = SQL_V_TARGET_OF
ORACLES["v_inverse_path"] = SQL_V_INVERSE


# ---------------------------------------------------------------------------
# BGP pattern queries (query.py): the SPARQL-style conjunctive query surface —
# the reference's rdflib graph is queried via Graph.query/triples; this is the
# engine's equivalent, oracle-mirrored as self-joins over the same triple CTE
# ---------------------------------------------------------------------------

def q_bgp_star_join(spark, sf_dir):
    """4-pattern BGP: customers with their nation, region and orders —
    a star+chain join; every pattern scan is predicate-pruned and joins run
    on shared variables only (query.py::bgp, greedy selectivity order)."""
    from re_shacl_spark.query import bgp

    t = rel_triples(spark, sf_dir)
    return bgp(
        t,
        [
            ("?c", TYPE, "kg:Customer"),
            ("?c", "kg:inNation", "?n"),
            ("?n", "kg:inRegion", "?r"),
            ("?ord", "kg:placedBy", "?c"),
        ],
        select=["c", "n", "r", "ord"],
    )


SQL_BGP_STAR = f"""WITH {REL_TRIPLES_CTE.strip()}
SELECT a.s AS c, b.o AS n, c2.o AS r, d.s AS ord
FROM base a
JOIN base b ON b.s = a.s AND b.p = 'kg:inNation'
JOIN base c2 ON c2.s = b.o AND c2.p = 'kg:inRegion'
JOIN base d ON d.o = a.s AND d.p = 'kg:placedBy'
WHERE a.p = '{TYPE}' AND a.o = 'kg:Customer'"""


def q_bgp_optional(spark, sf_dir):
    """BGP with OPTIONAL (left join) + DISTINCT: each nation's region and,
    when present, its successor (n:24 has none → null m)."""
    from re_shacl_spark.query import bgp

    t = rel_triples(spark, sf_dir)
    return bgp(
        t,
        [("?n", "kg:inRegion", "?r")],
        optional=[("?n", "kg:next", "?m")],
        select=["n", "r", "m"],
        distinct=True,
    )


SQL_BGP_OPTIONAL = f"""WITH {REL_TRIPLES_CTE.strip()}
SELECT DISTINCT a.s AS n, a.o AS r, b.o AS m
FROM base a LEFT JOIN base b ON b.s = a.s AND b.p = 'kg:next'
WHERE a.p = 'kg:inRegion'"""


QUERIES["bgp_star_join"] = q_bgp_star_join
QUERIES["bgp_optional"] = q_bgp_optional
ORACLES["bgp_star_join"] = SQL_BGP_STAR
ORACLES["bgp_optional"] = SQL_BGP_OPTIONAL


def q_bgp_path_closure(spark, sf_dir):
    """Property path with sequence + one-or-more closure (query.py::eval_path):
    each customer paired with every nation strictly AFTER its own on the
    kg:next chain — ``?c (kg:inNation/kg:next+) ?m``.  The + closes by
    iterative doubling (O(log chain) rounds), then one hash join onto the
    customer edges."""
    from re_shacl_spark.query import Path, bgp

    t = rel_triples(spark, sf_dir)
    return bgp(
        t,
        [
            ("?c", TYPE, "kg:Customer"),
            ("?c", Path("kg:inNation/kg:next+"), "?m"),
        ],
        select=["c", "m"],
        distinct=True,
    )


SQL_BGP_PATH_CLOSURE = f"""WITH RECURSIVE {REL_TRIPLES_CTE.strip()},
nxt(s,o) AS (SELECT s, o FROM base WHERE p = 'kg:next'),
clo(s,o) AS (SELECT s, o FROM nxt UNION SELECT c.s, n.o FROM clo c JOIN nxt n ON c.o = n.s)
SELECT DISTINCT a.s AS c, clo.o AS m
FROM base a JOIN clo ON clo.s = a.o
WHERE a.p = 'kg:inNation' AND a.s LIKE 'c:%'"""


def q_bgp_path_inv_alt(spark, sf_dir):
    """Property path with inverse + alternation: nations with their members
    (customers AND suppliers, via ``^kg:inNation``) and their chain-successor
    or region (``kg:next|kg:inRegion``).  Inverse is a column swap (no job);
    alternation is a union of two predicate-pruned scans."""
    from re_shacl_spark.query import Path, bgp

    t = rel_triples(spark, sf_dir)
    return bgp(
        t,
        [
            ("?n", Path("^kg:inNation"), "?e"),
            ("?n", Path("kg:next|kg:inRegion"), "?x"),
        ],
        select=["n", "e", "x"],
        distinct=True,
    )


SQL_BGP_PATH_INV_ALT = f"""WITH {REL_TRIPLES_CTE.strip()}
SELECT DISTINCT a.o AS n, a.s AS e, b.o AS x
FROM base a JOIN base b ON b.s = a.o AND b.p IN ('kg:next', 'kg:inRegion')
WHERE a.p = 'kg:inNation'"""


QUERIES["bgp_path_closure"] = q_bgp_path_closure
QUERIES["bgp_path_inv_alt"] = q_bgp_path_inv_alt
ORACLES["bgp_path_closure"] = SQL_BGP_PATH_CLOSURE
ORACLES["bgp_path_inv_alt"] = SQL_BGP_PATH_INV_ALT


def q_bgp_minus_filter(spark, sf_dir):
    """SPARQL MINUS + FILTER: customers in nations n:20–n:24 (FILTER — a
    Column predicate Catalyst pushes below the joins) whose nation has NO
    kg:next successor (MINUS on the shared ?n — a left-anti join).  Only the
    chain's last nation n:24 qualifies."""
    from re_shacl_spark.query import bgp

    t = rel_triples(spark, sf_dir)
    return bgp(
        t,
        [("?c", TYPE, "kg:Customer"), ("?c", "kg:inNation", "?n")],
        where=F.col("n").isin(*[f"n:{i}" for i in range(20, 25)]),
        minus=[("?n", "kg:next", "?m")],
        select=["c", "n"],
        distinct=True,
    )


SQL_BGP_MINUS_FILTER = f"""WITH {REL_TRIPLES_CTE.strip()}
SELECT DISTINCT a.s AS c, a.o AS n
FROM base a
WHERE a.p = 'kg:inNation' AND a.s LIKE 'c:%'
  AND a.o IN ('n:20','n:21','n:22','n:23','n:24')
  AND a.o NOT IN (SELECT s FROM base WHERE p = 'kg:next')"""


QUERIES["bgp_minus_filter"] = q_bgp_minus_filter
ORACLES["bgp_minus_filter"] = SQL_BGP_MINUS_FILTER


def q_bgp_values(spark, sf_dir):
    """SPARQL VALUES with UNDEF: customers with their nation, constrained by
    an inline binding table — two rows pin ?n (UNDEF ?c), one row pins ?c
    (UNDEF ?n).  Rows group by defined-column mask, each group broadcast-joins
    on its own columns, groups union with multiset cardinality (a binding
    matched by a ?n row AND the ?c row appears twice — SPARQL §10.2
    compatibility, mirrored by the oracle's UNION ALL)."""
    from re_shacl_spark.query import bgp

    t = rel_triples(spark, sf_dir)
    return bgp(
        t,
        [("?c", TYPE, "kg:Customer"), ("?c", "kg:inNation", "?n")],
        values=(["n", "c"], [("n:1", None), ("n:3", None), (None, "c:5")]),
        select=["c", "n"],
    )


SQL_BGP_VALUES = f"""WITH {REL_TRIPLES_CTE.strip()},
sol AS (
  SELECT a.s AS c, a.o AS n FROM base a
  JOIN base t ON t.s = a.s AND t.p = '{TYPE}' AND t.o = 'kg:Customer'
  WHERE a.p = 'kg:inNation'
)
SELECT c, n FROM sol WHERE n IN ('n:1', 'n:3')
UNION ALL
SELECT c, n FROM sol WHERE c = 'c:5'"""


QUERIES["bgp_values"] = q_bgp_values
ORACLES["bgp_values"] = SQL_BGP_VALUES


def q_bgp_aggregate(spark, sf_dir):
    """SPARQL GROUP BY + aggregates (query.py::aggregate — rdflib evaluates
    the same forms for the reference's graph.query): per region over the
    order→customer→nation→region chain, COUNT(*), COUNT(DISTINCT ?c),
    SUM over integer-cent literals riding the BGP as a fourth pattern, and a
    deterministic SAMPLE.  One hash aggregation with map-side partials; the
    SUM is exact (integer-valued doubles) so the long cast is bit-stable."""
    from re_shacl_spark.query import aggregate, bgp

    cust = _read(spark, sf_dir, "customer")
    cents = _lit_rows(
        cust, _iri("c:", F.col("c_custkey")), "kg:cents",
        F.round(F.col("c_acctbal") * 100).cast("bigint").cast("string"),
        F.lit(vocab.XSD + "integer"),
    )
    t = rel_triples(spark, sf_dir).unionByName(cents)
    sol = bgp(t, [
        ("?ord", "kg:placedBy", "?c"),
        ("?c", "kg:inNation", "?n"),
        ("?n", "kg:inRegion", "?r"),
        ("?c", "kg:cents", "?v"),
    ])
    out = aggregate(sol, ["r"], {
        "n_orders": ("count", "*"),
        "n_customers": ("count_distinct", "c"),
        "sum_cents": ("sum", "v"),
        "min_nation": ("sample", "n"),
    })
    return out.select(
        "r", "n_orders", "n_customers",
        F.col("sum_cents").cast("long").alias("sum_cents"), "min_nation",
    )


SQL_BGP_AGGREGATE = """SELECT 'r:'||n.n_regionkey::varchar AS r,
count(*)::BIGINT AS n_orders,
count(DISTINCT o.o_custkey)::BIGINT AS n_customers,
sum((round(c.c_acctbal*100))::BIGINT)::BIGINT AS sum_cents,
min('n:'||c.c_nationkey::varchar) AS min_nation
FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
GROUP BY 1"""


def q_bgp_group_concat(spark, sf_dir):
    """GROUP_CONCAT + COUNT DISTINCT + MAX per region (query.py::aggregate):
    the concat sorts the group's values before joining, so the result is
    partitioning-independent (mirrors DuckDB string_agg ... ORDER BY)."""
    from re_shacl_spark.query import aggregate, bgp

    t = rel_triples(spark, sf_dir)
    sol = bgp(t, [("?n", "kg:inRegion", "?r")])
    return aggregate(sol, ["r"], {
        "nations": ("group_concat", "n", ","),
        "n_nations": ("count_distinct", "n"),
        "max_nation": ("max", "n"),
    })


SQL_BGP_GROUP_CONCAT = """SELECT 'r:'||n_regionkey::varchar AS r,
string_agg('n:'||n_nationkey::varchar, ',' ORDER BY 'n:'||n_nationkey::varchar) AS nations,
count(DISTINCT n_nationkey)::BIGINT AS n_nations,
max('n:'||n_nationkey::varchar) AS max_nation
FROM nation GROUP BY 1"""


def q_bgp_order_limit(spark, sf_dir):
    """HAVING + ORDER BY/OFFSET/LIMIT (query.py::aggregate + ::modifiers):
    per-nation order counts, groups under 5 dropped, ranked by count desc
    with the nation IRI as a total-order tie-break, rows 4..13 returned.
    ORDER BY + LIMIT plans as TakeOrderedAndProject (per-task k-heaps, no
    global sort); OFFSET folds into the heap size."""
    from re_shacl_spark.query import aggregate, bgp, modifiers

    t = rel_triples(spark, sf_dir)
    sol = bgp(t, [("?ord", "kg:placedBy", "?c"), ("?c", "kg:inNation", "?n")])
    agg = aggregate(sol, ["n"], {"n_orders": ("count", "*")},
                    having=F.col("n_orders") >= 5)
    return modifiers(agg, order_by=[("n_orders", "desc"), "n"], limit=10, offset=3)


SQL_BGP_ORDER_LIMIT = """SELECT 'n:'||c.c_nationkey::varchar AS n,
count(*)::BIGINT AS n_orders
FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
GROUP BY 1 HAVING count(*) >= 5
ORDER BY n_orders DESC, n ASC LIMIT 10 OFFSET 3"""


def q_bgp_bind_exists(spark, sf_dir):
    """BIND + FILTER EXISTS / NOT EXISTS (query.py::bgp): nations with their
    region and a computed ?pair, kept only when some customer lives there
    (left-semi on the shared ?n) and dropped when a kg:next successor exists
    (left-anti) — SPARQL §8.3's NOT-EXISTS-vs-MINUS divergence exercised on
    the shared-variable side."""
    from re_shacl_spark.query import bgp

    t = rel_triples(spark, sf_dir)
    return bgp(
        t,
        [("?n", "kg:inRegion", "?r")],
        bind={"pair": F.concat(F.col("n"), F.lit("@"), F.col("r"))},
        filter_exists=[[("?c", "kg:inNation", "?n"), ("?c", TYPE, "kg:Customer")]],
        filter_not_exists=[[("?n", "kg:next", "?m")]],
        select=["n", "r", "pair"],
    )


SQL_BGP_BIND_EXISTS = f"""WITH {REL_TRIPLES_CTE.strip()}
SELECT a.s AS n, a.o AS r, a.s||'@'||a.o AS pair
FROM base a
WHERE a.p = 'kg:inRegion'
AND EXISTS (SELECT 1 FROM base b JOIN base c2 ON c2.s = b.s
            WHERE b.p = 'kg:inNation' AND b.o = a.s
              AND c2.p = '{TYPE}' AND c2.o = 'kg:Customer')
AND NOT EXISTS (SELECT 1 FROM base d WHERE d.p = 'kg:next' AND d.s = a.s)"""


QUERIES["bgp_aggregate"] = q_bgp_aggregate
QUERIES["bgp_group_concat"] = q_bgp_group_concat
QUERIES["bgp_order_limit"] = q_bgp_order_limit
QUERIES["bgp_bind_exists"] = q_bgp_bind_exists
ORACLES["bgp_aggregate"] = SQL_BGP_AGGREGATE
ORACLES["bgp_group_concat"] = SQL_BGP_GROUP_CONCAT
ORACLES["bgp_order_limit"] = SQL_BGP_ORDER_LIMIT
ORACLES["bgp_bind_exists"] = SQL_BGP_BIND_EXISTS


def q_bgp_graph_comention(spark, sf_dir):
    """SPARQL GRAPH (§13) over the constructed KG: per-page co-mention pairs
    — two quad patterns sharing the graph variable ?g (query.py::_scan quad
    form, ``src_url`` as the named-graph slot), so both mention edges must
    come from the SAME source page.  Page-level ``kg:mentions`` triples are
    the one emit branch whose provenance is unique per (s,p,o) (surface /
    sameAs triples dedup across pages), which keeps the graph slot
    deterministic.  Scale shape: both quads are predicate-pruned scans
    joining on (?pg, ?g) — one hash exchange, the `<` filter runs inside the
    join's codegen stage."""
    from re_shacl_spark.query import bgp

    pages = extract_text(_doc_pages(spark, sf_dir))
    m = detect_mentions(pages, MENTION_ALIASES, skip_empty_lang=False)
    t = emit_triples(m)
    sol = bgp(
        t,
        [
            ("?pg", _KG_NS + "mentions", "?a", "?g"),
            ("?pg", _KG_NS + "mentions", "?b", "?g"),
        ],
        where=F.col("a") < F.col("b"),
    )
    return sol.select("g", "a", "b")


SQL_BGP_GRAPH_COMENTION = f"""WITH m0 AS ({_sql_mentions_cte()}),
m AS (SELECT DISTINCT url, '{_MENTION_PREFIX}'||alias AS mi FROM m0 WHERE n > 0)
SELECT x.url AS g, x.mi AS a, y.mi AS b
FROM m x JOIN m y ON x.url = y.url AND x.mi < y.mi"""


QUERIES["bgp_graph_comention"] = q_bgp_graph_comention
ORACLES["bgp_graph_comention"] = SQL_BGP_GRAPH_COMENTION


def q_v_complex_path(spark, sf_dir):
    """SHACL complex sh:path over the rel KG (validate/engine.py
    _path_value_triples): a sequence path kg:inNation/kg:inRegion with sh:in
    (customers whose region is not whitelisted violate), and a one-or-more
    closure kg:next+ with sh:minCount 3 (the last three chain nations violate).
    Each distinct path expression materializes once as virtual-predicate
    pairs; the ordinary broadcast values join serves both shapes."""
    from re_shacl_spark.query import Path as PathExpr

    t = rel_triples(spark, sf_dir)
    shapes = [
        NodeShape("sh:RegionPath", target_classes=["kg:Customer"], properties=[
            PropertyConstraint(path=PathExpr("<kg:inNation>/<kg:inRegion>"),
                               in_values=["r:0", "r:1", "r:2"]),
        ]),
        NodeShape("sh:ChainDepth", target_subjects_of=["kg:inRegion"], properties=[
            PropertyConstraint(path=PathExpr("<kg:next>+"), min_count=3),
        ]),
    ]
    return validate(spark, t, shapes).violations


SQL_V_COMPLEX_PATH = f"""WITH RECURSIVE {REL_TRIPLES_CTE.strip()},
nxt(s,o) AS (SELECT s, o FROM base WHERE p = 'kg:next'),
clo(s,o) AS (SELECT s, o FROM nxt UNION SELECT c.s, n.o FROM clo c JOIN nxt n ON c.o = n.s),
nations AS (SELECT DISTINCT s FROM base WHERE p = 'kg:inRegion'),
cnts AS (SELECT nations.s, count(DISTINCT clo.o) n FROM nations
         LEFT JOIN clo ON clo.s = nations.s GROUP BY nations.s)
SELECT s AS focus, 'sh:ChainDepth' AS shape, '<kg:next>+' AS path,
       'minCount' AS "constraint", n::varchar AS value
FROM cnts WHERE n < 3
UNION ALL
SELECT DISTINCT a.s, 'sh:RegionPath', '<kg:inNation>/<kg:inRegion>', 'value', b.o
FROM base a JOIN base b ON b.s = a.o AND b.p = 'kg:inRegion'
WHERE a.p = 'kg:inNation' AND a.s LIKE 'c:%' AND b.o NOT IN ('r:0','r:1','r:2')"""


QUERIES["v_complex_path"] = q_v_complex_path
ORACLES["v_complex_path"] = SQL_V_COMPLEX_PATH


def q_bgp_path_nps(spark, sf_dir):
    """Negated property set (SPARQL §9.1): every edge leaving a nation that is
    NOT kg:inRegion / kg:adjacentTo — i.e. the kg:next chain plus nothing else.
    One predicate-complement scan, joined to the nation set on the focus."""
    from re_shacl_spark.query import Path, bgp

    t = rel_triples(spark, sf_dir)
    return bgp(
        t,
        [
            ("?n", "kg:inRegion", "?r"),
            ("?n", Path("!(kg:inRegion|kg:adjacentTo)"), "?x"),
        ],
        select=["n", "x"],
        distinct=True,
    )


SQL_BGP_PATH_NPS = f"""WITH {REL_TRIPLES_CTE.strip()}
SELECT DISTINCT a.s AS n, b.o AS x
FROM base a JOIN base b ON b.s = a.s AND b.p NOT IN ('kg:inRegion','kg:adjacentTo')
WHERE a.p = 'kg:inRegion'"""


QUERIES["bgp_path_nps"] = q_bgp_path_nps
ORACLES["bgp_path_nps"] = SQL_BGP_PATH_NPS


def q_v_delta_incremental(spark, sf_dir):
    """Incremental validation (validate/incremental.py): the base graph is
    missing every 7th kg:ordered edge and every 3rd customer's segment; the
    delta restores them.  Only delta-affected foci are re-validated and
    spliced into the base report — the result must equal full validation over
    the union, which is exactly what the oracle computes."""
    from re_shacl_spark.validate.incremental import validate_delta

    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    ordered = _rows(orders, _iri("c:", F.col("o_custkey")), "kg:ordered", _iri("o:", F.col("o_orderkey")))
    seg = _lit_rows(cust, _iri("c:", F.col("c_custkey")), "kg:segment", F.col("c_mktsegment"), F.lit(XSD_STRING))
    targets = _cust_targets(spark, sf_dir)
    base = targets.unionByName(
        _rows(orders.filter(F.col("o_orderkey") % 7 != 0),
              _iri("c:", F.col("o_custkey")), "kg:ordered", _iri("o:", F.col("o_orderkey")))
    ).unionByName(
        _lit_rows(cust.filter(F.col("c_custkey") % 3 != 0),
                  _iri("c:", F.col("c_custkey")), "kg:segment", F.col("c_mktsegment"), F.lit(XSD_STRING))
    )
    delta = ordered.join(base.select("s", "p", "o"), ["s", "p", "o"], "left_anti").unionByName(
        seg.join(base.select("s", "p", "o"), ["s", "p", "o"], "left_anti")
    )
    shapes = [NodeShape(
        "sh:CustShape", target_classes=["kg:Customer"],
        properties=[
            PropertyConstraint(path="kg:ordered", min_count=2),
            PropertyConstraint(path="kg:segment", in_values=list(_SEG_OK)),
        ],
    )]
    base_rep = validate(spark, base, shapes)
    return validate_delta(spark, base, delta, shapes, base_rep).violations


SQL_V_DELTA_INCREMENTAL = """WITH v AS (SELECT 'c:'||o_custkey::varchar f, 'o:'||o_orderkey::varchar o FROM orders),
c AS (SELECT 'c:'||c_custkey::varchar f FROM customer),
cnt AS (SELECT c.f, count(DISTINCT v.o) n FROM c LEFT JOIN v ON c.f = v.f GROUP BY c.f)
SELECT f AS focus, 'sh:CustShape' AS shape, 'kg:ordered' AS path,
'minCount' AS "constraint", n::varchar AS value
FROM cnt WHERE n < 2
UNION ALL
SELECT 'c:'||c_custkey::varchar, 'sh:CustShape', 'kg:segment', 'value', c_mktsegment
FROM customer WHERE c_mktsegment NOT IN ('AUTOMOBILE','BUILDING','MACHINERY')"""


QUERIES["v_delta_incremental"] = q_v_delta_incremental
ORACLES["v_delta_incremental"] = SQL_V_DELTA_INCREMENTAL


# ---------------------------------------------------------------------------
# incremental fusion (pipeline.fuse_delta): the crawl-increment entry point —
# close a base KG, then extend it with held-back ABox rows; the final state
# must equal full fusion over everything, so the oracle IS the kg_fuse SQL
# ---------------------------------------------------------------------------

def q_kg_fuse_delta(spark, sf_dir):
    """fuse_delta over a base missing ~1/7 of the kg:placedBy edges plus the
    n:12 kg:next chain link.  The delta re-triggers exactly what it must:
    linear domain/range/inverse/subclass typing on the new edges, and the
    transitive re-closure across the restored bridge (old-chain × old-chain
    consequences).  Output equals SQL_KG_FUSE — full fusion over the union."""
    from re_shacl_spark.pipeline import fuse_delta

    base, delta = _delta_split(rel_triples(spark, sf_dir), _placed_by_delta_cond())
    res = fuse_delta(spark, fuse(spark, base, assume_distinct=True), delta)
    return _spo(res.triples)


QUERIES["kg_fuse_delta"] = q_kg_fuse_delta
ORACLES["kg_fuse_delta"] = SQL_KG_FUSE


# ---------------------------------------------------------------------------
# sh:severity / sh:message report detail (validate(with_details=True)):
# per-constraint severity overrides the shape default; sh:Violation otherwise
# ---------------------------------------------------------------------------

def q_v_severity(spark, sf_dir):
    """Detailed report: the shape defaults to sh:Warning + a shape message;
    the segment constraint overrides with sh:Info + its own message
    (validate/engine.py: detail_cols; shapes.py severity/message fields)."""
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    ordered = _rows(orders, _iri("c:", F.col("o_custkey")), "kg:ordered", _iri("o:", F.col("o_orderkey")))
    seg = _lit_rows(cust, _iri("c:", F.col("c_custkey")), "kg:segment", F.col("c_mktsegment"), F.lit(XSD_STRING))
    t = _cust_targets(spark, sf_dir).unionByName(ordered).unionByName(seg)
    shapes = [NodeShape(
        "sh:CustShape", target_classes=["kg:Customer"],
        severity=vocab.SH + "Warning", message="needs at least 2 orders",
        properties=[
            PropertyConstraint(path="kg:ordered", min_count=2),
            PropertyConstraint(path="kg:segment", in_values=list(_SEG_OK),
                               severity=vocab.SH + "Info", message="segment not allowed"),
        ],
    )]
    return validate(spark, t, shapes, with_details=True).violations


SQL_V_SEVERITY = f"""WITH v AS (SELECT 'c:'||o_custkey::varchar f, 'o:'||o_orderkey::varchar o FROM orders),
c AS (SELECT 'c:'||c_custkey::varchar f FROM customer),
cnt AS (SELECT c.f, count(DISTINCT v.o) n FROM c LEFT JOIN v ON c.f = v.f GROUP BY c.f)
SELECT f AS focus, 'sh:CustShape' AS shape, 'kg:ordered' AS path,
'minCount' AS "constraint", n::varchar AS value,
'{vocab.SH}Warning' AS severity, 'needs at least 2 orders' AS message
FROM cnt WHERE n < 2
UNION ALL
SELECT 'c:'||c_custkey::varchar, 'sh:CustShape', 'kg:segment', 'value', c_mktsegment,
'{vocab.SH}Info', 'segment not allowed'
FROM customer WHERE c_mktsegment NOT IN ('AUTOMOBILE','BUILDING','MACHINERY')"""


QUERIES["v_severity"] = q_v_severity
ORACLES["v_severity"] = SQL_V_SEVERITY


def q_bgp_string_funcs(spark, sf_dir):
    """SPARQL string builtins over literal bindings, each a plain JVM Column
    op inside the BGP solution (no UDF): BIND(STRLEN/UCASE/LCASE/SUBSTR/
    STRAFTER/CONCAT) with FILTER(STRSTARTS && STRENDS && CONTAINS).
    SPARQL 1.1 §17.4.3; the reference has no query surface — this is the
    rebuilt extension's function coverage."""
    from re_shacl_spark.query import bgp

    cust = _read(spark, sf_dir, "customer")
    t = _lit_rows(cust, _iri("c:", F.col("c_custkey")), "kg:name",
                  F.col("c_name"), F.lit(XSD_STRING))
    v = F.col("v")
    return bgp(
        t, [("?c", "kg:name", "?v")],
        bind={
            "len": F.length(v).cast("long"),
            "up": F.upper(v),
            "low": F.lower(v),
            "mid": F.substring(v, 10, 4),
            "after": F.substring_index(v, "#", -1),
            "tag": F.concat(v, F.lit("/"), F.length(v).cast("string")),
        },
        where=v.startswith("Customer") & v.endswith("2") & v.contains("9"),
        select=["c", "v", "len", "up", "low", "mid", "after", "tag"],
    )


SQL_BGP_STRING_FUNCS = """SELECT 'c:'||c_custkey::varchar AS c, c_name AS v,
length(c_name)::BIGINT AS len, upper(c_name) AS up, lower(c_name) AS low,
substring(c_name, 10, 4) AS mid, split_part(c_name, '#', 2) AS after,
c_name||'/'||length(c_name)::varchar AS tag
FROM customer
WHERE c_name LIKE 'Customer%' AND c_name LIKE '%2' AND contains(c_name, '9')"""


def q_bgp_numeric_funcs(spark, sf_dir):
    """SPARQL numeric/conditional builtins: BIND(ABS/FLOOR/CEIL/IF) over a
    decimal literal re-cast from its lexical form, COALESCE over an OPTIONAL
    flag, FILTER on the derived number.  floor(bal*100) keeps every derived
    value on exact IEEE ops both engines share (ROUND's decimal-string HALF_UP
    vs binary-double rounding diverges on .x5 lexicals — deliberately
    avoided)."""
    from re_shacl_spark.query import bgp

    cust = _read(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    bal = _lit_rows(cust, _iri("c:", k), "kg:bal",
                    F.col("c_acctbal").cast("string"), F.lit(XSD_STRING))
    vip = _rows(cust.filter(k % 5 == 0), _iri("c:", k), "kg:vip", F.lit("kg:Gold"))
    t = bal.unionByName(vip)
    # try_cast: Catalyst may evaluate the FILTER's cast before the p='kg:bal'
    # conjunct within one collapsed Filter, and ANSI cast throws on the
    # kg:vip rows' IRI object — SPARQL semantics want a type-error → unbound
    # anyway
    b = F.expr("try_cast(v AS double)")
    return bgp(
        t, [("?c", "kg:bal", "?v")],
        optional=[("?c", "kg:vip", "?f")],
        bind={
            "cents": F.floor(b * 100).cast("long"),
            "absf": F.floor(F.abs(b)).cast("long"),
            "cl": F.ceil(b).cast("long"),
            "sign": F.when(b < 0, F.lit("neg")).otherwise(F.lit("pos")),
        },
        where=F.abs(b) > 4000.0,
        select=["c", "cents", "absf", "cl", "sign", "f"],
    ).select("c", "cents", "absf", "cl", "sign",
             F.coalesce(F.col("f"), F.lit("none")).alias("vip"))


SQL_BGP_NUMERIC_FUNCS = """SELECT 'c:'||c_custkey::varchar AS c,
floor(c_acctbal * 100)::BIGINT AS cents,
floor(abs(c_acctbal))::BIGINT AS absf,
ceil(c_acctbal)::BIGINT AS cl,
CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'pos' END AS sign,
CASE WHEN c_custkey % 5 = 0 THEN 'kg:Gold' ELSE 'none' END AS vip
FROM customer WHERE abs(c_acctbal) > 4000.0"""


QUERIES["bgp_string_funcs"] = q_bgp_string_funcs
ORACLES["bgp_string_funcs"] = SQL_BGP_STRING_FUNCS
QUERIES["bgp_numeric_funcs"] = q_bgp_numeric_funcs
ORACLES["bgp_numeric_funcs"] = SQL_BGP_NUMERIC_FUNCS


def q_bgp_hash_funcs(spark, sf_dir):
    """SPARQL 1.1 §17.4.4 hash functions and the remaining term/string
    constructors over literal bindings: BIND(MD5/SHA256), ENCODE_FOR_URI
    (explicit percent-escape chain — SPARQL mandates %20 for space, NOT the
    form-encoding '+' that url_encode builtins produce, so both engines run
    the same literal replace chain), IRI() minting from the escaped string,
    STRBEFORE, xsd:integer() cast (type error → unbound, via try_cast), and
    regex REPLACE/FILTER-REGEX on Java∩RE2-safe patterns ('0+', '[13579]$').
    All plain JVM Column ops inside the BGP solution — no UDF.  The reference
    has no query surface; this completes the rebuilt extension's §17.4
    builtin families alongside bgp_string_funcs/bgp_numeric_funcs.

    DuckDB mirror notes: duckdb regexp_replace replaces the FIRST match
    unless given the 'g' flag (Spark's replaces all); md5()/sha256() hash
    UTF-8 bytes and print lowercase hex on both engines."""
    from re_shacl_spark.query import bgp

    cust = _read(spark, sf_dir, "customer")
    t = _lit_rows(cust, _iri("c:", F.col("c_custkey")), "kg:name",
                  F.col("c_name"), F.lit(XSD_STRING))
    v = F.col("v")
    enc = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(v, "%", "%25"), " ", "%20"),
        "#", "%23")
    return bgp(
        t, [("?c", "kg:name", "?v")],
        bind={
            "h_md5": F.md5(v),
            "h_sha256": F.sha2(v, 256),
            "enc": enc,
            "iri": F.concat(F.lit("kg:c/"), enc),
            "before": F.substring_index(v, "#", 1),
            "num": F.expr("try_cast(substring_index(v, '#', -1) AS bigint)"),
            "packed": F.regexp_replace(v, "0+", "_"),
        },
        where=v.rlike("[13579]$"),
        select=["c", "v", "h_md5", "h_sha256", "enc", "iri",
                "before", "num", "packed"],
    )


_SQL_ENC = "replace(replace(replace(c_name,'%','%25'),' ','%20'),'#','%23')"
SQL_BGP_HASH_FUNCS = f"""SELECT 'c:'||c_custkey::varchar AS c, c_name AS v,
md5(c_name) AS h_md5, sha256(c_name) AS h_sha256,
{_SQL_ENC} AS enc, 'kg:c/'||{_SQL_ENC} AS iri,
split_part(c_name, '#', 1) AS before,
try_cast(split_part(c_name, '#', 2) AS BIGINT) AS num,
regexp_replace(c_name, '0+', '_', 'g') AS packed
FROM customer WHERE regexp_matches(c_name, '[13579]$')"""


QUERIES["bgp_hash_funcs"] = q_bgp_hash_funcs
ORACLES["bgp_hash_funcs"] = SQL_BGP_HASH_FUNCS
