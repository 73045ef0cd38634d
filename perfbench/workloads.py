"""The benchmark's workloads.

Each workload generates its inputs from the seed in ``prepare`` (set-up),
writes them to parquet and hands the program only the re-read files.  One
``iterate`` call is one timed unit of work, from input to committed result;
``check`` compares its outputs with expected row counts and an
order-insensitive content hash (sum of ``xxhash64``), outside the timed
window.

crawl_build      ``job.construct_kg`` over a page table: the UDF front end
                 (extract.html / mentions / emit), stage checkpoint writes,
                 full fusion with a small sameAs graph (the union-find path
                 of ``connected_components``) and SHACL validation.  The seed changes every page URL and
                 so every page IRI, but not which entities a page mentions:
                 row counts and the hash with page IRIs masked are fixed per
                 page count and pinned below.
crawl_increment  ``pipeline.fuse_delta`` + ``validate.incremental.validate_delta``
                 folding a 150-triple ABox delta into a closed ~104k-triple
                 base and its report (both built in set-up).  The graph is a seeded
                 permutation ``knows`` graph whose closure and report have a
                 closed form, so the expected frames are generated directly
                 (they equal ``fuse`` + ``validate`` of the same ABox, checked
                 row for row on two seeds when the workload was written).
"""

from __future__ import annotations

import functools
import math
import os
import random
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from re_shacl_spark import corpus, job, pipeline
from re_shacl_spark.checkpoint import CheckpointStore
from re_shacl_spark.model.triples import O_LIT_TYPE, vocab
from re_shacl_spark.reasoning.tbox import build_tbox_index
from re_shacl_spark.validate import incremental
from re_shacl_spark.validate.engine import ValidationReport
from re_shacl_spark.validate.shapes import NodeShape, PropertyConstraint

from perfbench.trace import affected_ratio


def digest(df: DataFrame, cols: list) -> tuple[int, int]:
    """(row count, sum of xxhash64 over ``cols``) in one job."""
    row = df.agg(
        F.count(F.lit(1)),
        F.coalesce(F.sum(F.xxhash64(*cols).cast("decimal(38,0)")), F.lit(0)),
    ).first()
    return int(row[0]), int(row[1])


TRIPLE_COLS = ["s", "p", "o", "is_lit"]
REPORT_COLS = ["focus", "shape", "path", "constraint", "value"]


class CrawlBuild:
    name = "crawl_build"
    pages = 20000
    body_repeat = 8
    PAGE_IRI = "http://kg.example.org/page/"
    # (rows, hash with page IRIs masked) per output, for ``pages`` pages
    # at ``body_repeat``; independent of the seed
    EXPECTED = {
        "fused": (51916, 97366325853805865741771),
        "conformant": (34008, 83986590609583383054885),
        "violations": (4477, 12212245832992418570049),
    }

    def __init__(self, spark: SparkSession, work: str, seed: int, tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.input_rows = self.pages

    def prepare(self) -> None:
        path = os.path.join(self.work, "pages")
        corpus.generate_pages(
            self.spark, self.pages, seed=self.seed, body_repeat=self.body_repeat
        ).write.parquet(path)
        self.page_table = self.spark.read.parquet(path)
        self.aliases = corpus.alias_rows()

    def iterate(self, i: int):
        store = CheckpointStore(self.spark, os.path.join(self.work, f"store-{i}"))
        return job.construct_kg(self.spark, self.page_table, self.aliases, store=store)

    def _masked(self, col: str):
        return F.when(F.col(col).startswith(self.PAGE_IRI), F.lit(self.PAGE_IRI)).otherwise(
            F.col(col)
        )

    def check(self, res) -> dict[str, object]:
        """Mismatches by output name (empty when every output is right)."""
        triples = [self._masked("s"), "p", "o", "is_lit"]
        report = [self._masked("focus"), "shape", "path", "constraint", "value"]
        got = {
            "fused": digest(res.triples, triples),
            "conformant": digest(res.conformant, triples),
            "violations": digest(res.violations, report),
        }
        return {k: {"got": v, "want": self.EXPECTED[k]} for k, v in got.items() if v != self.EXPECTED[k]}

    def cleanup(self, i: int) -> None:
        shutil.rmtree(os.path.join(self.work, f"store-{i}"), ignore_errors=True)


# -- crawl_increment --------------------------------------------------------------
NS = "http://kg.example.org/"
PERSON = NS + "person/"
ALIAS = NS + "alias/"
KNOWS = NS + "ns#knows"
KNOWN_BY = NS + "ns#knownBy"
AGE = NS + "ns#age"
CLS_P, CLS_Q, CLS_R = NS + "class/P", NS + "class/Q", NS + "class/R"
SHAPE = NS + "shape/Person"
XSD_INT = vocab.XSD + "integer"
XSD_STRING = vocab.XSD + "string"
TBOX = [
    (KNOWS, vocab.DOMAIN, CLS_P),
    (KNOWS, vocab.RANGE, CLS_P),
    (KNOWS, vocab.INVERSEOF, KNOWN_BY),
    (CLS_P, vocab.SUBCLASS, CLS_Q),
    (CLS_Q, vocab.SUBCLASS, CLS_R),
]
# the TBox closure fusion adds: scm-sco over P ⊑ Q ⊑ R
TBOX_CLOSED = TBOX + [(CLS_P, vocab.SUBCLASS, CLS_R)]


def increment_shapes() -> list[NodeShape]:
    return [
        NodeShape(
            SHAPE,
            target_classes=[CLS_R],
            properties=[
                PropertyConstraint(path=KNOWS, min_count=1, max_count=1, clazz=CLS_P),
                PropertyConstraint(path=KNOWN_BY, min_count=1),
                PropertyConstraint(path=AGE, max_count=1, datatype=XSD_INT),
            ],
        )
    ]


class CrawlIncrement:
    """Node i knows node f(i) = (a·i + b) mod n, a seeded permutation, so
    every node has one outgoing and one incoming edge.  The delta holds the
    edges of every 200th node plus a second edge for every 400th node (a
    maxCount violation).  Every 3rd node is typed P, every 5th has an age,
    every 35th age has the wrong datatype, and every 1000th node has an alias
    that becomes its representative (alias IRIs sort first).

    The closed base and its report are generated in their closed form, like
    a store a previous run committed, so set-up does not spend a full
    fusion and validation on them."""

    name = "crawl_increment"
    nodes = 20000

    def __init__(self, spark: SparkSession, work: str, seed: int, tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        rng = random.Random(seed)
        n = self.nodes
        self.a = next(x for x in iter(lambda: rng.randrange(2, n), None) if math.gcd(x, n) == 1)
        self.b = rng.randrange(n)
        self.a_inv = pow(self.a, -1, n)
        self.shapes = increment_shapes()
        # delta edges: every 200th node's edge and every 400th node's second
        self.input_rows = -(-n // 200) + -(-n // 400)

    # -- generation ---------------------------------------------------------------
    def _ids(self) -> DataFrame:
        return self.spark.range(self.nodes).withColumnRenamed("id", "i")

    def _f(self, i):
        return F.pmod(F.lit(self.a) * i + F.lit(self.b), F.lit(self.nodes))

    def _f_inv(self, i):
        return F.pmod(F.lit(self.a_inv) * (i - F.lit(self.b)), F.lit(self.nodes))

    @staticmethod
    def _node(i):
        return F.concat(F.lit(PERSON), i.cast("string"))

    @staticmethod
    def _alias(i):
        return F.concat(F.lit(ALIAS), i.cast("string"))

    def _rep(self, i):
        """Canonical IRI of node i after fusion."""
        return F.when(i % 1000 == 0, self._alias(i)).otherwise(self._node(i))

    @staticmethod
    def _triples(df: DataFrame, s, p, o, lit_dtype=None) -> DataFrame:
        o_lit = (
            F.struct(o.alias("lex"), lit_dtype.alias("dtype"), F.lit(None).cast("string").alias("lang"))
            if lit_dtype is not None
            else F.lit(None).cast(O_LIT_TYPE)
        )
        return df.select(
            s.alias("s"),
            (F.lit(p) if isinstance(p, str) else p).alias("p"),
            o.alias("o"),
            o_lit.alias("o_lit"),
            F.lit(lit_dtype is not None).alias("is_lit"),
            F.lit(None).cast("string").alias("src_url"),
        )

    def _edges(self, node, in_base: bool, in_delta: bool) -> DataFrame:
        """knows edges (i, s, o) with endpoints named by ``node``."""
        ids, i = self._ids(), F.col("i")
        first = ids.select("i", node(i).alias("s"), node(self._f(i)).alias("o"))
        second = ids.filter(i % 400 == 0).select(
            "i", node(i).alias("s"), node(self._f(i + 1)).alias("o")
        )
        if in_base and in_delta:
            return first.unionByName(second)
        if in_base:
            return first.filter(i % 200 != 0)
        return first.filter(i % 200 == 0).unionByName(second)

    def delta_abox(self) -> DataFrame:
        edges = self._edges(self._node, in_base=False, in_delta=True)
        return self._triples(edges, F.col("s"), KNOWS, F.col("o"))

    def closure(self, with_delta: bool) -> tuple[DataFrame, DataFrame, DataFrame]:
        """Closed form of the fused base (or base ∪ delta): triples, rep map
        and validation report."""
        ids, i = self._ids(), F.col("i")
        edges = self._edges(self._rep, in_base=True, in_delta=with_delta)
        # typed P (so Q, R): every knows subject or object, and every 3rd node;
        # in the base, a delta node whose in-edge is a delta edge too may have none
        has_out, has_in = i % 200 != 0, self._f_inv(i) % 200 != 0
        typed = ids if with_delta else ids.filter(has_out | has_in | (i % 3 == 0))
        age_dtype = F.when(i % 35 == 0, F.lit(XSD_STRING)).otherwise(F.lit(XSD_INT))
        tbox = self.spark.createDataFrame(TBOX_CLOSED, "s string, p string, o string")
        parts = [
            self._triples(edges, F.col("s"), KNOWS, F.col("o")),
            self._triples(edges, F.col("o"), KNOWN_BY, F.col("s")),
            self._triples(ids.filter(i % 5 == 0), self._rep(i), AGE, i.cast("string"), age_dtype),
            self._triples(ids.filter(i % 1000 == 0), self._alias(i), vocab.SAMEAS, self._node(i)),
            self._triples(tbox, F.col("s"), F.col("p"), F.col("o")),
        ] + [self._triples(typed, self._rep(i), vocab.TYPE, F.lit(c)) for c in (CLS_P, CLS_Q, CLS_R)]
        triples = functools.reduce(DataFrame.unionByName, parts)
        rep_map = ids.filter(i % 1000 == 0).select(
            self._node(i).alias("member"), self._alias(i).alias("rep")
        )

        def violations(df, path, constraint, value):
            return df.select(
                self._rep(i).alias("focus"), F.lit(SHAPE).alias("shape"), F.lit(path).alias("path"),
                F.lit(constraint).alias("constraint"), value.alias("value"),
            )

        bad_age = violations(typed.filter(i % 35 == 0), AGE, "value", i.cast("string"))
        if with_delta:
            report = violations(ids.filter(i % 400 == 0), KNOWS, "maxCount", F.lit("2"))
        else:
            report = violations(typed.filter(~has_out), KNOWS, "minCount", F.lit("0")).unionByName(
                violations(typed.filter(~has_in), KNOWN_BY, "minCount", F.lit("0"))
            )
        return triples, rep_map, report.unionByName(bad_age)

    # -- set-up, iteration, check -------------------------------------------------
    def _persist(self, df: DataFrame, name: str) -> DataFrame:
        path = os.path.join(self.work, name)
        df.write.parquet(path)
        return self.spark.read.parquet(path)

    def prepare(self) -> None:
        self.delta = self._persist(self.delta_abox(), "delta")
        triples, rep_map, report = self.closure(with_delta=False)
        self.base = pipeline.FusionResult(
            triples=self._persist(triples.repartition(self.spark.sparkContext.defaultParallelism, "s"),
                                  "base_triples"),
            rep_map=self._persist(rep_map, "base_rep_map"),
            tbox=build_tbox_index(TBOX),
            rounds=1,
            check_counts={},
        )
        report = self._persist(report, "base_report")
        self.base_report = ValidationReport(report, report.isEmpty(), len(self.shapes))
        triples, _, report = self.closure(with_delta=True)
        self.expected = {"fused": digest(triples, TRIPLE_COLS), "violations": digest(report, REPORT_COLS)}

    def iterate(self, i: int):
        with self.tracer.span("pipeline.fuse_delta"):
            inc = pipeline.fuse_delta(self.spark, self.base, self.delta)
        # the closed delta: fused rows the base did not hold
        old = self.base.triples
        cond = (
            (F.col("n.s") == F.col("o.s"))
            & (F.col("n.p") == F.col("o.p"))
            & (F.col("n.o") == F.col("o.o"))
            & F.col("n.o_lit").eqNullSafe(F.col("o.o_lit"))
        )
        closed_delta = inc.triples.alias("n").join(old.alias("o"), cond, "left_anti")
        with self.tracer.span("validate.incremental"):
            report = incremental.validate_delta(
                self.spark, old, closed_delta, self.shapes, self.base_report
            )
        self.tracer.defer(
            "validate.incremental",
            lambda: affected_ratio(self.spark, old, closed_delta, self.shapes),
        )
        return inc, report

    def check(self, out) -> dict[str, object]:
        inc, report = out
        got = {
            "fused": digest(inc.triples, TRIPLE_COLS),
            "violations": digest(report.violations, REPORT_COLS),
        }
        return {k: {"got": got[k], "want": self.expected[k]} for k in got if got[k] != self.expected[k]}

    def cleanup(self, i: int) -> None:
        pass


WORKLOADS = {w.name: w for w in (CrawlBuild, CrawlIncrement)}
