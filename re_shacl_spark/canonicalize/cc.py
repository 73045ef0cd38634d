"""owl:sameAs closure as distributed connected components.

Reimplements the semantics of the reference's destructive per-node merge loop
(/root/reference/ReSHACL/re_shacl.py:569-606 ``merge_same_focus``,
src/core/merging/focus_node_merging.py:5-64) as the alternating
large-star / small-star algorithm (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14) — O(log n) rounds, skew-resistant by
construction, with optional salted repartitioning on the per-round join to
absorb hub-entity components (one entity in 30% of edges is the named skew
case).

Representative election is deterministic: the component minimum (lexicographic
IRI), replacing the reference's iteration-order-dependent choice
(re_shacl.py:694,710; see SURVEY §2.6).

Each round ``localCheckpoint(eager=True)``s the edge frame: Catalyst cannot
express loops, so lineage must be truncated or the plan grows without bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from re_shacl_spark.model.triples import local_frame

MAX_ROUNDS = 60  # 2^60 nodes — pure safety rail; converges in O(log n) rounds


def _fingerprint(edges: DataFrame) -> tuple[int, int, int]:
    """Cheap set-equality proxy: count + two independent hash sums.

    Avoids an exceptAll (two extra shuffles) per convergence probe; collision
    probability over 64-bit sums is negligible for a convergence check.
    """
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64("u", "v")).alias("h1"),
        F.bit_xor(F.xxhash64("v", "u", F.lit(7))).alias("h2"),
    ).collect()[0]
    return (row.n or 0, row.h1 or 0, row.h2 or 0)


def _salted_min_join(edges: DataFrame, mins: DataFrame, n_salts: int) -> DataFrame:
    """edges(u,v) ⋈ mins(u,m) on u, salted: hub nodes' edge rows split across
    ``n_salts`` partitions, the (small-per-key) mins side replicated per salt."""
    if n_salts <= 1:
        return edges.join(mins, "u")
    salts = F.array(*[F.lit(i) for i in range(n_salts)])
    e = edges.withColumn("_salt", F.pmod(F.xxhash64("v"), F.lit(n_salts)))
    m = mins.withColumn("_salt", F.explode(salts))
    return e.join(m, ["u", "_salt"]).drop("_salt")


def _large_star(edges: DataFrame, n_salts: int) -> DataFrame:
    """For each u: m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u), v > u."""
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("_mn"))  # partial agg absorbs skew
    mins = mins.select("u", F.least("u", "_mn").alias("m"))
    out = (
        _salted_min_join(sym, mins, n_salts)
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    return out.distinct()


def _small_star(edges: DataFrame, n_salts: int) -> DataFrame:
    """Edges oriented u > v.  For each u: m = min(N(u)); emit (u, m) and
    (v, m) for v ∈ N(u) \\ {m}."""
    e = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    mins = e.groupBy("u").agg(F.min("v").alias("m"))
    moved = (
        _salted_min_join(e, mins, n_salts)
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    root_edges = mins.select(F.col("u"), F.col("m").alias("v"))
    return moved.union(root_edges).distinct()


def _driver_union_find(rows: list) -> list[tuple[str, str]]:
    """Min-rep union-find on the driver; same output contract as the
    distributed path (one (member, rep) row per non-representative)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        # iterative walk + second-pass path compression: chain-shaped
        # components (union-by-min has no rank) would blow Python's ~1000
        # recursion limit on a recursive find
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in rows:
        ru, rv = find(u), find(v)
        if ru == rv:
            continue
        lo, hi = (ru, rv) if ru < rv else (rv, ru)
        parent[hi] = lo
    return sorted((x, find(x)) for x in parent if find(x) != x)


def connected_components(
    edges: DataFrame,
    n_salts: int = 8,
    max_rounds: int = MAX_ROUNDS,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """edges: DataFrame with two string columns (any names) = undirected pairs.

    Returns rep_map DataFrame[member string, rep string] with rep = component
    min, one row per non-representative member (identity rows omitted —
    consumers rewrite via left-join + coalesce).

    Edge sets at or below ``driver_threshold`` (after dedup) run a driver-side
    union-find instead of the iterative star rounds: entity-resolution edge
    lists are often tiny relative to the corpus (alias-level sameAs links),
    and each distributed star round costs two shuffles + a convergence probe
    regardless of size.  Above the threshold, the O(log n)-round salted
    large-star/small-star path takes over (the 100 TB path).
    """
    from re_shacl_spark.session import ensure_fixpoint_confs

    spark = edges.sparkSession
    ensure_fixpoint_confs(spark)
    a, b = edges.columns[:2]
    e = (
        edges.select(F.col(a).alias("u"), F.col(b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )

    if driver_threshold > 0:
        # probe BEFORE checkpointing: the driver path (the common
        # entity-resolution case) then costs one job instead of two; only the
        # distributed path pays the materialization it actually needs for its
        # iterative rounds
        head = e.limit(driver_threshold + 1).collect()
        if len(head) <= driver_threshold:
            pairs = _driver_union_find([(r.u, r.v) for r in head])
            return local_frame(spark, pairs, ["member", "rep"])

    e = e.localCheckpoint(eager=True)

    prev = None
    for _ in range(max_rounds):
        e2 = _small_star(_large_star(e, n_salts), n_salts).localCheckpoint(eager=True)
        fp = _fingerprint(e2)
        e = e2
        if fp == prev:
            break
        prev = fp
    return e.select(F.col("u").alias("member"), F.col("v").alias("rep"))
