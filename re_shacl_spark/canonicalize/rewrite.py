"""Representative-ID rewriting: move every triple onto canonical node/predicate ids.

Replaces the reference's destructive in-place edge moves
(/root/reference/ReSHACL/re_shacl.py:569-606: remove + re-add per merged node;
src/core/merging/property_merging.py:70-109 for predicates) with pure
left-join + coalesce rewrites — three column rewrites (s, p, o), one shuffle
each when the map is large, zero when it broadcasts.

The predicate rewrite through the *node* rep map subsumes owl:sameAs edges
between predicates (the reference handles those inside merge_same_property,
re_shacl.py:511-554).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from re_shacl_spark.model.triples import local_frame, vocab

# rows above which the rep map is NOT broadcast: ~2M (member, rep) IRI pairs is
# roughly 200-400 MB serialized — at web scale a sameAs closure can reach
# hundreds of millions of members, which would OOM the driver/executors if
# force-broadcast (SURVEY §2.3 J13 names both regimes).  Above the gate the
# rewrite falls back to Catalyst's shuffle join (sort-merge / AQE).
BROADCAST_REP_MAP_MAX_ROWS = 2_000_000

# predicates whose reflexive form is pure bookkeeping after an equivalence
# collapse: (rep, sameAs, rep) etc. — dropped like the reference drops merged
# nodes' residue (re_shacl.py:533-541 removes while rewriting)
_DEGENERATE_PREDS = [
    vocab.SAMEAS,
    vocab.EQCLASS,
    vocab.EQPROP,
    vocab.SUBCLASS,
    vocab.SUBPROP,
]


def drop_degenerate_axioms(df: DataFrame) -> DataFrame:
    return df.filter(~(F.col("p").isin(_DEGENERATE_PREDS) & (F.col("s") == F.col("o"))))


def _rewrite_col(df: DataFrame, col: str, rep_map: DataFrame, broadcast: bool) -> DataFrame:
    m = rep_map.select(
        F.col("member").alias(f"_{col}_member"), F.col("rep").alias(f"_{col}_rep")
    )
    if broadcast:
        m = F.broadcast(m)
    out = df.join(m, df[col] == m[f"_{col}_member"], "left")
    return out.withColumn(col, F.coalesce(f"_{col}_rep", col)).drop(
        f"_{col}_member", f"_{col}_rep"
    )


def canonicalize_triples(
    triples: DataFrame,
    rep_map: DataFrame,
    broadcast: bool | None = None,
    rewrite_predicates: bool = True,
) -> DataFrame:
    """Rewrite s, o (and p) through rep_map[member, rep]; dedup the collapsed set.

    broadcast=None auto-selects by SIZE-GATE: broadcast iff the map has at most
    ``BROADCAST_REP_MAP_MAX_ROWS`` rows (cheap limit+count probe — the map is
    checkpointed by every caller on the fuse path), else leave the join to
    Catalyst/AQE (sort-merge).  Literal objects are never rewritten.
    """
    if broadcast is None:
        n = rep_map.limit(BROADCAST_REP_MAP_MAX_ROWS + 1).count()
        broadcast = n <= BROADCAST_REP_MAP_MAX_ROWS
    out = _rewrite_col(triples, "s", rep_map, broadcast)
    # object rewrite only for IRI objects — literals keep their lexical form
    m = rep_map.select(F.col("member").alias("_o_member"), F.col("rep").alias("_o_rep"))
    if broadcast:
        m = F.broadcast(m)
    out = out.join(m, (out["o"] == m["_o_member"]) & (~out["is_lit"]), "left")
    out = out.withColumn("o", F.coalesce("_o_rep", "o")).drop("_o_member", "_o_rep")
    if rewrite_predicates:
        out = _rewrite_col(out, "p", rep_map, broadcast)
    return drop_degenerate_axioms(out).dropDuplicates(["s", "p", "o"])


def apply_static_map(
    triples: DataFrame,
    pairs: list[tuple[str, str]],
    cols: tuple[str, ...] = ("s", "o", "p"),
) -> DataFrame:
    """Rewrite through a small driver-side map (class/property equivalence reps
    from the TBox) — always broadcast."""
    if not pairs:
        return triples
    spark = triples.sparkSession
    m = local_frame(spark, pairs, ["member", "rep"])
    out = triples
    for c in cols:
        if c == "o":
            mm = F.broadcast(m.select(F.col("member").alias("_om"), F.col("rep").alias("_or")))
            out = out.join(mm, (out["o"] == mm["_om"]) & (~out["is_lit"]), "left")
            out = out.withColumn("o", F.coalesce("_or", "o")).drop("_om", "_or")
        else:
            out = _rewrite_col(out, c, m, broadcast=True)
    return drop_degenerate_axioms(out).dropDuplicates(["s", "p", "o"])
