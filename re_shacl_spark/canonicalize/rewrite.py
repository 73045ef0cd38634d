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
    member, rep = f"_{col}_member", f"_{col}_rep"
    m = rep_map.select(F.col("member").alias(member), F.col("rep").alias(rep))
    if broadcast:
        m = F.broadcast(m)
    cond = df[col] == m[member]
    if col == "o":
        cond = cond & ~df["is_lit"]  # literal objects keep their lexical form
    out = df.join(m, cond, "left")
    return out.withColumn(col, F.coalesce(rep, col)).drop(member, rep)


def canonicalize_triples(triples: DataFrame, rep_map: DataFrame, broadcast: bool) -> DataFrame:
    """Rewrite s, o and p through rep_map[member, rep]; dedup the collapsed set.

    ``broadcast`` ships the map to every task; callers on the fuse path decide
    it from the checkpointed map's row count against
    ``BROADCAST_REP_MAP_MAX_ROWS``.  Otherwise Catalyst/AQE plans the join
    (sort-merge).  Literal objects are never rewritten.
    """
    out = triples
    for c in ("s", "o", "p"):
        out = _rewrite_col(out, c, rep_map, broadcast)
    return drop_degenerate_axioms(out).dropDuplicates(["s", "p", "o"])


def apply_static_map(triples: DataFrame, pairs: list[tuple[str, str]]) -> DataFrame:
    """Rewrite through a small driver-side map (class/property equivalence reps
    from the TBox) — always broadcast."""
    if not pairs:
        return triples
    m = local_frame(triples.sparkSession, pairs, ["member", "rep"])
    return canonicalize_triples(triples, m, broadcast=True)
