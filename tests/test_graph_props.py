"""Property-based cross-check for the round-4 bigram LM score, verified
against a naive pure-Python reference over randomized small inputs (the same
role the DuckDB oracles play at sf scale, but with hypothesis-chosen shapes).  Example counts
are kept low — every example runs Spark jobs.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SETTINGS = settings(
    max_examples=5,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

SCALE = 1_000_000

texts_strat = st.lists(
    st.lists(st.sampled_from("abcde"), min_size=0, max_size=12).map(" ".join),
    min_size=1, max_size=12,
)


def _naive_lm_score(texts):
    c2, c1 = {}, {}
    occ = []
    for i, text in enumerate(texts):
        words = text.lower().split()
        for a, b in zip(words, words[1:]):
            c2[(a, b)] = c2.get((a, b), 0) + 1
            c1[a] = c1.get(a, 0) + 1
            occ.append((i, a, b))
    out = {}
    for i, _ in enumerate(texts):
        ppms = [c2[(a, b)] * SCALE // c1[a] for d, a, b in occ if d == i]
        if ppms:
            out[i] = (len(ppms), sum(ppms) // len(ppms))
    return out


@SETTINGS
@given(texts=texts_strat)
def test_lm_score_matches_naive_reference(spark, texts):
    from re_shacl_spark.ops.textstats import lm_transition_score

    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {r.doc_id: (r.n_bigrams, r.lm_score_ppm)
           for r in lm_transition_score(docs).collect()}
    assert got == _naive_lm_score(texts)
