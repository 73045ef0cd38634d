"""Text-statistics operators against tiny hand-computed oracles."""

from __future__ import annotations

from re_shacl_spark.ops import textstats as TS


def _docs(spark, texts):
    return spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])


def test_tokens_and_quality(spark):
    d = _docs(spark, ["Hello, world! The answer is 42."])
    t = TS.tokens(d).collect()[0]
    assert t.ws_tokens == 6
    # Hello , world ! The answer is 42 .
    assert t.bpe_tokens == 9
    q = TS.quality_score(d).collect()[0]
    assert q.n_words == 6 and q.n_stopwords == 2 and q.n_punct == 3
    assert 0.0 <= q.quality <= 1.0


def test_lang_id(spark):
    d = spark.createDataFrame(
        [
            (0, "the cat and the dog is in a house"),
            (1, "der hund und die katze ist ein tier zu hause"),
            (2, "el perro y la casa que es un gato en madrid"),
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r.pred_lang for r in TS.lang_id(d).collect()}
    assert got == {0: "en", 1: "de", 2: "es"}


def test_fingerprint_normalization(spark):
    d = _docs(spark, ["A  B\tC", "a b c"])
    got = TS.fingerprint(d).collect()
    assert got[0].fp_md5 == got[1].fp_md5
    assert got[0].fp64 == got[1].fp64


def test_repetition_stats_hand_oracle(spark):
    d = _docs(spark, [
        "a b a b a b",        # 2-grams: [a b, b a, a b, b a, a b] -> top 'a b' x3
        "u v w x y",          # all distinct
        "",                   # degenerate
        "solo",               # < 2 words
    ])
    rows = {r.doc_id: r for r in TS.repetition_stats(d).collect()}
    r0 = rows[0]
    assert r0.n_2grams == 5 and r0.top_2gram == "a b" and r0.top_2gram_count == 3
    # 5 grams, 2 distinct -> dup frac 0.6; chars = len('a b a b a b') = 11
    assert abs(r0.dup_2gram_frac - 0.6) < 1e-9
    assert abs(r0.top_2gram_char_frac - round(3 * 3 / 11, 6)) < 1e-9
    r1 = rows[1]
    assert r1.n_2grams == 4 and r1.dup_2gram_frac == 0.0 and r1.dup_3gram_frac == 0.0
    # distinct grams: run-scan keeps the lexicographically smallest on ties
    assert r1.top_2gram == "u v" and r1.top_2gram_count == 1
    for i in (2, 3):
        r = rows[i]
        assert r.n_2grams == 0 and r.top_2gram == "" and r.top_2gram_count == 0
        assert r.dup_2gram_frac == 0.0 and r.top_2gram_char_frac == 0.0


def test_pii_scrub_counts_and_redaction(spark):
    d = _docs(spark, [
        "mail me at jane.doe+x@sub.example.org or call +4915112345678 ok",
        "two mails a@b.io c.d@e-f.co and none else",
        "plus sign + but no number, short +123456 stays",
        "",
    ])
    rows = {r.doc_id: r for r in TS.pii_scrub(d).collect()}
    assert rows[0].n_emails == 1 and rows[0].n_phones == 1
    assert rows[0].text_clean == "mail me at <EMAIL> or call <PHONE> ok"
    assert rows[1].n_emails == 2 and rows[1].n_phones == 0
    assert rows[1].text_clean == "two mails <EMAIL> <EMAIL> and none else"
    # +123456 is only 6 digits — below the E.164 floor, not redacted
    assert rows[2].n_emails == 0 and rows[2].n_phones == 0
    assert rows[3].text_clean == ""


# ---------------------------------------------------------------------------
# lm_transition_score
# ---------------------------------------------------------------------------

def test_lm_score_hand_computed(spark):
    from re_shacl_spark.ops.textstats import lm_transition_score

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "a c"), (4, "x")],
        "doc_id long, text string",
    )
    # corpus bigrams: (a,b)x3, (b,a)x1, (a,c)x1 -> c1(a)=4, c1(b)=1
    # ppm: (a,b)=750000, (b,a)=1000000, (a,c)=250000
    out = {r.doc_id: (r.n_bigrams, r.lm_score_ppm)
           for r in lm_transition_score(docs).collect()}
    # doc 1: [ab, ba, ab] -> (750000+1000000+750000) div 3 = 833333
    # doc 4: single token -> no row
    assert out == {1: (3, 833_333), 2: (1, 750_000), 3: (1, 250_000)}


def test_lm_score_bit_identical_across_parallelism(spark):
    from re_shacl_spark.ops.textstats import lm_transition_score

    rows = [(i, " ".join(f"t{(i * j + j) % 13}" for j in range(30))) for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(map(tuple, lm_transition_score(docs.repartition(1)).collect()))
    b = sorted(map(tuple, lm_transition_score(docs.repartition(11)).collect()))
    assert a == b and all(isinstance(x[2], int) for x in a)


def test_tfidf_topk_hand_computed(spark):
    """3-doc corpus with known frequencies: 'rare' appears in one doc (idf
    ln 3), 'common' in all three (idf 0 → never outranks anything positive),
    ties broken by term string."""
    import math

    from re_shacl_spark.ops.textstats import tfidf_topk

    docs = spark.createDataFrame(
        [
            (1, "common rare rare"),
            (2, "common alpha beta"),
            (3, "common alpha"),
        ],
        "doc_id long, text string",
    )
    out = {(r.doc_id, r.term): r for r in tfidf_topk(docs, k=2).collect()}
    # doc 1: rare tf=2 df=1 → 2·ln3 ≈ 2.197225; common tf=1 df=3 → 0.0
    assert out[(1, "rare")].tfidf == round(2 * math.log(3), 6)
    assert out[(1, "common")].tfidf == 0.0
    # doc 2 k=2 keeps alpha (ln 1.5) and beta (ln 3); beta scores higher
    assert out[(2, "beta")].tfidf == round(math.log(3), 6)
    assert out[(2, "alpha")].tfidf == round(math.log(1.5), 6)
    assert (2, "common") not in out  # rank 3 cut by k=2
    assert out[(3, "alpha")].dfreq == 2 and out[(3, "alpha")].tf == 1


def test_tfidf_topk_jvm_log_same_ranking(spark):
    """The production jvm_log=True arm (F.log, no driver materialization)
    ranks identically; scores agree to float tolerance (1-ulp libm drift is
    the whole reason the oracle arm exists)."""
    from re_shacl_spark.ops.textstats import tfidf_topk

    docs = spark.createDataFrame(
        [(i, f"w{i % 7} w{i % 3} shared tail{i}") for i in range(40)],
        "doc_id long, text string",
    )
    a = {(r.doc_id, r.term): r.tfidf for r in tfidf_topk(docs, k=3).collect()}
    b = {
        (r.doc_id, r.term): r.tfidf
        for r in tfidf_topk(docs, k=3, jvm_log=True).collect()
    }
    assert set(a) == set(b)
    assert all(abs(a[k] - b[k]) < 1e-9 for k in a)
