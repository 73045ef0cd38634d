"""Dedup / similarity / text-stats operators against tiny hand-computed oracles."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from re_shacl_spark.ops import dedup as D
from re_shacl_spark.ops import similarity as S
from re_shacl_spark.ops import textstats as TS


def _docs(spark, texts):
    return spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])


def test_exact_dedup_groups(spark):
    d = _docs(spark, ["a b c", "a  b   c", "x y", "different one", "A B C"])
    got = {(r.keep_id, r.dup_id) for r in D.exact_dedup(d).collect()}
    # whitespace- and case-normalized: docs 0,1,4 collapse onto min id 0
    assert got == {(0, 1), (0, 4)}


def test_minhash_lsh_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    d = _docs(spark, [base, base + " extra", "totally unrelated text about spark sql engines", base])
    pairs = {(r.id_a, r.id_b): r.matching_hashes for r in D.minhash_lsh_candidates(d).collect()}
    assert (0, 3) in pairs and pairs[(0, 3)] == 8  # identical docs agree on all hashes
    assert all(not ((a, b) == (0, 2) or (a, b) == (2, 3)) for a, b in pairs)


def test_simhash_hamming(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta"
    d = _docs(spark, [base, base, "qq ww ee rr tt yy uu ii"])
    sigs = {r.doc_id: r.simhash for r in D.simhash(d).collect()}
    assert sigs[0] == sigs[1]
    dups = {(r.id_a, r.id_b) for r in D.simhash_near_dups(d, max_hamming=3).collect()}
    assert (0, 1) in dups and (0, 2) not in dups


def test_ngram_jaccard_exact_value(spark):
    # doc0: shingles {a b c, b c d}; doc1: {a b c}; J = 1/2
    d = _docs(spark, ["a b c d", "a b c"])
    got = {(r.id_a, r.id_b): r.jaccard
           for r in D.ngram_jaccard_pairs(d, threshold=0.4, candidates="index").collect()}
    assert got == {(0, 1): 0.5}


def test_ngram_jaccard_max_df_prunes(spark):
    d = _docs(spark, ["s t o p" for _ in range(5)] + ["u v w x"])
    # every shingle of the first five appears in 5 docs; cap at 2 removes them
    got = D.ngram_jaccard_pairs(d, threshold=0.1, candidates="index", max_df=2).collect()
    assert got == []


def test_ngram_jaccard_default_is_lsh_bounded(spark):
    # VERDICT r3 #4 regression: the DEFAULT path must survive a corpus where
    # EVERY doc shares one hot shingle — the inverted index would emit n²
    # join rows on it; the LSH path's joins are band-signature equi-joins.
    base = "the quick brown fox jumps over the lazy dog again and again today"
    hot = [f"w{i} x{i} common hot shingle y{i} z{i}" for i in range(40)]
    d = _docs(spark, [base, base + " tail", base] + hot)
    got = {(r.id_a, r.id_b): r.jaccard for r in D.ngram_jaccard_pairs(d, threshold=0.8).collect()}
    assert (0, 2) in got and got[(0, 2)] == 1.0   # identical pair found, exact J
    # the hot shingle alone (J = 1/6 per hot pair) must not flood the output
    assert all(j >= 0.8 for j in got.values())
    # and the exact Jaccard the default reports equals the index path's value
    idx = {(r.id_a, r.id_b): r.jaccard
           for r in D.ngram_jaccard_pairs(d, threshold=0.8, candidates="index", max_df=None).collect()}
    assert got == idx  # at J≥0.8 the 8/4 banding has ~98%+ recall; these are exact dups
    with pytest.raises(ValueError):
        D.ngram_jaccard_pairs(d, candidates="nope")


def test_exact_dedup_hot_group_pair_rows(spark):
    # VERDICT r3 #5 regression: a hot duplicate group comes back as PAIR ROWS
    # (keep_id, dup_id), never as one collected id array.
    n = 500
    d = _docs(spark, ["same text every time"] * n + ["unique snowflake"])
    rows = D.exact_dedup(d).collect()
    assert len(rows) == n - 1
    assert {r.keep_id for r in rows} == {0}
    assert {r.dup_id for r in rows} == set(range(1, n))


def test_embedding_near_dups_cosine(spark):
    rows = [
        (0, [1.0, 0.0]),
        (1, [2.0, 0.0]),        # cosine 1.0 with 0
        (2, [1.0, 1.0]),        # cosine √2/2 ≈ .7071 with 0
        (3, [-1.0, 0.0]),       # cosine -1 with 0
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    # default (bucketed LSH) path: identical-direction pairs always collide
    got = {(r.id_a, r.id_b): r.cosine for r in D.embedding_near_dups(emb, threshold=0.9).collect()}
    assert got == {(0, 1): 1.0}
    # low-threshold (45° angle) regime is the documented exact-baseline territory:
    # bucket recall decays there, so the exact method is the correct tool
    got2 = {(r.id_a, r.id_b) for r in D.embedding_near_dups(emb, threshold=0.7, method="exact").collect()}
    assert got2 == {(0, 1), (0, 2), (1, 2)}


def test_embedding_near_dups_lsh_matches_exact_in_near_dup_regime(spark):
    # planted near-dups (tiny perturbations, cosine ≈ 0.999) among decoys:
    # the default bucketed path must reproduce the exact answer at τ=0.95
    import random

    rnd = random.Random(11)
    base = [[rnd.uniform(-1, 1) for _ in range(16)] for _ in range(30)]
    rows = [(i, v) for i, v in enumerate(base)]
    rows += [(100 + i, [x + 0.003 * ((i + j) % 5 - 2) for j, x in enumerate(v)])
             for i, v in enumerate(base[:10])]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    exact = {(r.id_a, r.id_b) for r in
             D.embedding_near_dups(emb, threshold=0.95, method="exact").collect()}
    lsh = {(r.id_a, r.id_b) for r in D.embedding_near_dups(emb, threshold=0.95).collect()}
    assert exact == lsh and len(exact) == 10


def test_brute_force_topk_ordering(spark):
    rows = [(i, [math.cos(i / 10.0), math.sin(i / 10.0)]) for i in range(20)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    got = S.brute_force_topk(emb, q, k=3).orderBy("rank").collect()
    # nearest angles to 0 are 1, 2, 3 in that order
    assert [r.nn_id for r in got] == [1, 2, 3]
    assert got[0].cosine > got[1].cosine > got[2].cosine


def test_lsh_topk_recall_vs_bruteforce(spark):
    import random

    rnd = random.Random(3)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(16)]) for i in range(200)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = S.brute_force_topk(emb, q, k=5)
    approx = S.lsh_topk(emb, q, dim=16, k=5, n_tables=8, n_bits=4)
    e = {(r.q_id, r.nn_id) for r in exact.collect()}
    a = {(r.q_id, r.nn_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.4  # bucketed ANN: partial recall by design, never zero


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


def test_simhash_near_dups_complete_vs_bruteforce(spark):
    """The banding must find EVERY pair with hamming <= max_hamming (pigeonhole
    completeness) — verified against a driver-side brute force."""
    import itertools, random

    rnd = random.Random(5)
    vocab = [f"w{i}" for i in range(40)]
    texts = []
    for i in range(50):
        base = rnd.sample(vocab, 12)
        texts.append(" ".join(base))
        if i % 3 == 0:  # near variant: swap one word
            v = list(base)
            v[0] = rnd.choice(vocab)
            texts.append(" ".join(v))
    d = _docs(spark, texts)
    sigs = {r.doc_id: r.simhash for r in D.simhash(d).collect()}
    want = set()
    for a, b in itertools.combinations(sorted(sigs), 2):
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3:
            want.add((a, b))
    got = {(r.id_a, r.id_b) for r in D.simhash_near_dups(d, max_hamming=3).collect()}
    assert got == want and len(want) > 0


def test_ivf_topk_recall_vs_bruteforce(spark):
    import random

    rnd = random.Random(7)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(16)]) for i in range(200)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = S.brute_force_topk(emb, q, k=5)
    approx = S.ivf_topk(emb, q, n_centroids=8, n_probe=3, k=5)
    e = {(r.q_id, r.nn_id) for r in exact.collect()}
    a = {(r.q_id, r.nn_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.4  # probes 3/8 cells; partial recall by design, never zero
    # every vector lives in exactly one cell; probing ALL cells = exact
    full = S.ivf_topk(emb, q, n_centroids=8, n_probe=8, k=5)
    f = {(r.q_id, r.nn_id) for r in full.collect()}
    assert f == e


def test_lsh_params_scale_with_threshold():
    # higher thresholds need more rows per band (sharper S-curve)
    k_hi, b_hi = D.lsh_params_for(0.9)
    k_lo, b_lo = D.lsh_params_for(0.3)
    assert (1.0 / b_hi) ** (1.0 / (k_hi // b_hi)) > 0.7
    assert (1.0 / b_lo) ** (1.0 / (k_lo // b_lo)) < 0.55
    # derived hash params extend the committed 8 deterministically
    p32 = D.minhash_params(32)
    assert p32[:8] == D.MINHASH_PARAMS and len(set(p32)) == 32
    # committed-k behavior unchanged (oracle compatibility)
    assert D.minhash_params(8) == D.MINHASH_PARAMS


def test_minhash_lsh_with_scaled_params(spark):
    # the operator accepts data-driven (k, bands) end-to-end
    base = "the quick brown fox jumps over the lazy dog again and again today"
    d = _docs(spark, [base, base + " extra", "unrelated words entirely here", base])
    k, bands = D.lsh_params_for(0.5, k_max=24)
    pairs = {(r.id_a, r.id_b) for r in
             D.minhash_lsh_candidates(d, k=k, bands=bands).collect()}
    assert (0, 3) in pairs


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


def test_decontamination(spark):
    from re_shacl_spark.ops import dedup as D2

    docs = _docs(spark, [
        "the quick brown fox jumps over the lazy dog",   # quotes bench 5-gram
        "completely unrelated text about engines",
        "the quick brown fox appears here too",          # only a 4-gram prefix
    ])
    bench = spark.createDataFrame(
        [(100, "watch the quick brown fox jumps over everything")],
        ["doc_id", "text"])
    hits = {r.doc_id: r.n_hits for r in
            D2.contamination_hits(docs, bench, n=5).collect()}
    assert 0 in hits and hits[0] >= 1          # shares 'the quick brown fox jumps' + more
    assert 1 not in hits and 2 not in hits     # 4-gram prefix is NOT a 5-gram hit
    survivors = {r.doc_id for r in D2.decontaminate(docs, bench, n=5).collect()}
    assert survivors == {1, 2}
    # min_hits raises the bar
    all_kept = {r.doc_id for r in
                D2.decontaminate(docs, bench, n=5, min_hits=10).collect()}
    assert all_kept == {0, 1, 2}


def test_kmeans_centroids_deterministic_and_clustered(spark):
    import random

    rnd = random.Random(11)
    # two well-separated clusters in 8 dims
    rows = []
    for i in range(120):
        base = 5.0 if i % 2 else -5.0
        rows.append((i, [base + rnd.uniform(-0.5, 0.5) for _ in range(8)]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])

    # bit-identical centroids at different parallelism (the decimal-exact
    # update is partition-order-independent; float avg() would not be)
    c1 = S.kmeans_centroids(emb.repartition(1), k=2, iters=3)
    c13 = S.kmeans_centroids(emb.repartition(13), k=2, iters=3)
    assert c1 == c13

    # each trained centroid sits inside one cluster (|mean| ≈ 5 per dim)
    signs = {tuple(1 if x > 0 else -1 for x in v) for _, v in c1}
    assert signs == {(1,) * 8, (-1,) * 8}
    for _, v in c1:
        assert all(4.0 < abs(x) < 6.0 for x in v)

    # trained quantizer feeds ivf_topk; probing all cells is exact
    q = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = {(r.q_id, r.nn_id) for r in S.brute_force_topk(emb, q, k=5).collect()}
    full = {
        (r.q_id, r.nn_id)
        for r in S.ivf_topk(emb, q, n_probe=2, k=5, centroids=c1).collect()
    }
    assert full == exact

    # empty-cell retention: k=3 on 2 tight clusters leaves a cell empty or
    # converges; either way every centroid stays a finite 8-dim vector
    c3 = S.kmeans_centroids(emb, k=3, iters=2)
    assert all(len(v) == 8 and all(isinstance(x, float) for x in v) for _, v in c3)


def test_quantize_embeddings_roundtrip_and_edges(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, -0.5, 0.25, 0.0]),
            (1, [0.0, 0.0, 0.0, 0.0]),   # zero vector: scale 1, stays exact
            (2, [-2.0, 2.0, 1.0, -1.0]),
        ],
        ["vec_id", "embedding"],
    )
    rows = {r.id: r for r in S.quantize_embeddings(emb).collect()}
    # max|x| maps to ±127 exactly; floor(x/scale + 0.5) sends the -63.5
    # half-point UP to -63 (the floor+0.5 rule, identical in both engines)
    assert rows[0].q == [127, -63, 32, 0]
    assert rows[1].q == [0, 0, 0, 0] and rows[1].scale == 1.0
    assert rows[2].q == [-127, 127, 64, -63]  # ±63.5 half-points both go UP
    for r in rows.values():
        assert r.max_abs_err <= r.scale / 2 + 1e-12
        assert all(-127 <= q <= 127 for q in r.q)


def test_quantize_embeddings_deterministic_across_parallelism(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    one = S.quantize_embeddings(emb.coalesce(1)).orderBy("id").collect()
    many = S.quantize_embeddings(emb.repartition(32)).orderBy("id").collect()
    assert one == many


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


def test_lsh_bucket_parity_duckdb(spark):
    """The sim_lsh_topk oracle embeds the hyperplanes as SQL literals and
    computes buckets with list_dot_product — its sign decisions must agree
    with the Spark side's sequential-fold dot on every (vector, table) pair,
    or a knife-edge dot would flip a bucket and shift the candidate set."""
    import duckdb

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    sig = S.lsh_signatures(emb, dim=64, n_tables=4, n_bits=8)
    spark_sig = {(r.id, r.table): r.bucket for r in sig.collect()}

    from re_shacl_spark.kgbench import _sql_lsh_bucket

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW embeddings AS SELECT * FROM '/root/testdata/sf0.001/embeddings.parquet'"
    )
    for t in range(4):
        rows = con.sql(
            f"SELECT vec_id, {_sql_lsh_bucket(t)} AS bucket"
            " FROM (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings)"
        ).fetchall()
        for vid, bucket in rows:
            assert spark_sig[(vid, t)] == bucket, (vid, t)


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
