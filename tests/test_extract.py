"""Extraction golden bytes + the byte-identity invariant (BASELINE.json
input_hint: "byte-identical extracted text per url")."""

from __future__ import annotations

import hashlib

from re_shacl_spark import corpus
from re_shacl_spark.extract.html import extract_text, extract_text_bytes

GOLDEN = [
    (None, None),
    (b"", ""),
    (b"<html><body><p>hello world</p></body></html>", "hello world"),
    (b"<p>a</p><script>var x = '<p>no</p>';</script><p>b</p>", "a b"),
    (b"<style>p {color: red}</style>text", "text"),
    (b"<!-- hidden -->shown", "shown"),
    (b"a &amp; b &lt;c&gt; &quot;d&quot; &#39;e&#39; &nbsp;f", "a & b <c> \"d\" 'e' f"),
    (b"<div>unclosed <b>tag <broken", "unclosed tag"),
    ("café <b>résumé</b>".encode(), "café résumé"),
    (b"\xff\xfe<p>bad utf8</p>", "�� bad utf8"),
]


def test_golden_bytes():
    for html, want in GOLDEN:
        assert extract_text_bytes(html) == want, html


def test_extraction_byte_identity_across_parallelism(spark):
    """Same (url → text) map at 1 and 4 partitions — run-to-run and
    parallelism-level determinism, the north-rule invariant."""
    pages = corpus.generate_pages(spark, 300, seed=7)
    outs = []
    for n in (1, 4):
        df = extract_text(pages.repartition(n))
        rows = {r.url: r.text for r in df.select("url", "text").collect()}
        digest = hashlib.sha256(
            "\x00".join(f"{u}\x01{t}" for u, t in sorted(rows.items(), key=lambda kv: kv[0])).encode()
        ).hexdigest()
        outs.append((rows, digest))
    assert outs[0][1] == outs[1][1]
    # null html rows stay null; empty html rows become ""
    texts = outs[0][0]
    nulls = [u for u, t in texts.items() if t is None]
    empties = [u for u, t in texts.items() if t == ""]
    assert nulls and empties


def test_extract_fills_only_missing_text(spark):
    pages = corpus.generate_pages(spark, 50, seed=7)
    pre = pages.limit(10).withColumn("text", pages.url)  # pretend text exists
    got = extract_text(pre).select("url", "text").collect()
    assert all(r.text == r.url for r in got)


def test_detect_mentions_all_candidates(spark):
    """An ambiguous alias yields one mention, linked to the dictionary's
    best-first entry only."""
    from re_shacl_spark.extract.mentions import detect_mentions, mention_pairs

    pages = spark.createDataFrame(
        [("u1", "the spark rose", "en")], "url string, text string, lang string"
    )
    aliases = [("spark", "e1", 0.9), ("spark", "e2", 0.7)]
    one = mention_pairs(detect_mentions(pages, aliases)).collect()
    assert {(r.entity, r.score) for r in one} == {("e1", 0.9)}


def test_compiled_aliases_follow_the_dictionary_not_its_address():
    """A reused Python worker compiles each job's broadcast alias list; once
    an old list is freed, a new one can take its address.  The compiled
    tables must still be the new list's (a stale hit silently drops the new
    dictionary's mentions)."""
    from re_shacl_spark.extract.mentions import _compile

    old = [("acme", "e1", 1.0)]
    _compile(old)
    del old
    new = [("zeta", "e2", 1.0)]
    _, table, _ = _compile(new)
    assert table == {"zeta": [("e2", 1.0)]}


def test_mentions_scan_matches_regex():
    """The str.find scan matcher must reproduce the longest-first alternation
    regex exactly: same spans, same greedy non-overlap resolution, same
    Unicode \\b semantics (extract/mentions.py:_scan_mentions)."""
    from re_shacl_spark.extract.mentions import _compile, _scan_mentions

    aliases = [
        ("Acme Corp", "e0", 1.0),
        ("Acme Corporation", "e0", 0.5),
        ("ACME", "e0", 0.33),
        ("J. Smith", "e1", 1.0),
        ("Smith", "e2", 0.4),
        ("café", "e3", 1.0),
    ]
    pat, table, meta = _compile(aliases)

    def regex_ref(text):
        out = []
        for m in pat.finditer(text):
            cands = table.get(m.group(1).lower())
            if cands:
                ent, prior = cands[0]
                out.append((m.group(1).lower(), ent, prior, m.start()))
        return out

    texts = [
        "Acme Corporation beats Acme Corp; ACME filed.",  # longest-first wins
        "acme corpX acme corp.",  # boundary: suffix word char kills the first
        "smith J. Smith smith",  # overlap: J. Smith consumes the middle smith
        "xSmith Smithx _Smith Smith_ Smith",  # \b edges around word chars
        "le café CAFÉ cafés",  # unicode word chars: é boundary + case
        "ACME" * 5,  # run-on, no boundaries inside
        "..ACME..", "ACME", "", "İstanbul ACME İİ",  # case-len-change fallback
        "aéAcme Corpéb Acme Corp",  # non-ascii neighbors are word chars
    ]
    for t in texts:
        assert _scan_mentions(t, pat, table, meta) == regex_ref(t), t
    # an ambiguous alias links to its best-first dictionary entry only
    ambiguous = [("spark", "e2", 0.7), ("spark", "e1", 0.9)]
    assert _scan_mentions("the spark rose", *_compile(ambiguous)) == [("spark", "e1", 0.9, 4)]


def test_mentions_scan_matches_regex_fuzz():
    """Property-based: on arbitrary text (incl. unicode word chars and
    whitespace) the scan matcher equals the alternation regex."""
    from hypothesis import given, settings, strategies as st

    from re_shacl_spark.extract.mentions import _compile, _scan_mentions

    aliases = [
        ("ab", "e1", 1.0),
        ("ab cd", "e2", 0.9),
        ("cd", "e3", 0.8),
        ("a.b", "e4", 0.7),
        ("über", "e5", 0.6),
    ]
    pat, table, meta = _compile(aliases)

    def regex_ref(text):
        out = []
        for m in pat.finditer(text):
            cands = table.get(m.group(1).lower())
            if cands:
                ent, prior = cands[0]
                out.append((m.group(1).lower(), ent, prior, m.start()))
        return out

    alphabet = st.sampled_from(list("ab cd.xü AB CD\tÜ\n_0é!İ"))

    @settings(max_examples=300, deadline=None)
    @given(st.text(alphabet=alphabet, max_size=40))
    def check(text):
        assert _scan_mentions(text, pat, table, meta) == regex_ref(text)

    check()


def test_warc_ts_stays_within_pandas_ns_horizon():
    # 3600s * i crosses timestamp[ns]'s 2262-04-11 bound at i ~ 2.09M and the
    # whole job used to die in arrow_to_pandas; the wrap keeps any page index
    # representable while leaving every index below the wrap unchanged.
    import datetime as dt

    ns_max = dt.datetime(2262, 4, 11, tzinfo=dt.timezone.utc)
    for i in (0, 1, corpus._TS_WRAP - 1, corpus._TS_WRAP, 2_400_000, 10**12):
        assert corpus._warc_ts_for(i) < ns_max
    assert corpus._warc_ts_for(799_999) == corpus.EPOCH + dt.timedelta(hours=799_999)
    assert corpus._warc_ts_for(corpus._TS_WRAP + 5) == corpus._warc_ts_for(5)
