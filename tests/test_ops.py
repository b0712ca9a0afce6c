"""Tests for the training-data-pipeline operators: dedup, similarity, text
analysis, multimodal plumbing, streaming."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from cuda_float_compress_spark.operators import dedup, multimodal, similarity, text
from cuda_float_compress_spark.streaming import run_windowed_counts, sessionize_batch

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    d = spark.read.parquet(f"{SF}/documents.parquet").cache()
    d.count()
    yield d
    d.unpersist()


@pytest.fixture(scope="module")
def emb(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    e.count()
    yield e
    e.unpersist()


# --- text analysis ------------------------------------------------------------


def test_token_count_matches_python(spark, docs):
    rows = text.with_token_count(docs).select("doc_id", "text", "n_tokens").take(50)
    for r in rows:
        assert r["n_tokens"] == len(r["text"].split()), r["text"][:50]


def test_quality_score_bounds(spark, docs):
    q = text.with_quality_score(docs)
    bad = q.filter(
        (F.col("quality_score") < 0) | (F.col("quality_score") > 1)
    ).count()
    assert bad == 0


def test_lang_id_runs_and_is_plausible(spark, docs):
    out = text.with_lang_id(docs).groupBy("lang_pred").count().collect()
    assert len(out) >= 1  # heuristic produces some labels


def test_repetition_scores_pinned(spark):
    df = spark.createDataFrame(
        [
            (1, "nav\nnav\nnav\ncontent here"),     # 3 dup lines of 4
            (2, "all unique lines\nsecond line"),   # none
            (3, "spam spam spam ham"),              # words: 2 dups of 4
            (4, "   "),                             # blank -> zeros
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in text.with_repetition_scores(df).collect()}
    assert got[1]["n_lines"] == 4 and got[1]["dup_line_frac"] == 0.5
    assert got[2]["dup_line_frac"] == 0.0
    assert got[3]["dup_word_frac"] == 0.5
    assert got[4]["n_lines"] == 0
    assert got[4]["dup_line_frac"] == 0.0 and got[4]["dup_word_frac"] == 0.0


def test_top_ngram_fractions_pinned(spark):
    """Gopher top-n-gram concentration: hand-computed fractions, including
    the degenerate docs (empty text -> 0s, one word -> no bigrams)."""
    df = spark.createDataFrame(
        [
            (1, "the cat the cat the dog"),  # the:3/6; 'the cat':2/5
            (2, "one"),                      # 1 word, 0 bigrams
            (3, "   "),                      # no words at all
            (4, "A a a b"),                  # lowercased: a:3/4
            (5, None),                       # NULL text -> 0 / 0.0
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in text.top_ngram_fractions(df).collect()}
    assert got[1]["n_words"] == 6
    assert got[1]["top_word_frac"] == 0.5
    assert got[1]["top_bigram_frac"] == 0.4
    assert got[2]["n_words"] == 1 and got[2]["top_word_frac"] == 1.0
    assert got[2]["top_bigram_frac"] == 0.0
    assert got[3]["n_words"] == 0 and got[3]["top_word_frac"] == 0.0
    assert got[4]["top_word_frac"] == 0.75
    assert got[5]["n_words"] == 0 and got[5]["top_word_frac"] == 0.0
    assert got[5]["top_bigram_frac"] == 0.0
    # scale shape (r7 optimization): the signal is per-document, so the plan
    # must be a pure per-row projection — ZERO exchanges at any scale (the
    # old explode -> groupBy -> join shape shuffled every gram twice)
    plan = text.top_ngram_fractions(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_url_canonicalize_pinned(spark):
    """Hand-pinned canonical forms: fragment, case, default ports (kept
    when non-default), www, tracking params incl. multiples, separator
    tidy-up, root slash; path case and real params preserved."""
    cases = [
        ("HTTP://WWW.Example.COM:80/Path/?utm_source=x&id=7",
         "http://example.com/Path/?id=7", "example.com"),
        ("https://Example.com:443/a#frag",
         "https://example.com/a", "example.com"),
        ("https://Shop.example.com/", "https://shop.example.com",
         "shop.example.com"),
        ("http://sub.EXAMPLE.com/p?a=1&utm_medium=m",
         "http://sub.example.com/p?a=1", "sub.example.com"),
        ("https://other.org/x?gclid=123&utm_campaign=c&q=2",
         "https://other.org/x?q=2", "other.org"),
        ("http://news.example.com:8080/v?id=3",
         "http://news.example.com:8080/v?id=3", "news.example.com"),
        ("https://a.io/p?utm_a=1&utm_b=2", "https://a.io/p", "a.io"),
        ("not a url at all", "not a url at all", ""),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _, _) in enumerate(cases)], ["id", "url"]
    )
    got = {r["id"]: r for r in text.with_canonical_url(df).collect()}
    for i, (_, want_canon, want_host) in enumerate(cases):
        assert got[i]["canon_url"] == want_canon, (i, got[i]["canon_url"])
        assert got[i]["host"] == want_host, (i, got[i]["host"])


def test_url_canonicalize_idempotent(spark):
    """canon(canon(u)) == canon(u) over ~600 generated messy URLs — a
    rule-chain whose output re-triggers an earlier rule would diverge on
    the second pass (e.g. a port strip exposing a www., a param removal
    creating a new trailing separator)."""
    import random

    rng = random.Random(42)
    schemes = ["http://", "https://", "HTTP://", "ftp://"]
    hosts = ["www.Example.COM", "a.b.ORG", "x.io", "WWW.W.www", "h-1.net"]
    ports = ["", ":80", ":443", ":8080"]
    paths = ["", "/", "/P/q", "/a//b", "/%7Euser"]
    queries = ["", "?a=1", "?utm_x=1", "?utm_a=1&b=2&utm_c=3&gclid=9",
               "?gclid=", "?&", "?a=utm_b=nested"]
    frags = ["", "#f", "#a#b", "#utm_source=x"]
    urls = []
    for _ in range(600):
        urls.append(rng.choice(schemes) + rng.choice(hosts)
                    + rng.choice(ports) + rng.choice(paths)
                    + rng.choice(queries) + rng.choice(frags))
    urls += ["", "no scheme", "http://", "http://:80/", "?utm_a=1"]
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)],
                               ["id", "url"])
    once = text.url_canonicalize_col(F.col("url"))
    out = df.select(
        "id", "url", once.alias("c1"),
    ).select("id", "url", "c1", text.url_canonicalize_col(F.col("c1")).alias("c2"))
    bad = [(r["url"], r["c1"], r["c2"]) for r in out.collect()
           if r["c1"] != r["c2"]]
    assert not bad, bad[:5]


def test_fingerprint_identical_for_identical_text(spark):
    df = spark.createDataFrame(
        [(1, "same  text"), (2, "same text"), (3, "other")], ["id", "text"]
    )
    fp = text.with_fingerprint(df).collect()
    by_id = {r["id"]: r["fingerprint"] for r in fp}
    assert by_id[1] == by_id[2]  # whitespace-normalized
    assert by_id[1] != by_id[3]


def test_shingles(spark):
    df = spark.createDataFrame([("abcdef",)], ["text"])
    out = df.select(text.shingles_col(F.col("text"), 3).alias("sh")).collect()[0]["sh"]
    assert out == ["abc", "bcd", "cde", "def"]


def test_html_to_text_extraction(spark):
    """The extraction chain strips script/style/comment blocks (including
    fake tags and comparisons inside script bodies), tags, entities, and
    collapses whitespace — deterministically (the north-rule invariant is
    byte-identical extracted text)."""
    html = (
        '<html><head><style>p { x: 1 }</style>'
        '<script>if (a < b) { s = "</div>ok<div>"; }</script></head>'
        "<body><!-- hidden\ncomment --><h1>Title</h1>\n"
        "<p>A &amp; B &lt;c&gt; &quot;d&quot; &#39;e&#39;&nbsp;f</p>"
        "<div>и в не</div></body></html>"
    )
    df = spark.createDataFrame([(1, html), (2, "plain, no markup"), (3, "")],
                               ["doc_id", "html"])
    got = {
        r["doc_id"]: r["out"]
        for r in df.select(
            "doc_id", text.html_to_text_col(F.col("html")).alias("out")
        ).collect()
    }
    # the fake "</div>" INSIDE the script string must not leak: the
    # non-greedy block strip runs to the first real </script>
    assert got[1] == 'Title A & B <c> "d" \'e\' f и в не', repr(got[1])
    assert got[2] == "plain, no markup"
    assert got[3] == ""

    # entity-escaped entities must NOT double-unescape: &amp; decodes LAST,
    # so "&amp;lt;b&amp;gt;" yields the literal text "&lt;b&gt;", not "<b>"
    df2 = spark.createDataFrame(
        [(1, "<p>code sample: &amp;lt;b&amp;gt;</p>")], ["doc_id", "html"]
    )
    out2 = df2.select(
        text.html_to_text_col(F.col("html")).alias("out")
    ).collect()[0]["out"]
    assert out2 == "code sample: &lt;b&gt;", repr(out2)


def test_pii_redaction(spark):
    """Emails, IPv4s, and phone-shaped runs redact to typed tokens; order
    (emails first) keeps addresses from being nibbled by the phone rule."""
    rows = [
        (1, "mail me at jane.doe+spam@sub.example.co.uk thanks"),
        (2, "server 192.168.001.1 and call +44 (0) 1234 567890 today"),
        (3, "nothing sensitive here"),
        (4, "year 2024 only"),  # short digit run: NOT phone
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["redacted"], r["pii_hits"])
        for r in text.with_pii_redaction(df).collect()
    }
    assert got[1] == ("mail me at <EMAIL> thanks", 1)
    assert got[2][0] == "server <IP> and call <PHONE> today"
    assert got[2][1] == 2
    assert got[3] == ("nothing sensitive here", 0)
    assert got[4] == ("year 2024 only", 0)


def test_shingles_unicode_and_edges(spark):
    """The shifted-slices char shingles equal substring windows on unicode
    (surrogate pairs whole) and the n<k / n==k edges."""
    samples = ["héllo wörld и в", "x\U0001f600y z\U0001f600w", "ab", "abc", ""]
    df = spark.createDataFrame([(s,) for s in samples], ["text"])
    rows = df.select(
        "text", text.shingles_col(F.col("text"), 3).alias("sh")
    ).collect()
    for r in rows:
        s = r["text"]
        want = [s[i : i + 3] for i in range(len(s) - 2)] if len(s) >= 3 else [s]
        assert r["sh"] == want, repr(s)


def test_rolling_hash_and_shingles_linear_in_doc_length(spark):
    """Rolling hash + char shingles over a 1 MB web-page-sized doc must be
    ~10x a 100 KB doc, not ~100x: the old per-codepoint substr fold rescanned
    the string from position 0 at every offset (O(n^2) — minutes per MB-sized
    document at 100 TB corpus scale). Bound is generous (host noise)."""
    import time

    def run(n_chars):
        doc = ("lorem ipsum dolor sit amet " * (n_chars // 27 + 1))[:n_chars]
        df = spark.createDataFrame([(doc,)], ["text"])
        df.select(text.rolling_hash_col(F.col("text"))).collect()  # warm
        t0 = time.time()
        df.select(
            text.rolling_hash_col(F.col("text")).alias("rh"),
            F.size(text.shingles_col(F.col("text"), 5)).alias("ns"),
        ).collect()
        return time.time() - t0

    run(10_000)  # JIT/codegen warm-up
    t100k, t1m = run(100_000), run(1_000_000)
    # measured ~3x on this host; quadratic would be ~100x
    assert t1m / max(t100k, 1e-3) < 35, (t100k, t1m)


# --- dedup ---------------------------------------------------------------------


@pytest.fixture(scope="module")
def dup_docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "the quick brown fox jumps over the lazy dog near the river bank"),
        (3, "the quick brown fox jumps over the lazy dog near the river banks"),
        (4, "completely different text about compression engines in spark"),
        (5, "another unrelated document mentioning nothing similar at all ok"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(spark, dup_docs):
    groups = dedup.exact_dup_groups(dup_docs, "doc_id").collect()
    assert len(groups) == 1
    assert groups[0]["keep_id"] == 1
    assert groups[0]["group_size"] == 2


def test_dup_span_counts(spark, dup_docs):
    """ExactSubstr-style spans: exact dups share every window; a doc with
    a long copied prefix shares proportionally; unrelated docs are absent;
    short-doc filter and window-count arithmetic are exact."""
    out = {r["doc_id"]: r["dup_gram_count"] for r in
           dedup.dup_span_counts(dup_docs, "doc_id", "text",
                                 gram_len=32, stride=8).collect()}
    # docs 1 and 2 are identical (63 chars): windows at 1,9,17,25 -> 4
    assert out[1] == 4 and out[2] == 4
    # doc 3 differs only in the last char: windows at 1,9,17 match 1/2's;
    # window 25 covers chars 25..56 == same in doc 3 (diff is char 64)
    assert out[3] == 4
    assert 4 not in out and 5 not in out

    # a partially-copied document lights up only the copied span
    rows = [
        (1, "A" * 10 + "0123456789abcdefghijklmnopqrstuvwxyzABCDEF" + "B" * 10),
        (2, "C" * 7 + "0123456789abcdefghijklmnopqrstuvwxyzABCDEF" + "D" * 13),
        (3, "totally unrelated text with no shared spans whatsoever here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["dup_gram_count"] for r in
           dedup.dup_span_counts(df, "doc_id", "text",
                                 gram_len=32, stride=1).collect()}
    # the shared 42-char run yields 11 aligned 32-windows in each doc
    assert got[1] == 11 and got[2] == 11
    assert 3 not in got
    # docs shorter than gram_len are filtered, not errored
    tiny = spark.createDataFrame([(1, "short"), (2, "short")],
                                 ["doc_id", "text"])
    assert dedup.dup_span_counts(tiny, "doc_id", "text",
                                 gram_len=32, stride=1).count() == 0


def test_dup_span_counts_unicode_codepoint_windows(spark):
    """r7 internals pin: the mapInArrow window hasher slices by CODEPOINT
    (Python str slicing) and hashes utf-8 bytes — identical to the old
    JVM substring + md5 definition and the DuckDB oracle. Multi-byte
    chars (2- and 3-byte utf-8) at the window head would expose any
    byte-based slicing immediately."""
    base = "é中" + "x" * 30  # 32 codepoints, 35 utf-8 bytes
    df = spark.createDataFrame(
        [(1, base + "AAAA"), (2, base + "BBBB"), (3, "z" * 36)],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["dup_gram_count"] for r in
           dedup.dup_span_counts(df, "doc_id", "text",
                                 gram_len=32, stride=16).collect()}
    # only window start 1 samples (len 36 < 1+16+31): docs 1/2 share that
    # 32-codepoint window exactly; doc 3 shares nothing
    assert got == {1: 1, 2: 1}
    # int ids + duplicate-id input rows: the global (id, h) dedup keeps a
    # re-ingested doc from counting as its own duplicate
    base = "x" * 40
    df2 = spark.createDataFrame(
        [(1, base), (1, base), (2, "y" * 40)], "doc_id int, text string"
    )
    assert dedup.dup_span_counts(df2, "doc_id", "text",
                                 gram_len=32, stride=16).count() == 0


def test_minhash_arrow_matches_expression_path(spark):
    """r7 internals pin: the mapInArrow signature/band-key fast path must be
    BIT-IDENTICAL to the Column-expression path (which streaming and the SQL
    oracle still use) — across empty text, whitespace-only (tabs/newlines,
    which Spark trim does NOT strip), unicode, fewer-words-than-window docs,
    and multi-space runs."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, ""),
        (3, "\t\n \t"),
        (4, "один два три"),
        (5, "short doc"),
        (6, "  doubled  spaces   here and trailing  "),
        (7, "a b c d e f g h i j k l m n o p"),
        (8, None),  # NULL text: expression path yields md5('') band keys
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    expr = {(r["id"], r["band"]): r["key"] for r in
            dedup.minhash_banded_keys(df, "doc_id", "text", 16, 4, 5,
                                      "word").collect()}
    arrow = {(r["id"], r["band"]): r["key"] for r in
             dedup.minhash_banded_keys_arrow(df, "doc_id", "text", 16, 4,
                                             5).collect()}
    assert expr == arrow
    # non-bigint id columns must flow through the declared Arrow schema
    # (pa.array would otherwise infer int64 and crash the JVM reader)
    df_int = df.withColumn("doc_id", F.col("doc_id").cast("int"))
    arrow_int = {(r["id"], r["band"]): r["key"] for r in
                 dedup.minhash_banded_keys_arrow(df_int, "doc_id", "text",
                                                 16, 4, 5).collect()}
    assert arrow_int == arrow
    assert dedup.minhash_lsh_pairs(
        df_int, "doc_id", threshold=0.5, shingle_mode="word"
    ).count() >= 0  # full chain (candidates + verify) on int ids
    # the verify-stage hash SETS must agree too (order-insensitive)
    sh_expr = {
        r["id"]: None if r["sh"] is None else sorted(r["sh"])
        for r in dedup.with_shingle_hashes(
            df, "text", 5, "word"
        ).select(
            F.col("doc_id").alias("id"),
            F.array_distinct("__shingle_hashes").alias("sh"),
        ).collect()
    }
    sh_np = {
        r: None if t is None else sorted(
            int(v) for v in __import__("numpy").unique(
                dedup._np_word_window_hashes(t, 5))
        )
        for r, t in rows
    }
    assert sh_expr == sh_np


def test_simhash_arrow_matches_expression_path(spark):
    """r7 internals pin: simhash_ids_arrow (one mapInArrow crossing) must be
    bit-identical to with_simhash (expression tokenizer + pandas-UDF
    majority) across empty/whitespace/unicode/null-ish edge docs."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, ""),
        (3, "\t\n \t"),
        (4, "один два три"),
        (5, "repeat repeat repeat repeat"),
        (6, "  leading and trailing  "),
        (7, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    expr = {r["doc_id"]: r["simhash"]
            for r in dedup.with_simhash(df).collect()}
    arrow = {r["id"]: r["simhash"]
             for r in dedup.simhash_ids_arrow(df, "doc_id").collect()}
    assert expr == arrow
    # int ids flow through the declared Arrow schema
    df_int = df.withColumn("doc_id", F.col("doc_id").cast("int"))
    arrow_int = {r["id"]: r["simhash"]
                 for r in dedup.simhash_ids_arrow(df_int, "doc_id").collect()}
    assert arrow_int == arrow


def test_minhash_lsh_finds_near_dups(spark, dup_docs):
    pairs = dedup.minhash_lsh_pairs(
        dup_docs, "doc_id", n_hashes=16, bands=8, threshold=0.5
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in found  # exact dup always survives
    assert (1, 3) in found or (2, 3) in found  # near dup at high jaccard
    assert all(4 not in p and 5 not in p for p in found)


def test_ngram_jaccard_exact_verification(spark, dup_docs):
    cands = spark.createDataFrame([(1, 2), (1, 3), (1, 4)], ["id_a", "id_b"])
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(dup_docs, cands, "doc_id").collect()
    }
    assert out[(1, 2)] == 1.0
    assert 0.7 < out[(1, 3)] < 1.0
    assert out[(1, 4)] < 0.2


def test_simhash_near_dups(spark, dup_docs):
    pairs = dedup.simhash_near_dups(dup_docs, "doc_id", max_hamming=6).collect()
    found = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert found.get((1, 2)) == 0
    assert (1, 4) not in found


def test_embedding_neardup(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),
        (3, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = dedup.embedding_neardup_pairs(df, n_planes=2, min_cosine=0.99).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in found
    assert (1, 3) not in found


def test_hash60_portable(spark):
    """Spark hash60_col == driver-side hash60_py (the md5-60bit contract the
    DuckDB oracles rely on)."""
    samples = ["hello", "", "héllo wörld", "и в не", "a" * 100]
    df = spark.createDataFrame([(s,) for s in samples], ["s"])
    rows = df.select("s", dedup.hash60_col(F.col("s")).alias("h")).collect()
    for r in rows:
        assert r["h"] == dedup.hash60_py(r["s"]), r["s"]


def test_simhash_matches_python_reference(spark):
    """The vectorized simhash equals a per-token Python recomputation."""
    texts = ["the quick brown fox", "", "  ", "a", "x y z x y z x"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["id", "text"])
    got = {r["id"]: r["simhash"] for r in dedup.with_simhash(df).collect()}
    for i, t in enumerate(texts):
        toks = t.split()
        if not toks:
            assert got[i] == 0
            continue
        hs = [dedup.hash60_py(tok) for tok in toks]
        sig = 0
        for b in range(60):
            ones = sum((h >> b) & 1 for h in hs)
            if ones * 2 >= len(hs):
                sig |= 1 << b
        assert got[i] == sig, (i, t)


def test_lsh_bucket_caps_bound_skew(spark):
    """1k identical docs: uncapped LSH would emit ~500k pairs; the capped
    buckets bound the output and the Observation reports what was dropped."""
    from pyspark.sql import Observation

    n = 1000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("boilerplate cookie banner accept all cookies please").alias("text"),
    )
    obs = Observation("simhash_drops")
    pairs = dedup.simhash_near_dups(
        df, "doc_id", max_hamming=3, bucket_cap=64, observation=obs
    )
    n_pairs = pairs.count()
    assert n_pairs <= 64 * 63 // 2  # bounded by cap, not by corpus size
    drops = obs.get
    assert drops["dropped_members"] == 4 * (n - 64)  # 4 blocks, each capped
    assert drops["truncated_buckets"] == 4

    obs2 = Observation("minhash_drops")
    cands = dedup.minhash_lsh_candidates(
        df, "doc_id", bucket_cap=64, observation=obs2
    )
    assert cands.count() <= 64 * 63 // 2
    assert obs2.get["dropped_members"] == 4 * (n - 64)  # 4 bands


def test_lsh_mega_bucket_no_collect_list(spark, monkeypatch):
    """A 10^5-member single near-dup bucket (templated pages that exact-dedup
    can NOT pre-collapse) must flow through the cap WITHOUT collect_list: the
    old collect_list+slice plan materialized the uncapped bucket in one
    aggregation buffer (executor OOM at 100 TB); the row_number window is a
    spillable sort bounded at the cap.

    EAGER_MATERIALIZE is switched off so the full logical pipeline stays in
    one inspectable plan (the r7 localCheckpoints otherwise cut it at the
    materialization points); results are identical either way, and the
    default-path behavior is covered by every other dedup test."""
    from pyspark.sql import Observation

    monkeypatch.setattr(dedup, "EAGER_MATERIALIZE", False)

    n = 100_000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("cookie banner accept all cookies on this page now").alias("text"),
    )
    obs = Observation("mega_minhash")
    cands = dedup.minhash_lsh_candidates(
        df, "doc_id", bucket_cap=32, observation=obs, shingle_mode="word"
    )
    plan = cands._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan and "CollectList" not in plan, plan
    assert "row_number" in plan or "RunningWindowFunction" in plan or "Window" in plan
    assert cands.count() == 32 * 31 // 2  # bounded by cap, not corpus
    drops = obs.get
    assert drops["dropped_members"] == 4 * (n - 32)  # 4 bands, each one bucket
    assert drops["truncated_buckets"] == 4
    assert drops["buckets"] == 4

    obs2 = Observation("mega_simhash")
    spairs = dedup.simhash_near_dups(
        df, "doc_id", max_hamming=60, bucket_cap=16, observation=obs2
    )
    plan2 = spairs._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan2 and "CollectList" not in plan2, plan2
    assert spairs.count() <= 4 * 16 * 15 // 2
    assert obs2.get["dropped_members"] > 0


def test_bucket_cap_recall_monotone_and_observable(spark):
    """The bucket cap is the engine's recall knob on skewed corpora: pair
    recall is MONOTONE in the cap, the exact drop counts are observable, and
    pairs outside the hot group are never sacrificed (their buckets are tiny).

    Corpus: 200 identical docs (the hot group — true pairs C(200,2)) + 20
    two-doc exact-dup groups (true pairs 20) + 60 unique docs."""
    from pyspark.sql import Observation

    rows = []
    did = 0
    for _ in range(200):
        rows.append((did, "hot boilerplate banner accept all cookies now ok")); did += 1
    for g in range(20):
        t = f"pair group {g} has its own private words alpha beta gamma {g}"
        rows.append((did, t)); did += 1
        rows.append((did, t)); did += 1
    for u in range(60):
        rows.append((did, f"unique document {u} totally different content {u * 17} xyz {u * 31}")); did += 1
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    found, drops = {}, {}
    for cap in (32, 64, 128):
        obs = Observation(f"cap_{cap}")
        pairs = dedup.minhash_lsh_pairs(
            df, "doc_id", threshold=0.9, bucket_cap=cap,
            observation=obs, shingle_mode="word",
        ).count()
        found[cap] = pairs
        drops[cap] = obs.get["dropped_members"]
    # recall is monotone in the cap; every cap keeps the 20 small groups
    for cap in (32, 64, 128):
        kept_hot = min(cap, 200)
        assert found[cap] == kept_hot * (kept_hot - 1) // 2 + 20, (cap, found)
        assert drops[cap] == 4 * (200 - kept_hot), (cap, drops)  # 4 bands
    assert found[32] < found[64] < found[128]
    assert drops[32] > drops[64] > drops[128] > 0


def test_word_shingle_hash_wide_window_and_twin(spark):
    """shingle_k=9 (rotation 8*8=64 -> mod-60 reduced) works, and the JVM
    rot-xor window hash equals a Python twin built from hash60_py."""
    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j k l"), (2, "x"), (3, "  ")],
        ["doc_id", "text"],
    )
    for k in (5, 9):
        got = {
            r["doc_id"]: r["__shingle_hashes"]
            for r in dedup.with_shingle_hashes(
                df, "text", shingle_k=k, shingle_mode="word"
            ).collect()
        }

        def rot(x, r):
            r %= 60
            return ((x << r) | (x >> (60 - r))) & ((1 << 60) - 1)

        for did, text in [(1, "a b c d e f g h i j k l"), (2, "x"), (3, "  ")]:
            toks = text.strip().split() or [""]
            wh = [dedup.hash60_py(t) for t in toks]
            n_windows = max(len(wh) - (k - 1), 1)
            want = []
            for i in range(n_windows):
                h = 0
                for j in range(k):
                    v = wh[i + j] if i + j < len(wh) else 0
                    h ^= rot(v, 8 * j)
                want.append(h)
            assert got[did] == want, (k, did)


def test_embedding_neardup_cap(spark):
    """Identical vectors land in one bucket; the cap bounds the self-join."""
    from pyspark.sql import Observation

    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(300)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    obs = Observation("emb_drops")
    pairs = dedup.embedding_neardup_pairs(
        df, n_planes=4, min_cosine=0.99, bucket_cap=50, observation=obs
    )
    assert pairs.count() == 50 * 49 // 2
    assert obs.get["dropped_members"] == 250


# --- similarity ------------------------------------------------------------------


def test_cosine_topk_self_is_first(spark, emb):
    row = emb.filter(F.col("vec_id") == 0).collect()[0]
    out = similarity.cosine_topk(emb, list(row["embedding"]), k=5).collect()
    assert out[0]["vec_id"] == 0
    assert out[0]["cosine"] == pytest.approx(1.0, abs=1e-4)
    sims = [r["cosine"] for r in out]
    assert sims == sorted(sims, reverse=True)


def test_ann_lsh_contains_self(spark, emb):
    row = emb.filter(F.col("vec_id") == 0).collect()[0]
    out = similarity.ann_lsh_topk(emb, list(row["embedding"]), k=5, n_planes=4).collect()
    assert out and out[0]["vec_id"] == 0


# --- multimodal -------------------------------------------------------------------


def test_media_features_lossy_webp_dims(spark):
    """A lossy-VP8 WebP payload gets real header dimensions through the
    Spark extractor even though pixel decode refuses it (typed boundary):
    type image/webp, dims from the RFC 6386 uncompressed keyframe header."""
    import struct as _struct

    part = 16
    tag = (0) | (1 << 4) | (part << 5)
    body = (bytes([tag & 0xFF, (tag >> 8) & 0xFF, (tag >> 16) & 0xFF])
            + b"\x9d\x01\x2a" + _struct.pack("<HH", 320, 200)
            + b"\x00" * part)
    riff = b"WEBP" + b"VP8 " + _struct.pack("<I", len(body)) + body
    payload = b"RIFF" + _struct.pack("<I", len(riff)) + riff
    df = spark.createDataFrame(
        [("u1", bytearray(payload))], "url string, html binary"
    )
    row = multimodal.extract_media_features(df, "url", "html").collect()[0]
    assert row["media_type"] == "image/webp"
    assert (row["fake_width"], row["fake_height"]) == (320, 200)


def test_media_features_jpeg_header_dims(spark):
    """JPEG dims come from the SOF header through the Spark extractor, so
    a payload whose entropy data is garbage still reports them; a JPEG
    magic followed by text (the media_features oracle's rows) is 0x0."""
    import struct as _struct

    sof = _struct.pack(">BHHB", 8, 24, 12, 1) + bytes([1, 0x11, 0])
    payload = (b"\xff\xd8\xff\xc0" + _struct.pack(">H", 2 + len(sof)) + sof
               + b"\xff\xda" + b"\x13\x37" * 10)
    df = spark.createDataFrame(
        [("j", bytearray(payload)),
         ("t", bytearray(bytes.fromhex("FFD8FFE0") + b"document text"))],
        "url string, html binary",
    )
    rows = {r["url"]: r for r in
            multimodal.extract_media_features(df, "url", "html").collect()}
    assert {r["media_type"] for r in rows.values()} == {"image/jpeg"}
    assert (rows["j"]["fake_width"], rows["j"]["fake_height"]) == (12, 24)
    assert (rows["t"]["fake_width"], rows["t"]["fake_height"]) == (0, 0)


def test_media_features_plumbing(spark):
    from cuda_float_compress_spark.table import generate_webpages_df

    df = generate_webpages_df(spark, 200, partitions=2)
    feats = multimodal.extract_media_features(df, "url", "html")
    rows = feats.collect()
    assert len(rows) == 200
    r = {x["url"]: x for x in rows}
    # html template rows sniff as octet-stream; entropy in [0,8]
    assert all(0.0 <= x["byte_entropy"] <= 8.0 for x in rows)
    assert all(x["n_bytes"] >= 0 for x in rows)


def test_decode_image_stub_raises():
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\x89PNG1234", fake=False)
    img = multimodal.decode_image(b"\x89PNG1234", fake=True)
    assert img.ndim == 3 and img.shape[2] == 3


# --- streaming --------------------------------------------------------------------


def test_streaming_windowed_counts_matches_batch(spark):
    stream_out = run_windowed_counts(
        spark, f"{SF}/events.parquet", window="1 hour", query_name="t_wc"
    )
    batch = (
        spark.read.parquet(f"{SF}/events.parquet")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n", "sum_value")
    )
    assert stream_out.exceptAll(batch).count() == 0
    assert batch.exceptAll(stream_out).count() == 0


def test_sessionize(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    sess = sessionize_batch(ev, gap_minutes=30)
    agg = sess.agg(
        F.sum("n_events").alias("total"), F.count("*").alias("n_sessions")
    ).collect()[0]
    assert agg["total"] == ev.count()
    assert 0 < agg["n_sessions"] <= ev.count()


def test_stateful_streaming_counts(spark):
    from cuda_float_compress_spark.streaming import run_stateful_counts

    out = run_stateful_counts(spark, f"{SF}/events.parquet", query_name="t_sc")
    batch = (
        spark.read.parquet(f"{SF}/events.parquet")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    )
    assert out.exceptAll(batch).count() == 0
    assert batch.exceptAll(out).count() == 0


def test_real_bmp_ppm_wav_decoders(spark):
    """Real (pure-numpy) media decoders round-trip through the Spark
    mapInPandas extractor on genuine format bytes."""
    import numpy as np

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (13, 7, 3), dtype=np.uint8)
    bmp = multimodal.encode_bmp(img)
    assert np.array_equal(multimodal.decode_bmp(bmp), img)
    assert np.array_equal(multimodal.decode_image(bmp), img)  # no fake needed

    ppm = b"P6\n# comment\n7 13\n255\n" + img.tobytes()
    assert np.array_equal(multimodal.decode_ppm(ppm), img)

    samples = rng.integers(-32768, 32767, (500, 2), dtype=np.int16)
    wav = multimodal.encode_wav(samples, rate=8000)
    out, rate = multimodal.decode_wav(wav)
    assert rate == 8000 and np.array_equal(out, samples)

    # through the Spark surface: sniffing identifies the real formats
    df = spark.createDataFrame(
        [("bmp", bytearray(bmp)), ("ppm", bytearray(ppm)), ("wav", bytearray(wav))],
        "url string, html binary",
    )
    feats = {r["url"]: r for r in
             multimodal.extract_media_features(df, "url", "html").collect()}
    assert feats["bmp"]["media_type"] == "image/bmp"
    assert feats["bmp"]["fake_width"] == 7 and feats["bmp"]["fake_height"] == 13
    assert feats["ppm"]["media_type"] == "image/x-portable-pixmap"
    assert feats["wav"]["media_type"] == "audio/wav"


def test_decoders_reject_corrupt_media():
    import pytest as _pytest

    with _pytest.raises(ValueError):
        multimodal.decode_bmp(b"BM" + b"\x00" * 60)  # bpp/offset garbage
    with _pytest.raises(ValueError):
        multimodal.decode_ppm(b"P6\n4 4\n65535\n" + b"\x00" * 48)
    with _pytest.raises(ValueError):
        multimodal.decode_wav(b"RIFF\x04\x00\x00\x00WAVE")
    # truncated fmt chunk (would be struct.error), zero channels, and a
    # data chunk that is not a whole number of frames all raise ValueError
    with _pytest.raises(ValueError):
        multimodal.decode_wav(
            b"RIFF\x10\x00\x00\x00WAVE" + b"fmt " + b"\x04\x00\x00\x00" + b"\x01\x00\x02\x00"
        )
    import struct as _struct

    bad_ch = b"fmt " + _struct.pack("<I", 16) + _struct.pack(
        "<HHIIHH", 1, 0, 8000, 0, 0, 16
    )
    data = b"data" + _struct.pack("<I", 4) + b"\x00\x00\x00\x00"
    with _pytest.raises(ValueError):
        multimodal.decode_wav(b"RIFF\x30\x00\x00\x00WAVE" + bad_ch + data)
    odd = b"fmt " + _struct.pack("<I", 16) + _struct.pack(
        "<HHIIHH", 1, 2, 8000, 32000, 4, 16
    ) + b"data" + _struct.pack("<I", 6) + b"\x00" * 6
    with _pytest.raises(ValueError):
        multimodal.decode_wav(b"RIFF\x38\x00\x00\x00WAVE" + odd)


def test_png_roundtrip_all_filters_and_color_types():
    """decode_png (pure numpy+zlib) recovers exact pixels for every scanline
    filter (None/Sub/Up/Average/Paeth) and color type the web profile uses."""
    import numpy as np

    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (11, 7, 3), dtype=np.uint8)
    for f in range(5):
        png = multimodal.encode_png(img, filters=f)
        assert np.array_equal(multimodal.decode_png(png), img), f
    # mixed filters per row
    png = multimodal.encode_png(img, filters=[y % 5 for y in range(11)])
    assert np.array_equal(multimodal.decode_png(png), img)
    # grayscale replicates to RGB
    gray = rng.integers(0, 256, (5, 9), dtype=np.uint8)
    out = multimodal.decode_png(multimodal.encode_png(gray, filters=4))
    assert np.array_equal(out, np.repeat(gray[:, :, None], 3, axis=2))
    # RGBA drops alpha
    rgba = rng.integers(0, 256, (6, 4, 4), dtype=np.uint8)
    out = multimodal.decode_png(multimodal.encode_png(rgba, filters=3))
    assert np.array_equal(out, rgba[:, :, :3])
    # decode_image dispatches on the PNG magic
    assert np.array_equal(
        multimodal.decode_image(multimodal.encode_png(img)), img
    )


def test_vp8_lossy_keyframe_dims_probe():
    """Lossy-WebP (VP8) dimensions come from the UNCOMPRESSED keyframe
    header (RFC 6386 9.1) — no probability tables needed. Pixel decode
    stays a typed refusal, but type + dims are real; interframes and
    corrupt start codes keep the error contract. Lossless (VP8L) and
    extended (VP8X) files give their header dims too."""
    import struct as _struct

    import pytest as _pytest

    def riff(*chunks):
        body = b"WEBP" + b"".join(
            tag + _struct.pack("<I", len(c)) + c + b"\x00" * (len(c) & 1)
            for tag, c in chunks)
        return b"RIFF" + _struct.pack("<I", len(body)) + body

    def vp8_file(w, h, interframe=False, bad_code=False):
        part_size = 32
        tag = (1 if interframe else 0) | (0 << 1) | (1 << 4) | (part_size << 5)
        body = bytes([tag & 0xFF, (tag >> 8) & 0xFF, (tag >> 16) & 0xFF])
        body += b"\x9d\x01\x2b" if bad_code else b"\x9d\x01\x2a"
        body += _struct.pack("<HH", w | (0 << 14), h | (1 << 14))  # scale bits
        body += b"\x00" * part_size
        return riff((b"VP8 ", body))

    assert multimodal.webp_dims(vp8_file(640, 480)) == (640, 480)
    assert multimodal.vp8_keyframe_dims(vp8_file(1, 16383)[20:]) == (1, 16383)
    with _pytest.raises(NotImplementedError, match="interframe"):
        multimodal.webp_dims(vp8_file(640, 480, interframe=True))
    with _pytest.raises(ValueError, match="start code"):
        multimodal.webp_dims(vp8_file(640, 480, bad_code=True))
    # lossless: signature 0x2F, then 14-bit width-1 and height-1 LSB-first
    bits = (12 - 1) | ((7 - 1) << 14)
    vp8l = b"\x2f" + bits.to_bytes(4, "little") + b"\x00" * 4
    assert multimodal.webp_dims(riff((b"VP8L", vp8l))) == (12, 7)
    assert multimodal.webp_dims(
        riff((b"VP8L", b"\x2f" + ((1 << 28) - 1).to_bytes(4, "little")))
    ) == (16384, 16384)
    with _pytest.raises(ValueError):
        multimodal.webp_dims(riff((b"VP8L", vp8l[:4])))
    with _pytest.raises(ValueError):
        multimodal.webp_dims(riff((b"VP8L", b"\x2e" + vp8l[1:])))
    # extended: the VP8X canvas (24-bit width-1, height-1) comes first
    canvas = _struct.pack("<I", 0x10) + (300 - 1).to_bytes(3, "little") \
        + (150 - 1).to_bytes(3, "little")
    assert multimodal.webp_dims(
        riff((b"VP8X", canvas), (b"VP8L", vp8l))) == (300, 150)
    with _pytest.raises(ValueError, match="VP8X"):
        multimodal.webp_dims(riff((b"VP8X", canvas[:9]), (b"VP8L", vp8l)))
    # pixel decode refuses lossy and lossless WebP alike, fake or not
    for fake in (False, True):
        with _pytest.raises(NotImplementedError, match="WebP"):
            multimodal.decode_image(vp8_file(8, 8), fake=fake)
        with _pytest.raises(NotImplementedError, match="WebP"):
            multimodal.decode_image(riff((b"VP8L", vp8l)), fake=fake)
    # and the media extractor surfaces the real header dims for lossy files
    assert multimodal.sniff_media_type(vp8_file(320, 200)) == "image/webp"
    # the RIFF family dispatches on its subtype
    assert multimodal.sniff_media_type(
        b"RIFF" + _struct.pack("<I", 4) + b"AVI ") == "video/x-msvideo"


def _jpeg_seg(marker, body):
    import struct as _struct

    return marker + _struct.pack(">H", 2 + len(body)) + body


def _jpeg_sof(h, w, comps=((1, 0x22, 0), (2, 0x11, 1), (3, 0x11, 1)),
              prec=8):
    import struct as _struct

    return _struct.pack(">BHHB", prec, h, w, len(comps)) + b"".join(
        bytes(c) for c in comps)


_JPEG_APP0 = _jpeg_seg(b"\xff\xe0", b"JFIF\x00\x01\x01\x00" + bytes(7))
_JPEG_SOS = (_jpeg_seg(b"\xff\xda", bytes([1, 1, 0x00, 0, 63, 0]))
             + b"\x00" * 8)


def _jpeg_baseline():
    """A baseline 4:2:0 (SOF0) 29x37 header stream: APP0, DQT before the
    SOF and DHT, DRI and a scan after it."""
    import struct as _struct

    dqt = _jpeg_seg(b"\xff\xdb", b"\x00" + bytes([1] * 64))
    dht = _jpeg_seg(b"\xff\xc4", b"\x00" + bytes([1] + [0] * 15) + b"\x00")
    return (b"\xff\xd8" + _JPEG_APP0 + dqt
            + _jpeg_seg(b"\xff\xc0", _jpeg_sof(37, 29)) + dht
            + _jpeg_seg(b"\xff\xdd", _struct.pack(">H", 2)) + _JPEG_SOS
            + b"\xff\xd9")


def test_jpeg_dims_from_headers():
    """jpeg_dims reads (width, height) from the first SOF0/1/2 segment
    without touching entropy data; pixel decode refuses JPEG."""
    import pytest as _pytest

    seg, sof = _jpeg_seg, _jpeg_sof
    base = _jpeg_baseline()
    assert multimodal.jpeg_dims(base) == (29, 37)
    # progressive (SOF2), grayscale, behind fill bytes and a COM segment;
    # the entropy data after it is garbage and never read
    prog = (b"\xff\xd8" + seg(b"\xff\xfe", b"comment") + b"\xff\xff"
            + seg(b"\xff\xc2", sof(480, 640, comps=((1, 0x11, 0),)))
            + b"\xde\xad" * 20)
    assert multimodal.jpeg_dims(prog) == (640, 480)
    assert multimodal.jpeg_dims(
        b"\xff\xd8" + seg(b"\xff\xc1", sof(1, 1))) == (1, 1)
    # pixel decode refuses JPEG, fake or not
    for fake in (False, True):
        with _pytest.raises(NotImplementedError, match="JPEG"):
            multimodal.decode_image(base, fake=fake)


def test_jpeg_rejects_corrupt_and_out_of_profile():
    """Junk, every truncation before the SOF ends, the lossless and
    arithmetic coding processes and 65535x65535 dims are ValueErrors."""
    import pytest as _pytest

    seg, sof = _jpeg_seg, _jpeg_sof
    base = _jpeg_baseline()
    with _pytest.raises(ValueError, match="not a JPEG"):
        multimodal.jpeg_dims(b"junk bytes")
    # every cut before the SOF segment ends is a truncation
    sof_end = base.index(b"\xff\xc0") + 2 + 2 + len(sof(37, 29))
    for cut in range(sof_end):
        with _pytest.raises(ValueError):
            multimodal.jpeg_dims(base[:cut])
    # arithmetic coding (SOF9) and lossless (SOF3) are out of profile
    for marker in (b"\xff\xc9", b"\xff\xc3"):
        with _pytest.raises(ValueError, match="arithmetic"):
            multimodal.jpeg_dims(b"\xff\xd8" + seg(marker, sof(8, 8)))
    with _pytest.raises(ValueError, match="out of range"):
        multimodal.jpeg_dims(b"\xff\xd8" + seg(b"\xff\xc0", sof(65535, 65535)))


def test_jpeg_hostile_payloads_raise_valueerror_only():
    """The row-skip contract: every malformed or hostile header raises
    ValueError, never another type that would escape the mapInPandas
    row-skip handlers and kill the Spark task."""
    import pytest as _pytest

    seg, sof = _jpeg_seg, _jpeg_sof
    base = _jpeg_baseline()
    hostile = [
        # dims past the 2^23-pixel cap, and zero
        b"\xff\xd8" + seg(b"\xff\xc0", sof(16384, 16384)),
        b"\xff\xd8" + seg(b"\xff\xc0", sof(0, 8)),
        # 0x0 sampling factors on one component
        b"\xff\xd8" + seg(b"\xff\xc0", sof(
            8, 8, comps=((1, 0x00, 0), (2, 0x11, 1), (3, 0x11, 1)))),
        b"\xff\xd8" + seg(b"\xff\xc0", sof(
            8, 8, comps=((1, 0x31, 0),))),
        # two components; a component list cut short; 12-bit precision
        b"\xff\xd8" + seg(b"\xff\xc0", sof(
            8, 8, comps=((1, 0x11, 0), (2, 0x11, 0)))),
        b"\xff\xd8" + seg(b"\xff\xc0", sof(8, 8)[:-3]),
        b"\xff\xd8" + seg(b"\xff\xc0", sof(8, 8, prec=12)),
        # image data or the end before any SOF
        b"\xff\xd8" + _JPEG_SOS + b"\xff\xd9",
        b"\xff\xd8" + _JPEG_APP0 + b"\xff\xd9" + bytes(8),
        # trailing fill bytes to EOF, a bad marker byte
        b"\xff\xd8\xff\xff\xff\xff",
        b"\xff\xd8" + _JPEG_APP0 + b"\x00" + base[2:],
        # the media_features oracle's JPEG magic followed by text
        bytes.fromhex("FFD8FFE0") + "Some document text é".encode(),
    ]
    for payload in hostile:
        with _pytest.raises(ValueError):
            multimodal.jpeg_dims(payload)
    # the working-set cap names itself
    with _pytest.raises(ValueError, match="out of range"):
        multimodal.jpeg_dims(b"\xff\xd8" + seg(b"\xff\xc0", sof(16384, 16384)))


def test_png_paeth_filter_pinned():
    """Paeth predictor matches the spec by hand: recon = filt + paeth(left,
    up, upleft) with the tie-break order left, up, up-left."""
    import numpy as np
    import struct
    import zlib

    # 2x2 gray image, row 0 filter None, row 1 filter Paeth
    # recon row0 = [10, 20]; row1 recon = [13, 21]
    # paeth for row1 x0: left=0, up=10, ul=0 -> p=10, pred=up=10, filt=3
    # x1: left=13, up=20, ul=10 -> p=23, pa=10, pb=3, pc=13 -> pred=up=20, filt=1
    raw = bytes([0, 10, 20, 4, 3, 1])
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)

    def chunk(typ, body):
        crc = zlib.crc32(typ + body) & 0xFFFFFFFF
        return struct.pack(">I", len(body)) + typ + body + struct.pack(">I", crc)

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    out = multimodal.decode_png(png)
    assert np.array_equal(out[:, :, 0], np.array([[10, 20], [13, 21]]))


def test_png_rejects_corrupt():
    import pytest as _pytest

    good = multimodal.encode_png(
        __import__("numpy").zeros((2, 2, 3), dtype="uint8")
    )
    with _pytest.raises(ValueError):
        multimodal.decode_png(b"\x89PNG\r\n\x1a\nXXXX")
    with _pytest.raises(ValueError):
        multimodal.decode_png(good[:-20])  # cuts into the IDAT chunk body
    with _pytest.raises(ValueError):
        # corrupt IHDR: claim 16-bit depth
        bad = bytearray(good)
        bad[24] = 16
        multimodal.decode_png(bytes(bad))


def test_png_zlib_bomb_bounded():
    """A PNG whose IDAT inflates far beyond its IHDR dimensions must fail
    with ValueError BEFORE allocating the inflated stream (zlib expands up
    to ~1000x: an unbounded decompress would OOM the executor, which the
    row-skip try/except in extract_media_features cannot catch), and
    hostile IHDR dimensions must be rejected before any decompression."""
    import struct as _struct
    import zlib as _zlib

    import numpy as np
    import pytest as _pytest

    def _chunk(typ, body):
        return (
            len(body).to_bytes(4, "big") + typ + body
            + _zlib.crc32(typ + body).to_bytes(4, "big")
        )

    # IHDR claims 2x2 RGB (raw = 2*(6+1) = 14 bytes) but IDAT inflates to 64 MB
    ihdr = _struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    bomb = _zlib.compress(b"\x00" * (64 << 20), 9)  # ~64 KB compressed
    png = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", bomb)
        + _chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="larger than IHDR"):
        multimodal.decode_png(png)

    # IHDR claiming absurd dimensions is rejected before inflating anything
    huge = _struct.pack(">IIBBBBB", 1 << 20, 1 << 20, 8, 2, 0, 0, 0)
    png2 = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", huge)
        + _chunk(b"IDAT", bomb)
        + _chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="exceed the decoder cap"):
        multimodal.decode_png(png2)

    # a legitimate image still round-trips through the bounded decompress
    img = np.arange(2 * 2 * 3, dtype=np.uint8).reshape(2, 2, 3)
    assert np.array_equal(multimodal.decode_png(multimodal.encode_png(img)), img)


def test_minhash_components_are_distinct_permutations(spark):
    """Regression: a two-parameter transform lambda shadows the xor constant
    with the element INDEX, collapsing all n_hashes components to one value
    (and the LSH to a single hash function)."""
    df = spark.createDataFrame(
        [(1, "many different words make many different shingles here today ok")],
        ["doc_id", "text"],
    )
    mh = dedup.minhash_signature(df).collect()[0]["minhash"]
    assert len(set(mh)) > 8, mh  # 16 xor-permutations must not collapse
    # and each component is exactly min over (hash60(shingle) xor K_i)
    sh = df.select(
        text.shingles_col(F.col("text"), 5).alias("s")
    ).collect()[0]["s"]
    hs = [dedup.hash60_py(x) for x in sh]
    for i in range(16):
        k = dedup.hash60_py(f"minhash-perm-{i}")
        assert mh[i] == min(h ^ k for h in hs), i


def test_ivf_topk_contains_self_and_bounds_probe(spark, emb):
    row = emb.filter(F.col("vec_id") == 0).collect()[0]
    out = similarity.ivf_topk(
        emb, list(row["embedding"]), k=5, n_lists=8, nprobe=2
    ).collect()
    assert out and out[0]["vec_id"] == 0  # query's own list is always probed
    assert out[0]["cosine"] == pytest.approx(1.0, abs=1e-4)
    # probing fewer lists can only shrink the candidate set
    full = similarity.ivf_topk(
        emb, list(row["embedding"]), k=500, n_lists=8, nprobe=8
    ).count()
    part = similarity.ivf_topk(
        emb, list(row["embedding"]), k=500, n_lists=8, nprobe=2
    ).count()
    assert part <= full


def test_ivf_assignment_deterministic(spark):
    rows = [(i, [float(i % 3), float((i * 7) % 5), 1.0]) for i in range(30)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = [r["embedding"] for r in df.orderBy("vec_id").limit(4).collect()]
    a1 = {r["vec_id"]: r["l"] for r in df.select(
        "vec_id", similarity.ivf_assign_col(F.col("embedding"), cents).alias("l")
    ).collect()}
    # python twin: integer-grid argmin, lowest index wins ties
    import numpy as np
    C = similarity._round_half_away(np.asarray(cents, dtype=np.float64) * 1e6).astype(np.int64)
    for vid, vec in rows:
        q = similarity._round_half_away(np.asarray(vec) * 1e6).astype(np.int64)
        d = ((C - q[None, :]) ** 2).sum(axis=1)
        assert a1[vid] == int(np.argmin(d)), vid


def test_ivf_kmeans_recall_on_clustered_fixture(spark):
    """Trained (deterministic-Lloyd) centroids reach recall@10 >= 0.9 against
    exact cosine top-k on a CLUSTERED corpus — the case where the lowest-id
    quantizer degrades (all init vectors may land in one cluster)."""
    import numpy as np

    rng = np.random.RandomState(7)
    n_clusters, per, dim = 8, 50, 32
    centers = rng.uniform(-1.0, 1.0, size=(n_clusters, dim))
    rows = []
    vid = 0
    for c in range(n_clusters):
        pts = centers[c][None, :] + rng.normal(0, 0.05, size=(per, dim))
        for p in pts:
            rows.append((vid, [float(x) for x in p]))
            vid += 1
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).cache()
    df.count()
    query = rows[123][1]
    exact = {
        r["vec_id"]
        for r in similarity.cosine_topk(df, query, k=10).collect()
    }
    approx = {
        r["vec_id"]
        for r in similarity.ivf_topk(
            df, query, k=10, n_lists=n_clusters, nprobe=2, train_iters=3
        ).collect()
    }
    recall = len(exact & approx) / 10.0
    assert recall >= 0.9, (recall, exact, approx)
    # and training actually moved the quantizer off the lowest-id vectors
    trained = similarity.ivf_train_centroids(
        df, n_lists=n_clusters, n_iters=3
    )
    init = similarity.ivf_train_centroids(df, n_lists=n_clusters, n_iters=0)
    assert not np.array_equal(trained, init)
    # trained lists are balanced: every cluster-sized list is non-empty and
    # no list swallows half the corpus (the lowest-id failure mode)
    assigned = df.withColumn(
        "l",
        similarity.ivf_assign_col(F.col("embedding"), trained, quantized=True),
    )
    sizes = [r["count"] for r in assigned.groupBy("l").count().collect()]
    assert max(sizes) <= per * 2, sizes
    df.unpersist()


def test_ivf_assign_null_and_ragged_are_null(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, None),
        (2, [1.0, 0.0]),  # wrong dimension
        (3, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    got = {
        r["vec_id"]: r["l"]
        for r in df.select(
            "vec_id",
            similarity.ivf_assign_col(F.col("embedding"), cents).alias("l"),
        ).collect()
    }
    assert got[0] == 0 and got[3] == 1
    assert got[1] is None and got[2] is None


def test_hyperplane_bucket_high_dim_1024(spark):
    """The md5-derived sign matrix extends on demand: 1024-dim embeddings
    bucket identically to the driver-side twin, and embedding_neardup_pairs
    finds an injected near-duplicate pair at that dimension."""
    import numpy as np

    rng = np.random.RandomState(11)
    base = rng.uniform(-1, 1, size=1024)
    rows = [
        (0, [float(x) for x in base]),
        (1, [float(x) for x in base * 1.0001]),  # near-dup of 0
        (2, [float(x) for x in rng.uniform(-1, 1, size=1024)]),
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    got = {
        r["vec_id"]: r["b"]
        for r in df.select(
            "vec_id",
            similarity.hyperplane_bucket_col(F.col("embedding"), 8).alias("b"),
        ).collect()
    }
    for vid, vec in rows:
        assert got[vid] == similarity.bucket_py(vec, 8), vid
    pairs = dedup.embedding_neardup_pairs(
        df, n_planes=4, min_cosine=0.99
    ).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(0, 1)]


def test_streaming_dedup_across_micro_batches(spark, tmp_path):
    """Exact dedup with cross-epoch state: duplicates spread over three
    micro-batch files collapse to one keeper per fingerprint; keepers are
    group members; the fingerprint set matches the batch computation."""
    import pandas as pd

    from cuda_float_compress_spark.streaming import run_streaming_dedup

    src = tmp_path / "sd_src"
    src.mkdir()
    rows = [
        # file 0: two dups of A, one B
        [(0, "alpha  text"), (1, "alpha text"), (2, "bravo text")],
        # file 1: A again (later epoch — must be suppressed), C
        [(3, "alpha text"), (4, "charlie text")],
        # file 2: B again, D, blank
        [(5, "bravo text"), (6, "delta text"), (7, "   ")],
    ]
    for i, chunk in enumerate(rows):
        pd.DataFrame(chunk, columns=["doc_id", "text"]).to_parquet(
            src / f"part{i}.parquet"
        )
    docs = spark.read.parquet(str(src))
    from cuda_float_compress_spark.operators.dedup import exact_dedup

    # default = raw md5(text): the streaming keep-list agrees with batch
    # exact_dedup on EVERY document — including docs 0/1, which differ only
    # in whitespace and must stay distinct (the batch/oracle contract)
    out = run_streaming_dedup(
        spark, str(src), max_files_per_trigger=1,
        query_name="sdtest",
    ).collect()
    keep = {r["fingerprint"]: r["doc_id"] for r in out}
    batch = {
        r["text_md5"]: r["keep_id"]
        for r in exact_dedup(docs, "doc_id").collect()
    }
    assert set(keep) == set(batch)  # same fingerprint universe
    # every keeper belongs to its group; first-epoch-wins means the batch
    # min-id and streaming keeper agree whenever the min id is in the
    # earliest epoch containing the group (true for this fixture)
    assert keep == batch, (keep, batch)

    # normalize_ws=True is the documented LOOSER key: whitespace-differing
    # dups merge, matching batch exact_dedup over ws-normalized text
    out_ws = run_streaming_dedup(
        spark, str(src), max_files_per_trigger=1,
        query_name="sdtest_ws", normalize_ws=True,
    ).collect()
    keep_ws = {r["fingerprint"]: r["doc_id"] for r in out_ws}
    batch_ws = {
        r["text_md5"]: r["keep_id"]
        for r in exact_dedup(
            docs.withColumn(
                "text", F.regexp_replace(F.trim("text"), r"\s+", " ")
            ),
            "doc_id",
        ).collect()
    }
    assert keep_ws == batch_ws, (keep_ws, batch_ws)
    assert len(keep_ws) < len(keep)  # docs 0/1 merged under the loose key


def test_streaming_minhash_dedup_across_epochs(spark, tmp_path):
    """Cross-epoch NEAR-dup state: banded minhash signatures streamed over
    three micro-batch files agree with the batch
    minhash_lsh_candidates -> keep-list composition; state is one keeper id
    per (band, key) bucket, never documents."""
    import pandas as pd

    from cuda_float_compress_spark.streaming import run_streaming_minhash_dedup

    src = tmp_path / "smh_src"
    src.mkdir()
    base_a = "the quick brown fox jumps over the lazy dog near the river bank today"
    base_b = "completely different content about spark compression engines at scale now"
    epochs = [
        # epoch 0: group A (exact + one-word-changed near-dup), a singleton
        [(0, base_a), (1, base_a.replace("lazy", "sleepy")),
         (2, "unique words nothing shared here at all zero overlap whatsoever")],
        # epoch 1: A again (must dedup against epoch-0 state), group B begins
        [(3, base_a), (4, base_b)],
        # epoch 2: B near-dup + another singleton
        [(5, base_b.replace("engines", "systems")),
         (6, "another totally distinct document with its own private vocabulary")],
    ]
    for i, chunk in enumerate(epochs):
        pd.DataFrame(chunk, columns=["doc_id", "text"]).to_parquet(
            src / f"part{i}.parquet"
        )
    out = run_streaming_minhash_dedup(
        spark, str(src), max_files_per_trigger=1, query_name="smhtest"
    ).collect()
    got = {r["doc_id"]: (r["kept"], r["dup_of"]) for r in out}
    assert set(got) == set(range(7))

    docs = spark.read.parquet(str(src))
    cands = dedup.minhash_lsh_candidates(
        docs, "doc_id", shingle_mode="word"
    ).collect()
    cand_pairs = {(r["id_a"], r["id_b"]) for r in cands}
    batch_keep = {
        r["doc_id"]
        for r in dedup.dedup_keep_list(
            docs, dedup.minhash_lsh_candidates(docs, "doc_id", shingle_mode="word"),
            "doc_id",
        ).collect()
    }
    # ids increase with arrival, so first-seen == min id: the streaming keep
    # set equals the batch keep-list for these bucket-shaped groups
    stream_keep = {d for d, (kept, _) in got.items() if kept}
    assert stream_keep == batch_keep, (stream_keep, batch_keep)
    # every streaming dup points at a batch-candidate partner
    for d, (kept, dup_of) in got.items():
        if not kept:
            assert (min(dup_of, d), max(dup_of, d)) in cand_pairs, (d, dup_of)
    # exact dups MUST be caught across epochs (doc 3 == doc 0)
    assert got[3] == (False, 0)
    # state is O(buckets): one keeper per distinct (band, key) — the batch
    # banding yields the identical bucket set
    from cuda_float_compress_spark.operators.dedup import minhash_banded_keys

    n_buckets = (
        minhash_banded_keys(docs, "doc_id", shingle_mode="word")
        .select("band", "key").distinct().count()
    )
    stream_buckets = spark.sql(
        "SELECT COUNT(DISTINCT band, key) AS n FROM smhtest"
    ).collect()[0]["n"]
    assert stream_buckets == n_buckets
    assert n_buckets <= 4 * 7  # bands * docs upper bound


def test_streaming_minhash_dedup_verified_equals_batch(spark, tmp_path):
    """Streaming near-dup + epoch-end exact-Jaccard verification == the batch
    minhash_lsh_pairs -> dedup_keep_list composition EXACTLY (the sink holds
    every (band, key, id) row, so the verifier reconstructs the batch
    candidate set by construction, then runs the same verify + keep-list)."""
    import pandas as pd

    from cuda_float_compress_spark.operators import dedup
    from cuda_float_compress_spark.streaming import (
        run_streaming_minhash_dedup_verified,
    )

    src = tmp_path / "smhv_src"
    src.mkdir()
    base_a = "the quick brown fox jumps over the lazy dog near the river bank today"
    base_b = "completely different content about spark compression engines at scale now"
    epochs = [
        [(0, base_a), (1, base_a.replace("lazy", "sleepy")),
         (2, "unique words nothing shared here at all zero overlap whatsoever")],
        # a LOW-similarity rewrite that still lands in some shared band is
        # exactly what in-stream state must admit as a candidate and the
        # epoch-end verify must then reject; the exact-equality assertion
        # below holds regardless of which side of the threshold it falls
        [(3, base_a), (4, base_b),
         (5, "the quick brown fox sat beside a very lazy dog in deep snow")],
        [(6, base_b.replace("engines", "systems")),
         (7, "another totally distinct document with its own private vocabulary")],
    ]
    for i, chunk in enumerate(epochs):
        pd.DataFrame(chunk, columns=["doc_id", "text"]).to_parquet(
            src / f"part{i}.parquet"
        )
    stream_keep = {
        r["doc_id"]
        for r in run_streaming_minhash_dedup_verified(
            spark, str(src), shingle_mode="word", query_name="smhvtest",
            max_files_per_trigger=1,
        ).collect()
    }
    docs = spark.read.parquet(str(src))
    batch_pairs = dedup.minhash_lsh_pairs(docs, "doc_id", shingle_mode="word")
    batch_keep = {
        r["doc_id"]
        for r in dedup.dedup_keep_list(docs, batch_pairs, "doc_id").collect()
    }
    assert stream_keep == batch_keep, (stream_keep, batch_keep)
    # the verify step must have dropped at least the exact re-arrival (doc 3)
    assert 3 not in stream_keep and 0 in stream_keep


def test_session_windows(spark):
    """Structured Streaming session_window == the batch window-function twin
    (same gap semantics on this data; an event exactly at last+gap would
    differ — streaming closes at >=, batch at > — none exists in the fixture)."""
    from cuda_float_compress_spark.streaming import run_session_windows

    stream_out = run_session_windows(
        spark, f"{SF}/events.parquet", gap_minutes=30, query_name="t_sw"
    )
    batch = (
        sessionize_batch(spark.read.parquet(f"{SF}/events.parquet"), gap_minutes=30)
        .select("user_id", "session_start", "n_events")
    )
    assert stream_out.exceptAll(batch).count() == 0
    assert batch.exceptAll(stream_out).count() == 0


def test_bpe_token_count_matches_python_re(spark):
    """The BPE-ish regex counter equals Python's regex module applied to the
    same pattern (incl CJK, contractions, empty, punctuation runs)."""
    import re

    texts = ["", "it's a test", "页面 新闻 page", "a1b2 33  ...!!", "  "]
    py_pat = re.compile(
        r"'s|'t|'re|'ve|'m|'ll|'d| ?[^\W\d_]+| ?\d+| ?[^\s\w]+|\s+"
    )
    # use the exact engine pattern via java/duckdb classes; for the python
    # twin, \p{L}/\p{N} map to [^\W\d_] / \d for these inputs
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["id", "text"])
    got = {r["id"]: r["n_bpe_tokens"]
           for r in text.with_bpe_token_count(df).collect()}
    for i, t in enumerate(texts):
        assert got[i] == len(py_pat.findall(t)), (i, t)


def test_rolling_fingerprint_matches_python(spark):
    texts = ["", "abc", "и в не", "页面", "x" * 300]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["id", "text"])
    got = {r["id"]: r["rolling_fp"]
           for r in text.with_rolling_fingerprint(df).collect()}
    for i, t in enumerate(texts):
        h = 0
        for ch in t:
            h = (h * 31 + ord(ch)) % 1_000_000_007
        assert got[i] == h, (i, t)


def test_connected_components_and_keep_list(spark):
    """Chain a-b, b-c plus isolated d: one component {1,2,3} labeled 1,
    singleton 4 labels itself; keep-list = {1, 4}."""
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4]], ["id"])
    comp = {r["id"]: r["component"]
            for r in dedup.connected_components(pairs, nodes).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 4}
    docs = spark.createDataFrame([(i, f"t{i}") for i in [1, 2, 3, 4]],
                                 ["doc_id", "text"])
    keep = {r["doc_id"] for r in dedup.dedup_keep_list(docs, pairs, "doc_id").collect()}
    assert keep == {1, 4}


def test_connected_components_long_chain(spark):
    """A 40-node path graph: min label must traverse the full diameter
    (exercises the doubling rounds, not just 1-hop propagation)."""
    pairs = spark.createDataFrame([(i, i + 1) for i in range(39)], ["id_a", "id_b"])
    nodes = spark.createDataFrame([(i,) for i in range(40)], ["id"])
    comp = dedup.connected_components(pairs, nodes)
    assert comp.filter(F.col("component") != 0).count() == 0


def test_connected_components_random_vs_union_find(spark):
    """Randomized graphs cross-checked against a python union-find oracle."""
    import random

    rnd = random.Random(77)
    n = 120
    edges = [(rnd.randrange(n), rnd.randrange(n)) for _ in range(90)]
    edges = [(a, b) for a, b in edges if a != b]
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {i: find(i) for i in range(n)}
    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], ["id_a", "id_b"]
    )
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["id"])
    got = {r["id"]: r["component"]
           for r in dedup.connected_components(pairs, nodes).collect()}
    assert got == expected


def test_asof_join_semantics(spark):
    """Inclusive as-of semantics: equal-ts right row IS visible; earlier
    rights are shadowed by later ones; keys with no prior right get null."""
    from cuda_float_compress_spark.operators import relational

    left = spark.createDataFrame(
        [(1, "u", 100), (2, "u", 200), (3, "u", 50), (4, "v", 10)],
        "event_id long, k string, ts long",
    )
    right = spark.createDataFrame(
        [("u", 100, 1.0), ("u", 150, 2.0)], "k string, ts long, v double"
    )
    out = {r["event_id"]: r["asof_v"] for r in relational.asof_join(
        left, right, "k", "ts", ["v"]).collect()}
    assert out == {1: 1.0, 2: 2.0, 3: None, 4: None}


def test_kmv_distinct_exact_and_estimate(spark):
    from cuda_float_compress_spark.operators import relational

    small = spark.createDataFrame([(f"v{i % 7}",) for i in range(100)], ["x"])
    r = relational.kmv_distinct(small, "x", k=64).collect()[0]
    assert r["distinct_estimate"] == 7.0 and r["n_kept"] == 7  # exact path
    big = spark.createDataFrame([(f"val{i}",) for i in range(5000)], ["x"])
    r2 = relational.kmv_distinct(big, "x", k=256).collect()[0]
    assert r2["n_kept"] == 256
    assert 3500 < r2["distinct_estimate"] < 6500  # ~±2/sqrt(k) accuracy


def test_range_join_bucketized_matches_naive(spark):
    from cuda_float_compress_spark.operators import relational

    pts = spark.createDataFrame(
        [(i, "k", i * 10) for i in range(100)], "pid long, k string, t long"
    )
    ivs = spark.createDataFrame(
        [("k", 95, 250), ("k", 240, 241), ("k", 900, 1200)],
        "k string, s long, e long",
    )
    got = {(r["pid"], r["s"]) for r in relational.range_join_points_to_intervals(
        pts, ivs, "k", "t", "s", "e", bucket_width=37).collect()}
    naive = {(p, s) for p in range(100) for (s, e) in [(95, 250), (240, 241), (900, 1200)]
             if s <= p * 10 < e}
    assert got == naive and len(got) > 0


def test_asof_join_random_vs_duckdb_native(spark):
    """3000 random (key, ts) points against DuckDB's native ASOF JOIN —
    the composition must match the real primitive row-for-row."""
    import random

    import duckdb

    rnd = random.Random(123)
    left = [(i, f"k{rnd.randrange(8)}", rnd.randrange(1000)) for i in range(3000)]
    right_raw = {(f"k{rnd.randrange(8)}", rnd.randrange(1000)): rnd.random()
                 for _ in range(200)}
    right = [(k, t, round(v, 6)) for (k, t), v in right_raw.items()]
    from cuda_float_compress_spark.operators import relational

    ldf = spark.createDataFrame(left, "pid long, k string, ts long")
    rdf = spark.createDataFrame(right, "k string, ts long, v double")
    got = {r["pid"]: r["asof_v"] for r in relational.asof_join(
        ldf, rdf, "k", "ts", ["v"]).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE l(pid BIGINT, k VARCHAR, ts BIGINT)")
    con.executemany("INSERT INTO l VALUES (?,?,?)", left)
    con.execute("CREATE TABLE r(k VARCHAR, ts BIGINT, v DOUBLE)")
    con.executemany("INSERT INTO r VALUES (?,?,?)", right)
    exp = {pid: v for pid, v in con.execute(
        "SELECT l.pid, r.v FROM l ASOF LEFT JOIN r "
        "ON l.k = r.k AND l.ts >= r.ts").fetchall()}
    assert got == exp


def test_null_inputs_through_lsh_ops(spark):
    """Review regressions: NULL text / NULL vectors must flow through the
    pandas-UDF paths without crashing, and NULL vectors never pair."""
    docs = spark.createDataFrame(
        [(1, None), (2, "some text here"), (3, "some text here")],
        "doc_id long, text string",
    )
    sh = {r["doc_id"]: r["simhash"] for r in dedup.with_simhash(docs).collect()}
    assert sh[1] == 0 and sh[2] == sh[3] != 0
    pairs = dedup.simhash_near_dups(docs, "doc_id").collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} >= {(2, 3)}

    vecs = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, None), (3, [1.0, 2.0])],
        "vec_id long, embedding array<float>",
    )
    got = dedup.embedding_neardup_pairs(vecs, n_planes=4, min_cosine=0.99).collect()
    assert {(r["id_a"], r["id_b"]) for r in got} == {(1, 3)}  # null never pairs


def test_asof_join_null_right_value(spark):
    """A matched right row with a NULL value must yield NULL (not an older
    snapshot's value) — real ASOF JOIN semantics."""
    from cuda_float_compress_spark.operators import relational

    left = spark.createDataFrame([(1, "k", 10), (2, "k", 30)],
                                 "pid long, k string, ts long")
    right = spark.createDataFrame([("k", 5, 7.0), ("k", 20, None)],
                                  "k string, ts long, v double")
    out = {r["pid"]: r["asof_v"] for r in relational.asof_join(
        left, right, "k", "ts", ["v"]).collect()}
    assert out == {1: 7.0, 2: None}


def test_kmv_ignores_nulls(spark):
    from cuda_float_compress_spark.operators import relational

    df = spark.createDataFrame([(None,)] * 50 + [(f"v{i}",) for i in range(9)],
                               "x string")
    r = relational.kmv_distinct(df, "x", k=64).collect()[0]
    assert r["distinct_estimate"] == 9.0 and r["n_kept"] == 9


