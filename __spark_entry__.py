"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: encode the sf0.001 tables with the compression
engine, decode, and return the per-column round-trip/compression report.

``queries()`` / ``oracle_sql()`` — one entry per implemented operator
(SURVEY.md §2 + the training-data-pipeline ops). Spark runs the DataFrame
implementation; DuckDB runs the oracle SQL on the same parquet views.
Column names/aliases match exactly on both sides; float aggregates are
rounded identically; timestamps are exported as epoch integers to dodge
dialect formatting.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

SCRATCH = "/root/repo/.scratch"


def _minhash_perm_sql() -> str:
    """The 16 xor-permutation minhash components as SQL expressions, with the
    same K_i = hash60("minhash-perm-i") constants the Spark operator embeds
    (cuda_float_compress_spark/operators/dedup.py: minhash_signature)."""
    import hashlib

    ks = [
        int(hashlib.md5(f"minhash-perm-{i}".encode()).hexdigest()[:15], 16)
        for i in range(16)
    ]
    return ", ".join(
        f"list_min(list_transform(hv, h -> xor(h, {k}::BIGINT)))" for k in ks
    )


_MINHASH_PERM_SQL = _minhash_perm_sql()


def _word_shingle_hash_sql(w: int = 5, rot_step: int = 8) -> str:
    """SQL twin of the engine's word-shingle hash (operators/dedup.py:
    with_shingle_hashes, word mode): window i's hash = XOR over positions
    j of rot60(word_hash[i+j], 8*j), with out-of-range words as 0. All
    shift/and/or/xor arithmetic on non-negative 60-bit BIGINTs — bit-exact
    across engines."""
    terms = []
    for j in range(w):
        r = (rot_step * j) % 60  # same mod-60 reduction as the engine _rot60
        idx = f"i + {j}" if j else "i"
        val = f"coalesce(w[{idx}], 0)"
        if r == 0:
            t = val
        else:
            low = (1 << (60 - r)) - 1
            t = f"((({val}) & {low}) << {r}) | (({val}) >> {60 - r})"
        terms.append(f"({t})")
    expr = terms[0]
    for t in terms[1:]:
        expr = f"xor({expr}, {t})"
    return expr


_WORD_SHINGLE_HASH_SQL = _word_shingle_hash_sql()

# shared CTE recomputing the engine's stopword-marker language ID
# (operators/text.py:lang_id_col) — used by lang_id_pred and clean_corpus
_LANG_PRED_CTE = """scores AS (
                SELECT doc_id,
                   len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is)\\b'))      AS s_en,
                   len(regexp_extract_all(lower(text), '\\b(der|die|das|und|ist)\\b'))   AS s_de,
                   len(regexp_extract_all(lower(text), '\\b(le|la|les|est|avec)\\b'))    AS s_fr,
                   len(regexp_extract_all(lower(text), '\\b(el|los|es|para|con)\\b'))    AS s_es,
                   len(regexp_extract_all(lower(text), '\\b(\u0438|\u043d\u0435|\u043d\u0430|\u0447\u0442\u043e|\u044d\u0442\u043e)\\b')) AS s_ru,
                   len(regexp_extract_all(lower(text), '\\b(o|que|do|da|em)\\b'))        AS s_pt
                FROM documents
            ),
            lang AS (
                SELECT doc_id,
                   CASE WHEN greatest(s_en,s_de,s_fr,s_es,s_ru,s_pt) = 0 THEN 'und'
                        WHEN s_en = greatest(s_en,s_de,s_fr,s_es,s_ru,s_pt) THEN 'en'
                        WHEN s_de = greatest(s_en,s_de,s_fr,s_es,s_ru,s_pt) THEN 'de'
                        WHEN s_fr = greatest(s_en,s_de,s_fr,s_es,s_ru,s_pt) THEN 'fr'
                        WHEN s_es = greatest(s_en,s_de,s_fr,s_es,s_ru,s_pt) THEN 'es'
                        WHEN s_ru = greatest(s_en,s_de,s_fr,s_es,s_ru,s_pt) THEN 'ru'
                        ELSE 'pt' END AS lang_pred
                FROM scores
            )"""

# shared CTE chain recomputing the engine's 60-bit SimHash signatures,
# 15-bit-block LSH buckets (capped), and candidate pairs in DuckDB SQL —
# used by both the simhash_pairs oracle and the dup_components oracle
_SIMHASH_CTES = """
            tok AS (
                SELECT doc_id,
                       CASE WHEN length(trim(text)) = 0 THEN []
                            ELSE string_split_regex(trim(text), '\\s+') END AS toks
                FROM documents
            ),
            th AS (
                SELECT doc_id,
                       list_transform(toks, t -> ('0x' || substr(md5(t),1,15))::BIGINT) AS hv
                FROM tok
            ),
            bits AS (
                SELECT doc_id, len(hv) AS n, b,
                       len(list_filter(hv, h -> (h >> b) & 1 = 1)) AS ones
                FROM th, range(0, 60) t(b)
            ),
            sig AS (
                SELECT doc_id,
                       sum(CASE WHEN n > 0 AND ones * 2 >= n
                                THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
                FROM bits GROUP BY doc_id
            ),
            blocks AS (
                SELECT doc_id, c, (simhash >> (15*c)) & 32767 AS key
                FROM sig, range(0, 4) t(c)
            ),
            buckets AS (
                SELECT c, key, list_slice(list_sort(list(doc_id)), 1, 128) AS members
                FROM blocks GROUP BY c, key
            ),
            cand AS (
                SELECT DISTINCT pair[1] AS id_a, pair[2] AS id_b FROM (
                    SELECT unnest(flatten([[[x, y] for y in members if x < y]
                                           for x in members])) AS pair
                    FROM buckets WHERE len(members) > 1
                )
            )"""


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Encode sf0.001 documents through the compression engine, decode, and
    report per-column round-trip status + compression ratio."""
    from cuda_float_compress_spark.operators.decode import decode_table
    from cuda_float_compress_spark.operators.encode import encode_table
    from cuda_float_compress_spark.operators.verify import verify_roundtrip

    sf_dir = "/root/testdata/sf0.001"
    out = f"{SCRATCH}/entry_{uuid.uuid4().hex[:8]}"
    try:
        docs = _read(spark, sf_dir, "documents").withColumn(
            "url", F.concat(F.lit("doc://d/"), F.col("doc_id"))
        )
        encode_table(spark, docs, out, n_parts=8, resume=False)
        decoded = decode_table(spark, out)
        report = verify_roundtrip(docs, decoded, "url")
        manifest = spark.read.parquet(f"{out}/manifest")
        sizes = manifest.groupBy("col").agg(
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("enc_bytes").alias("enc_bytes"),
        )
        result = (
            report.join(sizes, report["column"] == sizes["col"], "left")
            .select(
                "column",
                "n_rows",
                "n_match",
                "ok",
                "raw_bytes",
                "enc_bytes",
                F.round(
                    F.col("raw_bytes") / F.greatest(F.col("enc_bytes"), F.lit(1)), 3
                ).alias("ratio"),
            )
            .orderBy("column")
        )
        result = result.cache()
        result.count()
        return result
    finally:
        shutil.rmtree(out, ignore_errors=True)


# ---------------------------------------------------------------------------
# queries — Spark DataFrame implementations
# ---------------------------------------------------------------------------


def _q1_pricing_summary(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


def _q3_top_orders(spark, sf_dir):
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    # dimension side broadcast: customer is tiny relative to lineitem
    j = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
    )
    return (
        j.groupBy("l_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


def _q5_nation_revenue(spark, sf_dir):
    region = _read(spark, sf_dir, "region")
    nation = _read(spark, sf_dir, "nation")
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    j = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
    )
    return j.groupBy("n_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
        F.count("*").alias("n_items"),
    )


def _filtered_scan_agg(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_discount") > 0.05)
        )
        .select("l_quantity", "l_extendedprice")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )


def _window_topk_docs(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    return (
        docs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("lang", "doc_id", "n_chars", "rnk")
    )


def _rollup_events(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    return (
        ev.rollup("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.coalesce(F.col("event_type"), F.lit("<all>")).alias("event_type"),
            "n",
            "sum_value",
        )
    )


def _cube_events(spark, sf_dir):
    """CUBE over (event_type, user bucket): all four grouping-set combos in
    one pass, disambiguated by grouping_id — Spark's cube() and the SQL
    GROUP BY CUBE produce identical subtotal rows (grouping-id bit order:
    leftmost column = most significant bit in both engines)."""
    ev = _read(spark, sf_dir, "events").withColumn(
        "ubucket", F.pmod(F.col("user_id"), F.lit(4)).cast("int")
    )
    return (
        ev.cube("event_type", "ubucket")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.coalesce(F.col("event_type"), F.lit("<all>")).alias("event_type"),
            F.coalesce(F.col("ubucket"), F.lit(-1)).alias("ubucket"),
            F.col("gid").cast("int").alias("gid"),
            "n",
            "sum_value",
        )
    )


def _pivot_linestatus(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(
            F.sum(F.when(F.col("l_linestatus") == "O", F.col("l_quantity"))), 2
        ).alias("qty_o"),
        F.round(
            F.sum(F.when(F.col("l_linestatus") == "F", F.col("l_quantity"))), 2
        ).alias("qty_f"),
    )


def _set_ops_langs(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    sources = docs.select("source").distinct().orderBy("source").limit(1)
    a = docs.join(F.broadcast(sources), "source").select("lang").distinct()
    b = docs.join(F.broadcast(sources), "source", "left_anti").select("lang").distinct()
    return a.exceptAll(b).select(F.col("lang").alias("lang_only_in_first_source"))


def _distinct_counts(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    return ev.agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("event_type").alias("n_types"),
        F.count("*").alias("n_events"),
    )


def _events_hourly(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts").cast("timestamp"))
    return (
        ev.groupBy(F.unix_micros(hour).alias("hour_us"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


def _sessionize_users(spark, sf_dir):
    from cuda_float_compress_spark.streaming import sessionize_batch

    ev = _read(spark, sf_dir, "events")
    sess = sessionize_batch(ev, gap_minutes=30)
    return sess.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
        F.max(F.unix_micros(F.col("session_end").cast("timestamp"))).alias(
            "last_end_us"
        ),
    )


def _exact_dedup_docs(spark, sf_dir):
    from cuda_float_compress_spark.operators.dedup import exact_dedup

    docs = _read(spark, sf_dir, "documents")
    return exact_dedup(docs, "doc_id")


def _token_counts(spark, sf_dir):
    from cuda_float_compress_spark.operators.text import with_token_count

    docs = _read(spark, sf_dir, "documents")
    return with_token_count(docs).select("doc_id", "n_tokens")


def _quality_scores(spark, sf_dir):
    from cuda_float_compress_spark.operators.text import with_quality_score

    docs = _read(spark, sf_dir, "documents")
    return with_quality_score(docs).select(
        "doc_id", "punct_ratio", "digit_ratio", "upper_ratio", "mean_word_len"
    )


def _bpe_token_counts(spark, sf_dir):
    from cuda_float_compress_spark.operators.text import with_bpe_token_count

    docs = _read(spark, sf_dir, "documents")
    return with_bpe_token_count(docs).select("doc_id", "n_bpe_tokens")


def _rolling_fingerprints(spark, sf_dir):
    from cuda_float_compress_spark.operators.text import with_rolling_fingerprint

    docs = _read(spark, sf_dir, "documents")
    return with_rolling_fingerprint(docs).select("doc_id", "rolling_fp")


def _doc_fingerprints(spark, sf_dir):
    from cuda_float_compress_spark.operators.text import with_fingerprint

    docs = _read(spark, sf_dir, "documents")
    return with_fingerprint(docs).select("doc_id", "fingerprint")


def _dup_text_groups(spark, sf_dir):
    from cuda_float_compress_spark.operators.dedup import exact_dup_groups

    docs = _read(spark, sf_dir, "documents")
    return exact_dup_groups(docs, "doc_id")


def _query_vec0(sf_dir: str) -> list:
    """The vec_id=0 query embedding, read driver-side with pyarrow: one
    row from a local parquet file does not need a Spark job (the old
    filter+collect cost a full scan job per embedding query). The filter
    is pushed into the read, so only that row is materialized."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["embedding"],
                      filters=[("vec_id", "==", 0)])
    return t["embedding"][0].as_py()


def _embedding_topk(spark, sf_dir):
    from cuda_float_compress_spark.operators.similarity import cosine_topk

    emb = _read(spark, sf_dir, "embeddings")
    qv = _query_vec0(sf_dir)
    return cosine_topk(emb.filter(F.col("vec_id") != 0), list(qv), k=10).select(
        "vec_id", F.round("cosine", 3).alias("cos3")
    )


def _minhash_dedup_pairs(spark, sf_dir):
    """MinHash-LSH candidates (portable md5-60bit signatures, capped buckets)
    verified with exact shingle Jaccard — the oracle recomputes the identical
    signatures, band keys, bucket caps, and Jaccard in SQL."""
    from cuda_float_compress_spark.operators.dedup import minhash_lsh_pairs

    docs = _read(spark, sf_dir, "documents")
    # word shingles: the standard large-corpus MinHash configuration
    # (~word-length x fewer hashed elements than char shingles)
    return minhash_lsh_pairs(docs, "doc_id", threshold=0.8, shingle_mode="word")


def _simhash_pairs(spark, sf_dir):
    """60-bit SimHash near-dup pairs (15-bit block LSH, capped buckets) —
    signature and blocking reproduced exactly by the SQL oracle."""
    from cuda_float_compress_spark.operators.dedup import simhash_near_dups

    docs = _read(spark, sf_dir, "documents")
    return simhash_near_dups(docs, "doc_id", max_hamming=3)


def _dup_components(spark, sf_dir):
    """Duplicate-group assembly: SimHash near-dup pairs -> connected
    components (iterative min-label propagation) -> one component id per
    document. The oracle computes the identical fixpoint with a recursive
    CTE over the same pair graph."""
    from cuda_float_compress_spark.operators.dedup import (
        connected_components,
        simhash_near_dups,
    )

    docs = _read(spark, sf_dir, "documents")
    pairs = simhash_near_dups(docs, "doc_id", max_hamming=3)
    comp = connected_components(
        pairs, docs.select(F.col("doc_id").alias("id")), "id"
    )
    return comp.select(F.col("id").alias("doc_id"), "component")


def _dedup_keep_list(spark, sf_dir):
    """The deduplicated corpus keep-list: SimHash near-dup pairs -> connected
    components -> one representative (min id) per component, singletons kept.
    This is the row-level output a training pipeline actually materializes."""
    from cuda_float_compress_spark.operators.dedup import (
        dedup_keep_list,
        simhash_near_dups,
    )

    docs = _read(spark, sf_dir, "documents")
    pairs = simhash_near_dups(docs, "doc_id", max_hamming=3)
    return dedup_keep_list(docs, pairs, "doc_id")


def _clean_corpus(spark, sf_dir):
    """The composed training-data endpoint: exact-dedup keep-list AND
    language filter AND quality filters in one pass — what a 100 TB corpus
    pipeline materializes before tokenization. Every ingredient is its own
    oracle-green query; this verifies their composition."""
    from cuda_float_compress_spark.operators.text import (
        quality_score_cols,
        with_lang_id,
    )

    docs = _read(spark, sf_dir, "documents")
    cols = quality_score_cols(F.col("text"))
    q = docs.withColumn("punct_ratio", cols["punct_ratio"]).withColumn(
        "nc", cols["n_chars"]
    )
    # cheap ratio/length predicates FIRST, then the 6-regex language ID only
    # on survivors — at 100 TB the ordering is most of the query's cost
    cheap = q.filter((F.col("punct_ratio") <= 0.2) & (F.col("nc") >= 100))
    good = with_lang_id(cheap).filter(F.col("lang_pred") == "en")
    # exact-dedup keep rule applied AFTER the filters with one window over
    # the survivors (3 narrow columns shuffle once), replacing the old
    # full-corpus groupBy + left-semi join (two shuffles + a second table
    # scan). Identical result: exact duplicates share the text bytes, so
    # every quality/lang predicate passes or fails for the whole group
    # together — the min-id member of a surviving group is also the
    # group's global min-id keeper.
    sel = good.select("doc_id", "punct_ratio",
                      F.md5(F.col("text")).alias("__md5"))
    keep_min = F.min("doc_id").over(W.partitionBy("__md5"))
    return (
        sel.withColumn("__min_id", keep_min)
        .filter(F.col("doc_id") == F.col("__min_id"))
        .select("doc_id", "punct_ratio")
    )


def _stratified_sample(spark, sf_dir):
    """Deterministic hash-based stratified sampling: per-language keep rates
    (en 30%, others 10%) decided by hash60(doc_id) % 1000 — reproducible on
    any engine, no RNG, no shuffle (a pure filter that fuses into the scan)."""
    from cuda_float_compress_spark.operators.dedup import hash60_col

    docs = _read(spark, sf_dir, "documents")
    rate = F.when(F.col("lang") == "en", F.lit(300)).otherwise(F.lit(100))
    bucket = F.pmod(hash60_col(F.col("doc_id").cast("string")), F.lit(1000))
    return docs.filter(bucket < rate).select("doc_id", "lang")


def _bigram_topk(spark, sf_dir):
    """Top-20 word bigrams (n-gram counting — the LLM-corpus staple)."""
    docs = _read(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(20)
    )


def _top_ngram_stats(spark, sf_dir):
    """Top unigram/bigram concentration per doc (Gopher repetition rule):
    distributed explode+groupBy, partial-agg-bounded shuffle."""
    from cuda_float_compress_spark.operators.text import top_ngram_fractions

    docs = _read(spark, sf_dir, "documents")
    return top_ngram_fractions(docs)


def _url_canonical_dedup(spark, sf_dir):
    """URL canonicalization for URL-level dedup: deterministic messy URLs
    (mixed-case hosts, default ports, fragments, utm/gclid tracking params,
    root slashes, non-default ports kept) synthesized from doc_id, then the
    rule-chain canonicalizer + host extraction. The oracle replays the
    IDENTICAL chain in DuckDB's regex dialect."""
    from cuda_float_compress_spark.operators.text import with_canonical_url

    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("string")
    url = (
        F.when(F.col("doc_id") % 6 == 0,
               F.concat(F.lit("HTTP://WWW.Example.COM:80/Path"), d,
                        F.lit("/?utm_source=x&id="), d))
        .when(F.col("doc_id") % 6 == 1,
              F.concat(F.lit("https://Example.com:443/a/"), d,
                       F.lit("#frag")))
        .when(F.col("doc_id") % 6 == 2, F.lit("https://Shop.example.com/"))
        .when(F.col("doc_id") % 6 == 3,
              F.concat(F.lit("http://sub.EXAMPLE.com/p"), d,
                       F.lit("?a=1&utm_medium=m")))
        .when(F.col("doc_id") % 6 == 4,
              F.concat(F.lit("https://other.org/x?gclid=123&utm_campaign=c"
                             "&q="), d))
        .otherwise(F.concat(F.lit("http://news.example.com:8080/v?id="), d))
    )
    seeded = docs.select("doc_id", url.alias("url"))
    return with_canonical_url(seeded).select("doc_id", "canon_url", "host")


def _repetition_scores(spark, sf_dir):
    """Within-document repetition (duplicate-line / duplicate-word
    fractions) — the Gopher-style boilerplate signal."""
    from cuda_float_compress_spark.operators.text import with_repetition_scores

    docs = _read(spark, sf_dir, "documents")
    return with_repetition_scores(docs).select(
        "doc_id", "n_lines", "dup_line_frac", "dup_word_frac"
    )


def _doc_freq_topk(spark, sf_dir):
    """Document frequency per token, top 20 — the df side of tf-idf and the
    cheap stopword detector (distinct tokens per doc, then a count)."""
    docs = _read(spark, sf_dir, "documents")
    toks = F.array_distinct(F.split(F.trim(F.col("text")), r"\s+"))
    return (
        docs.select(F.explode(toks).alias("token"))
        .filter(F.length("token") > 0)
        .groupBy("token")
        .agg(F.count("*").alias("df"))
        .orderBy(F.col("df").desc(), "token")
        .limit(20)
    )


def _ann_lsh_topk(spark, sf_dir):
    from cuda_float_compress_spark.operators.similarity import ann_lsh_topk

    emb = _read(spark, sf_dir, "embeddings")
    qv = _query_vec0(sf_dir)
    return ann_lsh_topk(emb, list(qv), k=10, n_planes=6).select(
        "vec_id", F.round("cosine", 3).alias("cos3")
    )


def _ivf_topk(spark, sf_dir):
    """IVF approximate nearest neighbors: deterministic integer-grid k-means
    coarse quantizer (lowest-id init + 2 Lloyd iterations, trunc-div centroid
    updates), integer-grid list assignment, nprobe=4 probe, exact cosine
    inside probed lists — the oracle replays TRAINING and assignment in SQL."""
    from cuda_float_compress_spark.operators.similarity import ivf_topk

    emb = _read(spark, sf_dir, "embeddings")
    qv = _query_vec0(sf_dir)
    return ivf_topk(emb, list(qv), k=10, n_lists=16, nprobe=4).select(
        "vec_id", F.round("cosine", 3).alias("cos3")
    )


def _embedding_neardup(spark, sf_dir):
    """Embedding near-dup pairs over the corpus plus 50 injected exact
    duplicates (deterministic construction the oracle replicates): hyperplane
    LSH buckets (integer projections), capped, exact cosine verify."""
    from cuda_float_compress_spark.operators.dedup import embedding_neardup_pairs

    emb = _read(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dups = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    return embedding_neardup_pairs(emb.unionByName(dups), min_cosine=0.99)


def _pushdown_decode_agg(spark, sf_dir):
    """End-to-end predicate pushdown through the ENCODED table: encode
    documents, decode only (lang, n_chars) with an n_chars zone-map predicate
    (chunks pruned before any payload read), aggregate — the oracle
    recomputes from the raw table."""
    from cuda_float_compress_spark.operators.direct import decode_table_direct
    from cuda_float_compress_spark.operators.encode import encode_table

    out = f"{SCRATCH}/q_{uuid.uuid4().hex[:8]}"
    try:
        docs = _read(spark, sf_dir, "documents").withColumn(
            "url", F.concat(F.lit("doc://d/"), F.col("doc_id"))
        )
        encode_table(spark, docs, out, n_parts=8, resume=False,
                     sort_keys=["n_chars"])
        dec = decode_table_direct(
            spark, out, columns=["lang", "n_chars"],
            predicates=[("n_chars", ">=", 300)],
        )
        res = (
            dec.groupBy("lang")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("n_chars").alias("sum_chars"),
            )
            .cache()
        )
        res.count()
        return res
    finally:
        shutil.rmtree(out, ignore_errors=True)


def _pushdown_decode_agg_in(spark, sf_dir):
    """IN-list predicate pushdown through the ENCODED table: encode documents
    sorted by lang, decode (lang, n_chars) with lang IN ('de','zh') — the
    zone maps keep a chunk when ANY list member could fall in its
    [vmin, vmax] prefix range, pruning before any payload read; the exact
    isin filter then applies to decoded rows. Oracle recomputes from raw."""
    from cuda_float_compress_spark.operators.direct import decode_table_direct
    from cuda_float_compress_spark.operators.encode import encode_table

    out = f"{SCRATCH}/q_{uuid.uuid4().hex[:8]}"
    try:
        docs = _read(spark, sf_dir, "documents").withColumn(
            "url", F.concat(F.lit("doc://d/"), F.col("doc_id"))
        )
        encode_table(spark, docs, out, n_parts=8, resume=False,
                     sort_keys=["lang"])
        dec = decode_table_direct(
            spark, out, columns=["lang", "n_chars"],
            predicates=[("lang", "in", ["de", "zh"])],
        )
        res = (
            dec.groupBy("lang")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("n_chars").alias("sum_chars"),
            )
            .cache()
        )
        res.count()
        return res
    finally:
        shutil.rmtree(out, ignore_errors=True)


def _zorder_pushdown_agg(spark, sf_dir):
    """Multi-dimensional pushdown through the ENCODED table: Z-ORDER
    cluster events on (user_id, ts) — Morton-interleaved 16-bit quantized
    key, range-partitioned then sorted within partitions — so per-chunk
    zone maps are tight on BOTH axes, then decode with a conjunctive box
    predicate (user_id range AND ts range) that prunes chunks on both
    dimensions before any payload read.  The oracle recomputes the same
    box aggregate from the raw table (correctness is plan-independent)."""
    import datetime as _dt

    from cuda_float_compress_spark.operators.direct import decode_table_direct
    from cuda_float_compress_spark.operators.encode import encode_table
    from cuda_float_compress_spark.operators.zorder import (
        ZKEY_COL,
        cluster_by_zorder,
    )

    out = f"{SCRATCH}/q_{uuid.uuid4().hex[:8]}"
    try:
        ev = _read(spark, sf_dir, "events").withColumn(
            "url",
            F.concat(F.lit("evt://u/"), F.col("user_id"),
                     F.lit("/"), F.col("event_id")),
        )
        clustered = cluster_by_zorder(ev, ["user_id", "ts"],
                                      n_parts=8, bits=16)
        encode_table(spark, clustered, out, n_parts=8, resume=False,
                     pre_partitioned=True, sort_keys=[ZKEY_COL])
        dec = decode_table_direct(
            spark, out,
            columns=["user_id", "ts", "event_type", "event_id"],
            predicates=[
                ("user_id", ">=", 2), ("user_id", "<=", 9),
                ("ts", ">=", _dt.datetime(2024, 1, 8)),
                ("ts", "<=", _dt.datetime(2024, 1, 18)),
            ],
        )
        res = (
            dec.groupBy("event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.sum("event_id").alias("sum_ids"),
            )
            .cache()
        )
        res.count()
        return res
    finally:
        shutil.rmtree(out, ignore_errors=True)


def _bloom_pushdown_lookup(spark, sf_dir):
    """Point-lookup pushdown no zone map can serve: documents are encoded
    partitioned/sorted by n_chars (so url zone maps are useless — every
    chunk spans the url space), but each chunk carries a url Bloom filter
    (~10 bits/key); an equality probe prunes all but the ~1 chunk that
    might hold the key before any payload read.  Oracle recomputes the
    lookup from the raw table — correctness is plan-independent."""
    from cuda_float_compress_spark.operators.direct import decode_table_direct
    from cuda_float_compress_spark.operators.encode import encode_table

    out = f"{SCRATCH}/q_{uuid.uuid4().hex[:8]}"
    try:
        docs = _read(spark, sf_dir, "documents").withColumn(
            "url", F.concat(F.lit("doc://d/"), F.col("doc_id"))
        )
        encode_table(spark, docs, out, n_parts=8, resume=False,
                     sort_keys=["n_chars"], bloom_cols=["url"])
        dec = decode_table_direct(
            spark, out, columns=["url", "lang", "n_chars"],
            predicates=[("url", "==", "doc://d/123")],
        )
        res = dec.select("url", "lang", "n_chars").cache()
        res.count()
        return res
    finally:
        shutil.rmtree(out, ignore_errors=True)


def _alp_decoded_prices(spark, sf_dir):
    """Lossless decimal-float round trip through the ENCODED table: encode
    lineitem (its four decimal double columns select the ALP codec —
    codecs/core.py float_alp, per the public ALP scheme), decode with an
    int-zone-map IN-list pushdown, and return the raw double values. The
    oracle reads the same rows from the raw table — any codec rounding, even
    1 ulp, breaks the hash. The reference only handles floats lossily
    (quantized, src/cuszplus_f32.cu:384-388); this pins the engine's
    LOSSLESS float frontier on real decimal data."""
    from cuda_float_compress_spark.operators.direct import decode_table_direct
    from cuda_float_compress_spark.operators.encode import encode_table

    out = f"{SCRATCH}/q_{uuid.uuid4().hex[:8]}"
    try:
        li = _read(spark, sf_dir, "lineitem").withColumn(
            "url",
            F.concat(F.lit("ord://"), F.col("l_orderkey"),
                     F.lit("/"), F.col("l_linenumber")),
        )
        encode_table(spark, li, out, n_parts=8, resume=False,
                     sort_keys=["l_orderkey", "l_linenumber"])
        dec = decode_table_direct(
            spark, out,
            columns=["l_orderkey", "l_linenumber", "l_quantity",
                     "l_extendedprice", "l_discount", "l_tax"],
            predicates=[("l_orderkey", "in", [1, 7, 32, 133])],
        )
        res = dec.select(
            "l_orderkey", "l_linenumber", "l_quantity",
            "l_extendedprice", "l_discount", "l_tax",
        ).cache()
        res.count()
        return res
    finally:
        shutil.rmtree(out, ignore_errors=True)


def _merge_on_read_delete_agg(spark, sf_dir):
    """Merge-on-read deletes on the engine's own encoded table
    (operators/deletes): encode documents, tombstone lang='de' rows by
    predicate (one distributed address scan — only (part, chunk, pos)
    rows are written, never data), decode and aggregate. The oracle
    recomputes from the raw table WITHOUT the deleted rows — resurrection
    or over-deletion breaks rows and hash. Iceberg-position-delete
    semantics on the native block format."""
    from cuda_float_compress_spark.operators.deletes import delete_rows
    from cuda_float_compress_spark.operators.direct import decode_table_direct
    from cuda_float_compress_spark.operators.encode import encode_table

    out = f"{SCRATCH}/q_{uuid.uuid4().hex[:8]}"
    try:
        docs = _read(spark, sf_dir, "documents").withColumn(
            "url", F.concat(F.lit("doc://d/"), F.col("doc_id"))
        )
        encode_table(spark, docs, out, n_parts=8, resume=False,
                     sort_keys=["doc_id"])
        delete_rows(spark, out, [("lang", "==", "de")])
        dec = decode_table_direct(spark, out, columns=["lang", "n_chars"])
        res = (
            dec.groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").alias("sum_chars"))
            .cache()
        )
        res.count()
        return res
    finally:
        shutil.rmtree(out, ignore_errors=True)


def _merge_upsert_agg(spark, sf_dir):
    """MERGE (upsert) on the engine's own encoded table
    (operators/merge.merge_rows): encode documents, then upsert — every
    doc_id % 97 == 0 row is REPLACED (lang='xx', n_chars+1000) and three
    brand-new rows insert. Old versions retire as position tombstones
    (never rewritten); new versions land as one append run on a disjoint
    part range. The oracle recomputes the merged state from the raw
    table, so a resurrected old version, a lost update, or a dropped
    insert breaks rows/hash. The reference has no row identity at all
    (src/cuda_float_compress.cpp:88-91 — compress/decompress is the
    whole API); this is the Iceberg-MERGE-INTO analog on the native
    block format."""
    from cuda_float_compress_spark.operators.direct import decode_table_direct
    from cuda_float_compress_spark.operators.encode import encode_table
    from cuda_float_compress_spark.operators.merge import merge_rows

    out = f"{SCRATCH}/q_{uuid.uuid4().hex[:8]}"
    try:
        docs = _read(spark, sf_dir, "documents").withColumn(
            "url", F.concat(F.lit("doc://d/"), F.col("doc_id"))
        )
        encode_table(spark, docs, out, n_parts=8, resume=False,
                     sort_keys=["doc_id"])
        updates = (
            docs.filter(F.col("doc_id") % 97 == 0)
            .withColumn("lang", F.lit("xx"))
            .withColumn("n_chars", F.col("n_chars") + F.lit(1000))
        )
        inserts = spark.createDataFrame(
            [(-1, "fresh row one", "new", "merge", 11),
             (-2, "fresh row two", "new", "merge", 22),
             (-3, "fresh row three", "new", "merge", 33)],
            "doc_id: long, text: string, lang: string, "
            "source: string, n_chars: long",
        ).withColumn("url", F.concat(F.lit("doc://d/"), F.col("doc_id")))
        merge_rows(spark, out, updates.unionByName(inserts),
                   key_col="url", sort_keys=["doc_id"])
        dec = decode_table_direct(spark, out, columns=["lang", "n_chars"])
        res = (
            dec.groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").alias("sum_chars"))
            .cache()
        )
        res.count()
        return res
    finally:
        shutil.rmtree(out, ignore_errors=True)


def _compact_sorted_pushdown_agg(spark, sf_dir):
    """Sorted compaction (operators/maintain.compact sort_keys=) as the
    pruning-restorer: encode documents clustered by doc_id (n_chars zone
    maps overlap — every chunk spans the range), compact re-clustered by
    n_chars, then answer a narrow n_chars range through the compacted
    table. The oracle recomputes from raw rows, so compaction must
    preserve every row bit-identically while physically re-ordering
    them — the Iceberg rewrite_data_files(sort) analog on the native
    block format."""
    from cuda_float_compress_spark.operators.direct import decode_table_direct
    from cuda_float_compress_spark.operators.encode import encode_table
    from cuda_float_compress_spark.operators.maintain import compact

    out = f"{SCRATCH}/q_{uuid.uuid4().hex[:8]}"
    packed = f"{SCRATCH}/q_{uuid.uuid4().hex[:8]}"
    try:
        docs = _read(spark, sf_dir, "documents").withColumn(
            "url", F.concat(F.lit("doc://d/"), F.col("doc_id"))
        )
        encode_table(spark, docs, out, n_parts=8, resume=False,
                     sort_keys=["doc_id"], chunk_rows=2048)
        compact(spark, out, packed, chunk_rows=8192,
                sort_keys=["n_chars"])
        dec = decode_table_direct(
            spark, packed, columns=["lang", "n_chars"],
            predicates=[("n_chars", ">=", 200), ("n_chars", "<=", 260)],
        )
        res = (
            dec.groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").alias("sum_chars"),
                 F.min("n_chars").alias("min_chars"),
                 F.max("n_chars").alias("max_chars"))
            .cache()
        )
        res.count()
        return res
    finally:
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(packed, ignore_errors=True)


def _local_reader_agg(spark, sf_dir):
    """The Spark-FREE reader in the driver contract: encode documents,
    read a predicate slice back with localio.read_table_local (pure
    pyarrow — no JVM decode; lineage trust + zone-map pruning + exact
    filters all exercised), and hand the arrow rows to Spark only for
    the final aggregate. The oracle recomputes from the raw table. The
    reference's decompress is likewise an in-process local call
    (src/cuda_float_compress.cpp:88-91) — this pins the table-level
    analog."""
    from cuda_float_compress_spark.localio import read_table_local
    from cuda_float_compress_spark.operators.encode import encode_table

    out = f"{SCRATCH}/q_{uuid.uuid4().hex[:8]}"
    try:
        docs = _read(spark, sf_dir, "documents").withColumn(
            "url", F.concat(F.lit("doc://d/"), F.col("doc_id"))
        )
        encode_table(spark, docs, out, n_parts=8, resume=False,
                     sort_keys=["n_chars"])
        tbl = read_table_local(
            out, columns=["lang", "n_chars"],
            predicates=[("n_chars", ">=", 150), ("n_chars", "<=", 300)],
        )
        local_df = spark.createDataFrame(tbl.to_pandas())
        res = (
            local_df.groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").alias("sum_chars"))
            .cache()
        )
        res.count()
        return res
    finally:
        shutil.rmtree(out, ignore_errors=True)


def _metadata_only_agg(spark, sf_dir):
    """Aggregate WITHOUT decoding: encode documents, then answer
    count/sum/min/max over n_chars purely from the per-chunk metadata
    (n, n_nulls, exact int vmin/vmax, and the r6 vsum column) —
    operators/metadata_agg. At 100 TB this reads MBs of stats instead of
    the table. The oracle recomputes from raw rows, so a single wrong
    chunk statistic breaks the hash; the operator itself decode-falls-back
    when deletes/legacy layouts/overflow make metadata unsafe."""
    from cuda_float_compress_spark.operators.encode import encode_table
    from cuda_float_compress_spark.operators.metadata_agg import (
        agg_int_column,
    )

    out = f"{SCRATCH}/q_{uuid.uuid4().hex[:8]}"
    try:
        docs = _read(spark, sf_dir, "documents").withColumn(
            "url", F.concat(F.lit("doc://d/"), F.col("doc_id"))
        )
        encode_table(spark, docs, out, n_parts=8, resume=False,
                     sort_keys=["n_chars"])
        whole = agg_int_column(spark, out, "n_chars")
        # predicate-restricted: interior chunks COVERED from metadata,
        # only the boundary chunk decodes (table is n_chars-sorted)
        ranged = agg_int_column(
            spark, out, "n_chars", predicates=[("n_chars", ">=", 250)]
        )
        res = (
            whole.withColumn("scope", F.lit("all"))
            .unionByName(ranged.withColumn("scope", F.lit("ge_250")))
            .select("scope", "n_rows", "n_nulls", "sum", "min", "max")
            .cache()
        )
        res.count()
        return res
    finally:
        shutil.rmtree(out, ignore_errors=True)


def _pushdown_decode_agg_or(spark, sf_dir):
    """OR-of-conjunctions pushdown through the ENCODED table: a
    low-OR-high range disjunction over an n_chars-sorted encode prunes
    every MIDDLE chunk (the qualifying union of the two conjunctions),
    then the exact OR filter applies to decoded rows. Oracle recomputes
    with a SQL OR from the raw table."""
    from cuda_float_compress_spark.operators.direct import decode_table_direct
    from cuda_float_compress_spark.operators.encode import encode_table

    out = f"{SCRATCH}/q_{uuid.uuid4().hex[:8]}"
    try:
        docs = _read(spark, sf_dir, "documents").withColumn(
            "url", F.concat(F.lit("doc://d/"), F.col("doc_id"))
        )
        encode_table(spark, docs, out, n_parts=8, resume=False,
                     sort_keys=["n_chars"])
        dec = decode_table_direct(
            spark, out, columns=["lang", "n_chars"],
            any_of=[[("n_chars", "<=", 100)], [("n_chars", ">=", 450)]],
        )
        res = (
            dec.groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").alias("sum_chars"))
            .cache()
        )
        res.count()
        return res
    finally:
        shutil.rmtree(out, ignore_errors=True)


def _pushdown_decode_agg_str(spark, sf_dir):
    """String-predicate pushdown through the ENCODED table: encode documents
    SORTED BY lang (tight per-chunk string zone maps — 7-byte prefix
    vmin/vmax), decode (lang, n_chars) with a lang equality predicate that
    prunes chunks before any payload read, aggregate; the oracle recomputes
    from the raw table."""
    from cuda_float_compress_spark.operators.direct import decode_table_direct
    from cuda_float_compress_spark.operators.encode import encode_table

    out = f"{SCRATCH}/q_{uuid.uuid4().hex[:8]}"
    try:
        docs = _read(spark, sf_dir, "documents").withColumn(
            "url", F.concat(F.lit("doc://d/"), F.col("doc_id"))
        )
        encode_table(spark, docs, out, n_parts=8, resume=False,
                     sort_keys=["lang"])
        dec = decode_table_direct(
            spark, out, columns=["lang", "n_chars"],
            predicates=[("lang", "==", "en")],
        )
        res = (
            dec.agg(
                F.count("*").alias("n_docs"),
                F.sum("n_chars").alias("sum_chars"),
            )
            .cache()
        )
        res.count()
        return res
    finally:
        shutil.rmtree(out, ignore_errors=True)


# deterministic HTML wrapper for the extraction oracle: script with a fake
# tag + comparison inside, style, comment, entities — no single quotes (the
# template is inlined into a SQL literal)
_HTML_PRE = (
    '<html><head><title>Page</title><style>body { color: red; }</style>'
    '<script>var x = "<div>"; if (x < 1) { x = 2; }</script></head>'
    '<body><!-- nav bar --><div class="main">'
)
_HTML_POST = (
    '</div><p>Footer &amp; more &lt;tags&gt;&nbsp;&quot;q&quot;</p>'
    "</body></html>"
)


def _html_extract_text(spark, sf_dir):
    """The corpus EXTRACTION step (north-rule invariant: byte-identical
    extracted text per url): wrap every document in a deterministic HTML
    template (script/style/comment/entity boilerplate), run the JVM
    regexp-chain extractor, return every extracted byte — the oracle
    replays the identical wrap + extraction in SQL, so hash_match covers
    the extractor's full behavior."""
    from cuda_float_compress_spark.operators.text import html_to_text_col

    docs = _read(spark, sf_dir, "documents")
    html = F.concat(F.lit(_HTML_PRE), F.col("text"), F.lit(_HTML_POST))
    return docs.select(
        "doc_id", html_to_text_col(html).alias("extracted_text")
    )


def _pii_redaction(spark, sf_dir):
    """The pre-training PII scrub: inject deterministic email/phone/IP
    strings into a rotating fifth of the corpus (documents are synthetic,
    so real PII must be seeded to exercise the patterns), redact with the
    shared Java/RE2-safe regexes, return every redacted byte + per-doc hit
    counts — the oracle replays injection and redaction identically."""
    from cuda_float_compress_spark.operators.text import with_pii_redaction

    docs = _read(spark, sf_dir, "documents")
    did = F.col("doc_id")
    extra = (
        F.when(did % 5 == 0,
               F.concat(F.lit(" contact user"), did.cast("string"),
                        F.lit("@mail.example.com")))
        .when(did % 5 == 1, F.lit(" call +1 (415) 555-0123 now"))
        .when(did % 5 == 2,
              F.concat(F.lit(" from 10.0."), (did % 256).cast("string"),
                       F.lit(".7 logged")))
        .otherwise(F.lit(""))
    )
    seeded = docs.withColumn("text", F.concat(F.col("text"), extra))
    return with_pii_redaction(seeded).select("doc_id", "redacted", "pii_hits")


def _iceberg_read_agg(spark, sf_dir):
    """Iceberg read path without the Iceberg runtime: materialize documents
    as a real two-snapshot Iceberg v2 table (parquet data files + avro
    manifests + metadata JSON via sources.iceberg), read the CURRENT
    snapshot with the pure-Python metadata walker, aggregate; the oracle
    recomputes from the raw table. Snapshot selection itself is covered by
    tests/test_iceberg.py time-travel assertions."""
    import pandas as pd

    from cuda_float_compress_spark.sources.iceberg import (
        read_iceberg_dir,
        write_iceberg_fixture,
    )

    out = f"{SCRATCH}/q_{uuid.uuid4().hex[:8]}"
    try:
        pdf = pd.read_parquet(f"{sf_dir}/documents.parquet").sort_values(
            "doc_id"
        )
        cut = len(pdf) // 2
        write_iceberg_fixture(out, [[pdf.iloc[:cut]], [pdf.iloc[cut:]]])
        docs = read_iceberg_dir(spark, out)
        res = (
            docs.groupBy("lang")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("n_chars").alias("sum_chars"),
            )
            .cache()
        )
        res.count()
        return res
    finally:
        shutil.rmtree(out, ignore_errors=True)


def _iceberg_rest_read_agg(spark, sf_dir):
    """Catalog-service read path: the same two-snapshot Iceberg v2 fixture
    as iceberg_read_agg, but loaded THROUGH the REST catalog client
    (sources/iceberg_rest.py) against an in-process mock implementing the
    public REST-catalog spec's JSON shapes — config handshake with prefix
    discovery, bearer auth, LoadTableResult — and read with snapshot time
    travel to the FIRST snapshot. The oracle recomputes that snapshot's
    content (the first half of documents in doc_id order) from the raw
    table, so catalog walk + manifest walk + time travel are all on the
    hash-checked path."""
    import pandas as pd

    from cuda_float_compress_spark.sources.iceberg import (
        write_iceberg_fixture,
    )
    from cuda_float_compress_spark.sources.iceberg_rest import (
        read_iceberg_rest,
        serve_catalog_fixture,
    )

    out = f"{SCRATCH}/q_{uuid.uuid4().hex[:8]}"
    try:
        pdf = pd.read_parquet(f"{sf_dir}/documents.parquet").sort_values(
            "doc_id"
        )
        cut = len(pdf) // 2
        info = write_iceberg_fixture(out, [[pdf.iloc[:cut]], [pdf.iloc[cut:]]])
        with serve_catalog_fixture({("web", "docs"): out},
                                   token="sekrit") as uri:
            docs = read_iceberg_rest(
                spark, uri, "web", "docs", token="sekrit",
                snapshot_id=info["snapshot_ids"][0],
            )
            res = (
                docs.groupBy("source")
                .agg(
                    F.count("*").alias("n_docs"),
                    F.sum("n_chars").alias("sum_chars"),
                )
                .cache()
            )
            res.count()
        return res
    finally:
        shutil.rmtree(out, ignore_errors=True)


def _delta_read_agg(spark, sf_dir):
    """Delta Lake read path without the Delta runtime: documents written as
    a THREE-commit Delta table (first half; second half; a rewrite commit
    that REMOVEs the first-half file and re-adds its rows split in two),
    read at the current snapshot via the pure-Python log replay
    (sources/delta.py) — so add/remove replay is on the hash-checked path.
    The live set equals the full table; the oracle recomputes from raw."""
    import pandas as pd

    from cuda_float_compress_spark.sources.delta import (
        read_delta_dir,
        write_delta_fixture,
    )

    out = f"{SCRATCH}/q_{uuid.uuid4().hex[:8]}"
    try:
        pdf = pd.read_parquet(f"{sf_dir}/documents.parquet").sort_values(
            "doc_id"
        )
        cut = len(pdf) // 2
        first, second = pdf.iloc[:cut], pdf.iloc[cut:]
        write_delta_fixture(out, [
            {"add": [first]},
            {"add": [second]},
            # rewrite: remove commit 0's file (deterministic fixture name),
            # re-add the same rows split across two files
            {"add": [first.iloc[: cut // 2], first.iloc[cut // 2:]],
             "remove": ["part-00000-00000.parquet"]},
        ])
        docs = read_delta_dir(spark, out)
        res = (
            docs.groupBy("lang", "source")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("n_chars").alias("sum_chars"),
            )
            .cache()
        )
        res.count()
        return res
    finally:
        shutil.rmtree(out, ignore_errors=True)


def _media_features(spark, sf_dir):
    """Media plumbing over a deterministic binary column: real format magics
    (PNG/JPEG/RIFF) prefixed to document text bytes, sniffed + measured by the
    Arrow-batched mapInPandas extractor; the oracle predicts type+size in SQL."""
    from cuda_float_compress_spark.operators.multimodal import extract_media_features

    docs = _read(spark, sf_dir, "documents")
    magic = (
        F.when(F.col("doc_id") % 4 == 0, F.unhex(F.lit("89504E470D0A1A0A")))
        .when(F.col("doc_id") % 4 == 1, F.unhex(F.lit("FFD8FFE0")))
        # a REAL RIFF/WAVE prefix (RIFF + chunk size + WAVE): the sniffer
        # classifies audio/wav only on the WAVE subtype — a bare 'RIFF'
        # magic is some other RIFF family and falls to octet-stream
        .when(F.col("doc_id") % 4 == 2,
              F.unhex(F.lit("524946460000000057415645")))
        .otherwise(F.unhex(F.lit("00")))
    )
    web = docs.select(
        F.concat(F.lit("doc://d/"), F.col("doc_id")).alias("url"),
        F.concat(magic, F.encode("text", "utf-8")).alias("payload"),
    )
    return extract_media_features(web, "url", "payload").select(
        "url", "media_type", "n_bytes"
    )


def _compression_raw_sizes(spark, sf_dir):
    """Encode documents with the engine; report per-column raw byte totals
    from the manifest — independently recomputable by the oracle from the
    source table."""
    from cuda_float_compress_spark.operators.encode import encode_table

    out = f"{SCRATCH}/q_{uuid.uuid4().hex[:8]}"
    try:
        docs = _read(spark, sf_dir, "documents").withColumn(
            "url", F.concat(F.lit("doc://d/"), F.col("doc_id"))
        )
        encode_table(spark, docs, out, n_parts=8, resume=False)
        manifest = spark.read.parquet(f"{out}/manifest")
        res = (
            manifest.groupBy("col")
            .agg(F.sum("raw_bytes").alias("raw_bytes"))
            .withColumnRenamed("col", "column")
        ).cache()
        res.count()
        return res
    finally:
        shutil.rmtree(out, ignore_errors=True)


def _roundtrip_verify(spark, sf_dir):
    """The north-rule gate as a query: encode+decode documents, verify every
    column byte-identical; oracle states the expected all-green report."""
    from cuda_float_compress_spark.operators.decode import decode_table
    from cuda_float_compress_spark.operators.encode import encode_table
    from cuda_float_compress_spark.operators.verify import verify_roundtrip

    out = f"{SCRATCH}/q_{uuid.uuid4().hex[:8]}"
    try:
        docs = _read(spark, sf_dir, "documents").withColumn(
            "url", F.concat(F.lit("doc://d/"), F.col("doc_id"))
        )
        encode_table(spark, docs, out, n_parts=8, resume=False)
        decoded = decode_table(spark, out)
        res = (
            verify_roundtrip(docs, decoded, "url")
            .select("column", "n_rows", "n_match", "ok")
            .cache()
        )
        res.count()
        return res
    finally:
        shutil.rmtree(out, ignore_errors=True)


def _q6_revenue_change(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1995-01-01")
            & (F.col("l_shipdate") < "1996-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        ).agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            )
        )
    )


def _events_type_share(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count("*").alias("n"))
    return counts.withColumn(
        "share",
        F.round(F.col("n") / F.sum("n").over(W.partitionBy()), 6),
    )


def _acctbal_percentiles(spark, sf_dir):
    """Exact linear-interpolation percentiles (p25/p50/p75) of supplier
    account balance per nation — Spark's percentile() and SQL quantile_cont
    share the same interpolation rule, so values hash-match exactly."""
    sup = _read(spark, sf_dir, "supplier")
    return (
        sup.groupBy("s_nationkey")
        .agg(
            F.count("*").alias("n"),
            F.round(F.expr("percentile(s_acctbal, 0.25)"), 4).alias("p25"),
            F.round(F.expr("percentile(s_acctbal, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(s_acctbal, 0.75)"), 4).alias("p75"),
        )
    )


def _customers_with_orders_exists(spark, sf_dir):
    """Correlated EXISTS (decorrelated to a left-semi join): customers with
    at least one order, counted per market segment."""
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    return (
        cust.join(
            orders.select(F.col("o_custkey").alias("c_custkey")).distinct(),
            "c_custkey",
            "left_semi",
        )
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


def _top_words(spark, sf_dir):
    """Lateral-view explode (UDTF-shaped flatten): whitespace tokens of every
    document, top 15 by frequency with deterministic tie-break."""
    docs = _read(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word")
    ).filter(F.length("word") > 0)
    return (
        toks.groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "word")
        .limit(15)
    )


def _customers_without_orders(spark, sf_dir):
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    return cust.join(
        orders, cust["c_custkey"] == orders["o_custkey"], "left_anti"
    ).agg(F.count("*").alias("n_customers_without_orders"))


def _order_priority_histogram(spark, sf_dir):
    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    early = li.filter(F.col("l_shipdate") < "1996-01-01").select("l_orderkey").distinct()
    return (
        orders.join(early, orders["o_orderkey"] == early["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


def _dup_span_counts(spark, sf_dir):
    """ExactSubstr-style duplicate-span signal (Lee et al. 2022): per doc,
    distinct 32-char windows (stride 16) shared with another doc. Hash-only
    shuffles; see operators/dedup.py dup_span_counts for the scale shape."""
    from cuda_float_compress_spark.operators.dedup import dup_span_counts

    docs = _read(spark, sf_dir, "documents")
    return dup_span_counts(docs, "doc_id", "text", gram_len=32, stride=16)


def _jaccard_consecutive_docs(spark, sf_dir):
    """Exact 5-shingle Jaccard on consecutive doc pairs — DuckDB-verifiable
    twin of the n-gram-Jaccard dedup verifier."""
    from cuda_float_compress_spark.operators.dedup import ngram_jaccard_pairs

    docs = _read(spark, sf_dir, "documents")
    ids = docs.select(F.col("doc_id").alias("id_a"))
    cands = ids.withColumn("id_b", F.col("id_a") + 1).join(
        docs.select(F.col("doc_id").alias("id_b")), "id_b", "left_semi"
    )
    return ngram_jaccard_pairs(docs, cands, "doc_id", shingle_k=5)


def _q17_small_orders(spark, sf_dir):
    """TPC-H q17 shape: correlated scalar subquery (per-part avg-quantity
    threshold), decorrelated the idiomatic Spark way — a pre-aggregated
    per-key threshold joined back (one extra shuffle keyed like the fact
    join; the dim filter broadcasts)."""
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part")
    thresh = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (F.avg("l_quantity") * 0.2).alias("qty_thresh")
    )
    j = (
        li.join(F.broadcast(part.filter(F.col("p_brand") == "Brand#4")),
                li["l_partkey"] == part["p_partkey"])
        .join(thresh, li["l_partkey"] == thresh["t_partkey"])
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
    )
    return j.agg(
        F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly")
    )


def _latest_event_per_user(spark, sf_dir):
    """Windowed dedup: keep each user's latest event (row_number over a
    descending ts window — the canonical keep-latest pattern)."""
    ev = _read(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id", "event_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            "event_type",
        )
    )


def _asof_event_snapshot(spark, sf_dir):
    """As-of join (Spark lacks the primitive; composed as union-tag + one
    running last() window — a single shuffle): every event picks up the
    latest per-user snapshot value at-or-before its timestamp. Oracle:
    DuckDB's NATIVE ASOF JOIN computes the identical result."""
    from cuda_float_compress_spark.operators.relational import asof_join

    ev = _read(spark, sf_dir, "events")
    left = ev.select("event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"))
    snaps = (
        ev.filter(F.col("event_id") % 20 == 0)
        .groupBy("user_id", F.col("ts").cast("timestamp").alias("ts"))
        .agg(F.max("value").alias("snap_value"))
    )
    out = asof_join(left, snaps, "user_id", "ts", ["snap_value"])
    return out.select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us"),
        "asof_snap_value",
    )


def _range_join_events(spark, sf_dir):
    """Bucketized range join (point-in-interval) — candidates bounded per
    interval by its bucket count, never |points| x |intervals|; the exact
    BETWEEN filter runs only on bucket-colocated pairs. Oracle: the naive
    SQL range join."""
    from cuda_float_compress_spark.operators.relational import (
        range_join_points_to_intervals,
    )

    ev = _read(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    pts = ev.select("event_id", "user_id", us.alias("ts_us"))
    two_h = 2 * 3600 * 1_000_000
    ivs = (
        ev.filter(F.col("event_id") % 50 == 0)
        .select("user_id", us.alias("s"))
        .dropDuplicates(["user_id", "s"])
        .withColumn("e", F.col("s") + F.lit(two_h))
    )
    out = range_join_points_to_intervals(
        pts, ivs, "user_id", "ts_us", "s", "e", bucket_width=3600 * 1_000_000
    )
    return out.select("event_id", F.col("s").alias("ivl_start_us"))


def _events_time_rollup(spark, sf_dir):
    """Hierarchical time rollup (hypertable-style continuous-aggregate
    shape): (day, hour) -> day -> grand total in one pass."""
    ev = _read(spark, sf_dir, "events")
    ts = F.col("ts").cast("timestamp")
    day = F.unix_micros(F.date_trunc("day", ts))
    hour = F.unix_micros(F.date_trunc("hour", ts))
    return (
        ev.select(day.alias("day_us"), hour.alias("hour_us"), "value")
        .rollup("day_us", "hour_us")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.coalesce(F.col("day_us"), F.lit(-1)).alias("day_us"),
            F.coalesce(F.col("hour_us"), F.lit(-1)).alias("hour_us"),
            "n", "sum_value",
        )
    )


def _kmv_distinct_texts(spark, sf_dir):
    """KMV distinct sketch over document texts (deterministic md5-60bit
    k-minimum values — unlike HLL, the oracle reproduces the estimate
    exactly)."""
    from cuda_float_compress_spark.operators.relational import kmv_distinct

    docs = _read(spark, sf_dir, "documents")
    return kmv_distinct(docs, "text", k=128)


def _lang_id_pred(spark, sf_dir):
    from cuda_float_compress_spark.operators.text import with_lang_id

    docs = _read(spark, sf_dir, "documents")
    return with_lang_id(docs).select("doc_id", "lang_pred")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q1_pricing_summary": _q1_pricing_summary,
        "q3_top_orders": _q3_top_orders,
        "q5_nation_revenue": _q5_nation_revenue,
        "filtered_scan_agg": _filtered_scan_agg,
        "window_topk_docs": _window_topk_docs,
        "rollup_events": _rollup_events,
        "cube_events": _cube_events,
        "dedup_keep_list": _dedup_keep_list,
        "clean_corpus": _clean_corpus,
        "stratified_sample": _stratified_sample,
        "bigram_topk": _bigram_topk,
        "doc_freq_topk": _doc_freq_topk,
        "repetition_scores": _repetition_scores,
        "top_ngram_stats": _top_ngram_stats,
        "url_canonical_dedup": _url_canonical_dedup,
        "pivot_linestatus": _pivot_linestatus,
        "set_ops_langs": _set_ops_langs,
        "distinct_counts": _distinct_counts,
        "events_hourly": _events_hourly,
        "sessionize_users": _sessionize_users,
        "exact_dedup_docs": _exact_dedup_docs,
        "jaccard_consecutive_docs": _jaccard_consecutive_docs,
        "dup_span_counts": _dup_span_counts,
        "dup_text_groups": _dup_text_groups,
        "token_counts": _token_counts,
        "bpe_token_counts": _bpe_token_counts,
        "rolling_fingerprints": _rolling_fingerprints,
        "quality_scores": _quality_scores,
        "doc_fingerprints": _doc_fingerprints,
        "lang_id_pred": _lang_id_pred,
        "embedding_topk": _embedding_topk,
        "minhash_dedup_pairs": _minhash_dedup_pairs,
        "simhash_pairs": _simhash_pairs,
        "dup_components": _dup_components,
        "ann_lsh_topk": _ann_lsh_topk,
        "ivf_topk": _ivf_topk,
        "embedding_neardup": _embedding_neardup,
        "pushdown_decode_agg": _pushdown_decode_agg,
        "zorder_pushdown_agg": _zorder_pushdown_agg,
        "bloom_pushdown_lookup": _bloom_pushdown_lookup,
        "alp_decoded_prices": _alp_decoded_prices,
        "merge_on_read_delete_agg": _merge_on_read_delete_agg,
        "merge_upsert_agg": _merge_upsert_agg,
        "compact_sorted_pushdown_agg": _compact_sorted_pushdown_agg,
        "local_reader_agg": _local_reader_agg,
        "metadata_only_agg": _metadata_only_agg,
        "pushdown_decode_agg_or": _pushdown_decode_agg_or,
        "pushdown_decode_agg_str": _pushdown_decode_agg_str,
        "pushdown_decode_agg_in": _pushdown_decode_agg_in,
        "iceberg_read_agg": _iceberg_read_agg,
        "iceberg_rest_read_agg": _iceberg_rest_read_agg,
        "delta_read_agg": _delta_read_agg,
        "html_extract_text": _html_extract_text,
        "pii_redaction": _pii_redaction,
        "media_features": _media_features,
        "q6_revenue_change": _q6_revenue_change,
        "q17_small_orders": _q17_small_orders,
        "latest_event_per_user": _latest_event_per_user,
        "asof_event_snapshot": _asof_event_snapshot,
        "range_join_events": _range_join_events,
        "events_time_rollup": _events_time_rollup,
        "kmv_distinct_texts": _kmv_distinct_texts,
        "events_type_share": _events_type_share,
        "customers_without_orders": _customers_without_orders,
        "acctbal_percentiles": _acctbal_percentiles,
        "customers_with_orders_exists": _customers_with_orders_exists,
        "top_words": _top_words,
        "order_priority_histogram": _order_priority_histogram,
        "compression_raw_sizes": _compression_raw_sizes,
        "roundtrip_verify": _roundtrip_verify,
    }


# ---------------------------------------------------------------------------
# oracles — DuckDB SQL over the same parquet views
# ---------------------------------------------------------------------------


def _ivf_oracle_sql(
    dim: int = 64,
    n_lists: int = 16,
    nprobe: int = 4,
    iters: int = 2,
    k: int = 10,
    sample: int = 2048,
) -> str:
    """SQL replay of ivf_topk INCLUDING its deterministic k-means training
    (operators/similarity.py:ivf_train_centroids): lowest-id init, then
    ``iters`` Lloyd rounds of integer-grid argmin assignment + trunc-div
    centroid updates over the ORDER BY id LIMIT ``sample`` training subset.
    Generated (not hand-written) because each round is a mechanical
    dist/assign/update CTE block and the update lists all ``dim``
    components; DuckDB's `//` truncates toward zero exactly like numpy
    _trunc_div and Spark `div`."""
    dist_block = (
        "dist{t} AS (\n"
        "    SELECT g.vec_id, c.lid,\n"
        "           list_sum(list_transform(list_zip(g.q, c.c),\n"
        "               s -> (s[1] - s[2]) * (s[1] - s[2]))) AS d\n"
        "    FROM {src} g CROSS JOIN cent{t} c\n"
        ")"
    )
    assign_block = (
        "assign{t} AS (\n"
        "    SELECT vec_id, lid FROM (\n"
        "        SELECT vec_id, lid,\n"
        "               row_number() OVER (PARTITION BY vec_id\n"
        "                                  ORDER BY d, lid) AS rn\n"
        "        FROM dist{t}\n"
        "    ) WHERE rn = 1\n"
        ")"
    )
    sum_cols = ", ".join(f"sum(q[{d + 1}]) AS s{d}" for d in range(dim))
    div_terms = ", ".join(f"(u.s{d} // u.cnt)::BIGINT" for d in range(dim))
    parts = [
        # NULL embeddings are excluded end-to-end, matching the engine: the
        # trainer filters isNotNull and assignment maps NULL vectors to a
        # NULL list id that is never probed or scored
        "WITH grid AS (\n"
        "    SELECT vec_id,\n"
        "           list_transform(embedding,\n"
        "                          x -> round(x::DOUBLE * 1e6)::BIGINT) AS q\n"
        "    FROM embeddings WHERE embedding IS NOT NULL\n"
        ")",
        # training subset: the sample_size lowest-id vectors (deterministic)
        "tgrid AS (\n"
        f"    SELECT vec_id, q FROM grid ORDER BY vec_id LIMIT {sample}\n"
        ")",
        "cent0 AS (\n"
        "    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS lid, q AS c\n"
        f"    FROM (SELECT vec_id, q FROM tgrid ORDER BY vec_id LIMIT {n_lists})\n"
        ")",
    ]
    for t in range(iters):
        parts.append(dist_block.format(t=t, src="tgrid"))
        parts.append(assign_block.format(t=t))
        parts.append(
            f"upd{t} AS (\n"
            f"    SELECT lid, count(*) AS cnt, {sum_cols}\n"
            f"    FROM assign{t} JOIN tgrid USING (vec_id) GROUP BY lid\n"
            f")"
        )
        parts.append(
            f"cent{t + 1} AS (\n"
            f"    SELECT c.lid,\n"
            f"           CASE WHEN u.cnt IS NULL THEN c.c\n"
            f"                ELSE list_value({div_terms}) END AS c\n"
            f"    FROM cent{t} c LEFT JOIN upd{t} u USING (lid)\n"
            f")"
        )
    parts.append(dist_block.format(t=iters, src="grid"))
    parts.append(assign_block.format(t=iters))
    parts.append(
        f"probes AS (\n"
        f"    SELECT lid FROM dist{iters} WHERE vec_id = 0\n"
        f"    ORDER BY d, lid LIMIT {nprobe}\n"
        f")"
    )
    parts.append(
        "q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)"
    )
    parts.append(
        f"scored AS (\n"
        f"    SELECT e.vec_id,\n"
        f"           round(list_dot_product(e.embedding::DOUBLE[], qv)\n"
        f"                 / greatest(sqrt(list_dot_product(e.embedding::DOUBLE[],\n"
        f"                                                  e.embedding::DOUBLE[]))\n"
        f"                            * sqrt(list_dot_product(qv, qv)), 1e-12), 6)\n"
        f"               AS cos6\n"
        f"    FROM embeddings e, q\n"
        f"    JOIN assign{iters} a ON a.vec_id = e.vec_id\n"
        f"    WHERE a.lid IN (SELECT lid FROM probes)\n"
        f")"
    )
    return (
        ",\n".join(parts)
        + f"\nSELECT vec_id, round(cos6, 3) AS cos3\n"
        f"FROM scored ORDER BY cos6 DESC, vec_id LIMIT {k}"
    )


def oracle_sql() -> dict[str, str]:
    return {
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2)      AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4)      AS avg_qty,
                   count(*)                       AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q3_top_orders": """
            SELECT l_orderkey,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey  = c_custkey
            GROUP BY l_orderkey
            ORDER BY revenue DESC, l_orderkey
            LIMIT 10
        """,
        "q5_nation_revenue": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders   ON l_orderkey  = o_orderkey
            JOIN customer ON o_custkey   = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            GROUP BY n_name
        """,
        "filtered_scan_agg": """
            SELECT count(*) AS n,
                   round(sum(l_quantity), 2)      AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_price
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
              AND l_discount > 0.05
        """,
        "window_topk_docs": """
            SELECT lang, doc_id, n_chars, rnk FROM (
                SELECT lang, doc_id, n_chars,
                       row_number() OVER (
                           PARTITION BY lang ORDER BY n_chars DESC, doc_id
                       ) AS rnk
                FROM documents
            ) WHERE rnk <= 3
        """,
        "rollup_events": """
            SELECT coalesce(event_type, '<all>') AS event_type,
                   count(*) AS n,
                   round(sum(value), 2) AS sum_value
            FROM events
            GROUP BY ROLLUP (event_type)
        """,
        "cube_events": """
            WITH ev AS (
                SELECT event_type, (user_id % 4)::INT AS ubucket, value
                FROM events
            )
            SELECT coalesce(event_type, '<all>') AS event_type,
                   coalesce(ubucket, -1) AS ubucket,
                   GROUPING(event_type, ubucket)::INT AS gid,
                   count(*) AS n,
                   round(sum(value), 2) AS sum_value
            FROM ev
            GROUP BY CUBE (event_type, ubucket)
        """,
        "pivot_linestatus": """
            SELECT l_returnflag,
                   round(sum(l_quantity) FILTER (WHERE l_linestatus = 'O'), 2) AS qty_o,
                   round(sum(l_quantity) FILTER (WHERE l_linestatus = 'F'), 2) AS qty_f
            FROM lineitem
            GROUP BY l_returnflag
        """,
        "set_ops_langs": """
            WITH first_src AS (
                SELECT source FROM documents GROUP BY source ORDER BY source LIMIT 1
            ),
            a AS (SELECT DISTINCT lang FROM documents
                  WHERE source IN (SELECT source FROM first_src)),
            b AS (SELECT DISTINCT lang FROM documents
                  WHERE source NOT IN (SELECT source FROM first_src))
            SELECT lang AS lang_only_in_first_source FROM (
                SELECT lang FROM a EXCEPT ALL SELECT lang FROM b
            )
        """,
        "distinct_counts": """
            SELECT count(DISTINCT user_id)    AS n_users,
                   count(DISTINCT event_type) AS n_types,
                   count(*)                   AS n_events
            FROM events
        """,
        "events_hourly": """
            SELECT epoch_us(date_trunc('hour', ts)) AS hour_us,
                   event_type,
                   count(*) AS n,
                   round(sum(value), 2) AS sum_value
            FROM events
            GROUP BY 1, 2
        """,
        "sessionize_users": """
            WITH flagged AS (
                SELECT user_id, ts, event_id,
                       CASE WHEN lag(ts) OVER w IS NULL
                              OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                                 > 1800000000
                            THEN 1 ELSE 0 END AS is_new
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            sessions AS (
                SELECT user_id, ts,
                       sum(is_new) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING
                       ) AS session_seq
                FROM flagged
            ),
            per_session AS (
                SELECT user_id, session_seq, count(*) AS n_events,
                       max(ts) AS session_end
                FROM sessions GROUP BY user_id, session_seq
            )
            SELECT user_id,
                   count(*) AS n_sessions,
                   sum(n_events)::BIGINT AS n_events,
                   max(epoch_us(session_end)) AS last_end_us
            FROM per_session GROUP BY user_id
        """,
        "exact_dedup_docs": """
            SELECT md5(text) AS text_md5,
                   min(doc_id) AS keep_id,
                   count(*) AS group_size
            FROM documents GROUP BY md5(text)
        """,
        "lang_id_pred": f"""
            WITH {_LANG_PRED_CTE}
            SELECT doc_id, lang_pred FROM lang
        """,
        "dup_span_counts": """
            WITH grams AS (
                SELECT DISTINCT d.doc_id,
                       ('0x' || substr(md5(substr(d.text, g.i::INT, 32)), 1, 15))::BIGINT AS h
                FROM documents d,
                     LATERAL (SELECT unnest(generate_series(1, length(d.text) - 31, 16)) AS i) g
                WHERE length(d.text) >= 32
            ), dup AS (
                SELECT h FROM grams GROUP BY h HAVING count(DISTINCT doc_id) >= 2
            )
            SELECT g.doc_id, count(*)::BIGINT AS dup_gram_count
            FROM grams g JOIN dup USING (h)
            GROUP BY g.doc_id
        """,
        "jaccard_consecutive_docs": """
            WITH sh AS (
                SELECT doc_id,
                       list_distinct([substring(text, i, 5)
                                      for i in range(1, greatest(length(text) - 3, 2))]) AS s
                FROM documents
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(len(list_intersect(a.s, b.s))::DOUBLE /
                         greatest(len(list_distinct(list_concat(a.s, b.s))), 1), 6)
                       AS jaccard
            FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
        """,
        "dup_text_groups": """
            SELECT md5(text) AS text_md5,
                   min(doc_id) AS keep_id,
                   count(*) AS group_size
            FROM documents GROUP BY md5(text) HAVING count(*) > 1
        """,
        "token_counts": """
            SELECT doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+'))
                   END AS n_tokens
            FROM documents
        """,
        "bpe_token_counts": """
            SELECT doc_id,
                   len(regexp_extract_all(text,
                       '''s|''t|''re|''ve|''m|''ll|''d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+'
                   ))::INT AS n_bpe_tokens
            FROM documents
        """,
        "rolling_fingerprints": """
            SELECT doc_id,
                   list_reduce(
                       list_prepend(0::BIGINT,
                                    [ascii(text[i]) for i in range(1, length(text) + 1)]),
                       (acc, c) -> (acc * 31 + c) % 1000000007
                   )::BIGINT AS rolling_fp
            FROM documents
        """,
        "quality_scores": """
            SELECT doc_id,
                   round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                         / greatest(length(text), 1)::DOUBLE, 6) AS punct_ratio,
                   round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
                         / greatest(length(text), 1)::DOUBLE, 6) AS digit_ratio,
                   round((length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')))
                         / greatest(length(text), 1)::DOUBLE, 6) AS upper_ratio,
                   round(CASE WHEN length(trim(text)) = 0 THEN 0
                              ELSE length(text)::DOUBLE
                                   / len(string_split_regex(trim(text), '\\s+'))
                         END, 6) AS mean_word_len
            FROM documents
        """,
        "doc_fingerprints": """
            SELECT doc_id, md5(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS fingerprint
            FROM documents
        """,
        "embedding_topk": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   round(round(list_dot_product(embedding::DOUBLE[], qv)
                         / greatest(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                                    * sqrt(list_dot_product(qv, qv)), 1e-12), 6), 3) AS cos3
            FROM embeddings, q
            WHERE vec_id <> 0
            ORDER BY round(list_dot_product(embedding::DOUBLE[], qv)
                     / greatest(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                                * sqrt(list_dot_product(qv, qv)), 1e-12), 6) DESC,
                     vec_id
            LIMIT 10
        """,
        "compression_raw_sizes": """
            SELECT 'doc_id' AS column, 8 * count(*) AS raw_bytes FROM documents
            UNION ALL
            SELECT 'n_chars', 8 * count(*) FROM documents
            UNION ALL
            SELECT 'text', sum(octet_length(encode(text)))::BIGINT FROM documents
            UNION ALL
            SELECT 'lang', sum(octet_length(encode(lang)))::BIGINT FROM documents
            UNION ALL
            SELECT 'source', sum(octet_length(encode(source)))::BIGINT FROM documents
            UNION ALL
            SELECT 'url', sum(octet_length(encode('doc://d/' || doc_id)))::BIGINT
            FROM documents
        """,
        "roundtrip_verify": """
            SELECT col AS column, count(*) AS n_rows, count(*) AS n_match, true AS ok
            FROM documents, (
                SELECT unnest(['doc_id', 'lang', 'n_chars', 'source', 'text', 'url']) AS col
            )
            GROUP BY col
        """,
        "q6_revenue_change": """
            SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
              AND l_discount BETWEEN 0.05 AND 0.07
              AND l_quantity < 24
        """,
        "q17_small_orders": """
            SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
            FROM lineitem
            JOIN part ON p_partkey = l_partkey
            WHERE p_brand = 'Brand#4'
              AND l_quantity < (
                  SELECT 0.2 * avg(l2.l_quantity)
                  FROM lineitem l2 WHERE l2.l_partkey = p_partkey
              )
        """,
        "latest_event_per_user": """
            SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                ) AS rn
                FROM events
            ) WHERE rn = 1
        """,
        "asof_event_snapshot": """
            WITH snaps AS (
                SELECT user_id, ts, max(value) AS snap_value
                FROM events WHERE event_id % 20 = 0 GROUP BY user_id, ts
            )
            SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
                   s.snap_value AS asof_snap_value
            FROM events e ASOF LEFT JOIN snaps s
              ON e.user_id = s.user_id AND e.ts >= s.ts
        """,
        "range_join_events": """
            WITH ivs AS (
                SELECT DISTINCT user_id, epoch_us(ts) AS s,
                       epoch_us(ts) + 7200000000 AS e
                FROM events WHERE event_id % 50 = 0
            )
            SELECT e.event_id, i.s AS ivl_start_us
            FROM events e JOIN ivs i ON e.user_id = i.user_id
             AND epoch_us(e.ts) >= i.s AND epoch_us(e.ts) < i.e
        """,
        "events_time_rollup": """
            SELECT coalesce(day_us, -1) AS day_us,
                   coalesce(hour_us, -1) AS hour_us,
                   count(*) AS n,
                   round(sum(value), 2) AS sum_value
            FROM (
                SELECT epoch_us(date_trunc('day', ts)) AS day_us,
                       epoch_us(date_trunc('hour', ts)) AS hour_us,
                       value
                FROM events
            )
            GROUP BY ROLLUP (day_us, hour_us)
        """,
        "kmv_distinct_texts": """
            WITH h AS (
                SELECT DISTINCT ('0x' || substr(md5(text),1,15))::BIGINT AS h
                FROM documents
            ),
            k AS (SELECT h FROM h ORDER BY h LIMIT 128),
            a AS (SELECT count(*) AS n_kept, max(h) AS kth FROM k)
            SELECT CASE WHEN n_kept < 128 THEN n_kept::DOUBLE
                        ELSE round(127.0 * 1152921504606846976.0 / kth, 2)
                   END AS distinct_estimate,
                   n_kept
            FROM a
        """,
        "events_type_share": """
            SELECT event_type, n, round(n / sum(n) OVER (), 6) AS share
            FROM (SELECT event_type, count(*) AS n FROM events GROUP BY event_type)
        """,
        "acctbal_percentiles": """
            SELECT s_nationkey, count(*) AS n,
                   round(quantile_cont(s_acctbal::DOUBLE, 0.25), 4) AS p25,
                   round(quantile_cont(s_acctbal::DOUBLE, 0.5), 4)  AS p50,
                   round(quantile_cont(s_acctbal::DOUBLE, 0.75), 4) AS p75
            FROM supplier GROUP BY s_nationkey
        """,
        "customers_with_orders_exists": """
            SELECT c_mktsegment, count(*) AS n_customers
            FROM customer c
            WHERE EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey)
            GROUP BY c_mktsegment
        """,
        "top_words": """
            WITH toks AS (
                SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
                FROM documents
            )
            SELECT word, count(*) AS n FROM toks
            WHERE length(word) > 0
            GROUP BY word ORDER BY n DESC, word LIMIT 15
        """,
        "customers_without_orders": """
            SELECT count(*) AS n_customers_without_orders
            FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        """,
        "order_priority_histogram": """
            SELECT o_orderpriority, count(*) AS n_orders
            FROM orders
            WHERE o_orderkey IN (
                SELECT l_orderkey FROM lineitem
                WHERE l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
            )
            GROUP BY o_orderpriority
        """,
        # The four LSH/media oracles below replicate the engine's EXACT
        # pipeline in SQL: the same portable 60-bit md5 hash
        # (('0x'||substr(md5(s),1,15))::BIGINT == Spark
        # conv(substr(md5(s),1,15),16,10)), the same xor-permutation minhash,
        # band keys, deterministic bucket caps, and integer hyperplane
        # projections — so hash_match covers signature + bucketing + verify.
        "minhash_dedup_pairs": f"""
            WITH tok AS (
                SELECT doc_id,
                       CASE WHEN length(trim(text)) = 0 THEN ['']
                            ELSE string_split_regex(trim(text), '\\s+')
                       END AS toks
                FROM documents
            ),
            whg AS (
                SELECT doc_id,
                       list_transform(toks,
                                      t -> ('0x' || substr(md5(t),1,15))::BIGINT) AS w
                FROM tok
            ),
            shing AS (
                SELECT doc_id,
                       [{_WORD_SHINGLE_HASH_SQL}
                        for i in range(1, greatest(len(w) - 4, 1) + 1)] AS hv
                FROM whg
            ),
            sig AS (
                SELECT doc_id, hv,
                       [{_MINHASH_PERM_SQL}] AS mh
                FROM shing
            ),
            bands AS (
                SELECT doc_id, b,
                       md5(array_to_string(list_slice(mh, b*4 + 1, b*4 + 4), ',')) AS key
                FROM sig, range(0, 4) t(b)
            ),
            buckets AS (
                SELECT b, key, list_slice(list_sort(list(doc_id)), 1, 64) AS members
                FROM bands GROUP BY b, key
            ),
            cand AS (
                SELECT DISTINCT pair[1] AS id_a, pair[2] AS id_b FROM (
                    SELECT unnest(flatten([[[x, y] for y in members if x < y]
                                           for x in members])) AS pair
                    FROM buckets WHERE len(members) > 1
                )
            ),
            dsh AS (SELECT doc_id, list_distinct(hv) AS s FROM shing),
            verified AS (
                SELECT c.id_a, c.id_b,
                       round(len(list_intersect(a.s, b.s))::DOUBLE /
                             greatest(len(list_distinct(list_concat(a.s, b.s))), 1), 6)
                           AS jaccard
                FROM cand c
                JOIN dsh a ON a.doc_id = c.id_a
                JOIN dsh b ON b.doc_id = c.id_b
            )
            SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= 0.8
        """,
        "simhash_pairs": f"""
            WITH {_SIMHASH_CTES}
            SELECT c.id_a, c.id_b,
                   bit_count(xor(a.simhash, b.simhash))::INT AS hamming
            FROM cand c
            JOIN sig a ON a.doc_id = c.id_a
            JOIN sig b ON b.doc_id = c.id_b
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        """,
        "dedup_keep_list": f"""
            WITH RECURSIVE {_SIMHASH_CTES},
            spairs AS (
                SELECT c.id_a, c.id_b
                FROM cand c
                JOIN sig a ON a.doc_id = c.id_a
                JOIN sig b ON b.doc_id = c.id_b
                WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
            ),
            edges AS (
                SELECT id_a AS src, id_b AS dst FROM spairs
                UNION
                SELECT id_b, id_a FROM spairs
            ),
            reach(id, label) AS (
                SELECT doc_id, doc_id FROM documents
                UNION
                SELECT e.src, r.label FROM edges e JOIN reach r ON r.id = e.dst
            )
            SELECT id AS doc_id FROM (
                SELECT id, min(label) AS component FROM reach GROUP BY id
            ) WHERE component = id
        """,
        "clean_corpus": f"""
            WITH {_LANG_PRED_CTE},
            keepers AS (
                SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
            ),
            q AS (
                SELECT doc_id,
                       round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                             / greatest(length(text), 1)::DOUBLE, 6) AS punct_ratio,
                       length(text) AS nc
                FROM documents
            )
            SELECT q.doc_id, q.punct_ratio
            FROM q
            JOIN lang USING (doc_id)
            JOIN keepers USING (doc_id)
            WHERE lang.lang_pred = 'en' AND q.punct_ratio <= 0.2 AND q.nc >= 100
        """,
        "stratified_sample": """
            SELECT doc_id, lang FROM documents
            WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 1000
                  < CASE WHEN lang = 'en' THEN 300 ELSE 100 END
        """,
        "bigram_topk": """
            WITH toks AS (
                SELECT CASE WHEN length(trim(text)) = 0 THEN []
                            ELSE string_split_regex(trim(text), '\\s+') END AS t
                FROM documents
            ),
            bg AS (
                SELECT unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS bigram
                FROM toks WHERE len(t) >= 2
            )
            SELECT bigram, count(*) AS n FROM bg
            GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20
        """,
        "repetition_scores": """
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split(text, chr(10)),
                                   s -> length(trim(s)) > 0) AS lines,
                       list_filter(string_split_regex(trim(text), '\\s+'),
                                   s -> length(s) > 0) AS words
                FROM documents
            )
            SELECT doc_id,
                   len(lines)::BIGINT AS n_lines,
                   round((len(lines) - len(list_distinct(lines)))::DOUBLE
                         / greatest(len(lines), 1), 6) AS dup_line_frac,
                   round((len(words) - len(list_distinct(words)))::DOUBLE
                         / greatest(len(words), 1), 6) AS dup_word_frac
            FROM t
        """,
        # identical canonicalization rule chain, DuckDB regex dialect
        # (\\1 replacement groups, explicit 'g' only where multiple
        # matches are possible — DuckDB replaces first-only by default)
        "url_canonical_dedup": """
            WITH u AS (
                SELECT doc_id,
                       CASE doc_id % 6
                         WHEN 0 THEN 'HTTP://WWW.Example.COM:80/Path'
                              || doc_id || '/?utm_source=x&id=' || doc_id
                         WHEN 1 THEN 'https://Example.com:443/a/'
                              || doc_id || '#frag'
                         WHEN 2 THEN 'https://Shop.example.com/'
                         WHEN 3 THEN 'http://sub.EXAMPLE.com/p' || doc_id
                              || '?a=1&utm_medium=m'
                         WHEN 4 THEN
                              'https://other.org/x?gclid=123&utm_campaign=c&q='
                              || doc_id
                         ELSE 'http://news.example.com:8080/v?id=' || doc_id
                       END AS url
                FROM documents
            ),
            c1 AS (SELECT doc_id, regexp_replace(url, '#.*', '') AS u
                   FROM u),
            c2 AS (SELECT doc_id,
                          lower(regexp_extract(u,
                              '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*'))
                          || substr(u, length(regexp_extract(u,
                              '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*')) + 1)
                              AS u
                   FROM c1),
            c3 AS (SELECT doc_id, regexp_replace(regexp_replace(u,
                              '^(http://[^/?:]+):80([/?].*|$)', '\\1\\2'),
                              '^(https://[^/?:]+):443([/?].*|$)', '\\1\\2')
                              AS u
                   FROM c2),
            c4 AS (SELECT doc_id, regexp_replace(u, '^(https?://)www\\.',
                              '\\1') AS u
                   FROM c3),
            c5 AS (SELECT doc_id, regexp_replace(u,
                              '(utm_[a-z]+|gclid|fbclid)=[^&#]*&?', '', 'g')
                              AS u
                   FROM c4),
            c6 AS (SELECT doc_id,
                          regexp_replace(regexp_replace(regexp_replace(u,
                              '\\?&', '?'), '[?&]$', ''),
                              '^([a-z][a-z0-9+.-]*://[^/?]+)/$', '\\1')
                              AS u
                   FROM c5)
            SELECT doc_id, u AS canon_url,
                   regexp_extract(u, '^[a-z][a-z0-9+.-]*://([^/?:]+)', 1)
                       AS host
            FROM c6
        """,
        "top_ngram_stats": """
            WITH t AS (
                SELECT doc_id,
                       list_filter(
                           string_split_regex(trim(lower(text)), '\\s+'),
                           s -> length(s) > 0) AS words
                FROM documents
            ),
            toks AS (SELECT doc_id, unnest(words) AS w FROM t),
            uc AS (SELECT doc_id, w, count(*) AS c FROM toks GROUP BY 1, 2),
            u AS (SELECT doc_id, max(c) AS top_u, sum(c) AS n_words
                  FROM uc GROUP BY 1),
            bgl AS (
                SELECT doc_id,
                       list_transform(
                           generate_series(1, len(words) - 1),
                           i -> words[i] || ' ' || words[i + 1]) AS bgs
                FROM t WHERE len(words) >= 2
            ),
            bgt AS (SELECT doc_id, unnest(bgs) AS g FROM bgl),
            bc AS (SELECT doc_id, g, count(*) AS c FROM bgt GROUP BY 1, 2),
            b AS (SELECT doc_id, max(c) AS top_b, sum(c) AS n_bg
                  FROM bc GROUP BY 1)
            SELECT d.doc_id,
                   coalesce(u.n_words, 0)::BIGINT AS n_words,
                   round(coalesce(u.top_u, 0)::DOUBLE
                         / greatest(coalesce(u.n_words, 0), 1), 6)
                       AS top_word_frac,
                   round(coalesce(b.top_b, 0)::DOUBLE
                         / greatest(coalesce(b.n_bg, 0), 1), 6)
                       AS top_bigram_frac
            FROM (SELECT DISTINCT doc_id FROM documents) d
            LEFT JOIN u USING (doc_id) LEFT JOIN b USING (doc_id)
        """,
        "doc_freq_topk": """
            WITH tk AS (
                SELECT unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) AS token
                FROM documents
            )
            SELECT token, count(*) AS df FROM tk
            WHERE length(token) > 0
            GROUP BY token ORDER BY df DESC, token LIMIT 20
        """,
        "dup_components": f"""
            WITH RECURSIVE {_SIMHASH_CTES},
            spairs AS (
                SELECT c.id_a, c.id_b
                FROM cand c
                JOIN sig a ON a.doc_id = c.id_a
                JOIN sig b ON b.doc_id = c.id_b
                WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
            ),
            edges AS (
                SELECT id_a AS src, id_b AS dst FROM spairs
                UNION
                SELECT id_b, id_a FROM spairs
            ),
            reach(id, label) AS (
                SELECT doc_id, doc_id FROM documents
                UNION
                SELECT e.src, r.label FROM edges e JOIN reach r ON r.id = e.dst
            )
            SELECT id AS doc_id, min(label) AS component
            FROM reach GROUP BY id
        """,
        "ann_lsh_topk": """
            WITH planes AS (
                SELECT i, p,
                       CASE WHEN substr(md5(i::VARCHAR || '_' || p::VARCHAR),1,1) < '8'
                            THEN 1 ELSE -1 END AS s
                FROM range(0, 256) t1(i), range(0, 6) t2(p)
            ),
            proj AS (
                SELECT e.vec_id, pl.p,
                       sum(round(e.embedding[pl.i + 1]::DOUBLE * 1e6)::BIGINT * pl.s) AS pr
                FROM embeddings e JOIN planes pl ON pl.i < len(e.embedding)
                GROUP BY e.vec_id, pl.p
            ),
            bucket AS (
                SELECT vec_id,
                       sum(CASE WHEN pr >= 0 THEN (1::BIGINT << p) ELSE 0 END)::INT AS bkt
                FROM proj GROUP BY vec_id
            ),
            qb AS (SELECT bkt AS qbkt FROM bucket WHERE vec_id = 0),
            probes AS (
                SELECT qbkt AS pb FROM qb
                UNION ALL
                SELECT xor(qbkt::BIGINT, (1::BIGINT << p))::INT FROM qb, range(0, 6) t(p)
            ),
            q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
            scored AS (
                SELECT e.vec_id,
                       round(list_dot_product(e.embedding::DOUBLE[], qv)
                             / greatest(sqrt(list_dot_product(e.embedding::DOUBLE[],
                                                              e.embedding::DOUBLE[]))
                                        * sqrt(list_dot_product(qv, qv)), 1e-12), 6) AS cos6
                FROM embeddings e, q
                WHERE e.vec_id IN (
                    SELECT b2.vec_id FROM bucket b2
                    WHERE b2.bkt IN (SELECT pb FROM probes)
                )
            )
            SELECT vec_id, round(cos6, 3) AS cos3
            FROM scored ORDER BY cos6 DESC, vec_id LIMIT 10
        """,
        "ivf_topk": _ivf_oracle_sql(dim=64, n_lists=16, nprobe=4, iters=2, k=10),
        "embedding_neardup": """
            WITH u AS (
                SELECT vec_id, embedding FROM embeddings
                UNION ALL
                SELECT vec_id + 1000000, embedding FROM embeddings
                WHERE vec_id < 50
            ),
            planes AS (
                SELECT i, p,
                       CASE WHEN substr(md5(i::VARCHAR || '_' || p::VARCHAR),1,1) < '8'
                            THEN 1 ELSE -1 END AS s
                FROM range(0, 256) t1(i), range(0, 16) t2(p)
            ),
            proj AS (
                SELECT e.vec_id, pl.p,
                       sum(round(e.embedding[pl.i + 1]::DOUBLE * 1e6)::BIGINT * pl.s)
                           AS pr
                FROM u e JOIN planes pl ON pl.i < len(e.embedding)
                GROUP BY e.vec_id, pl.p
            ),
            bucket AS (
                SELECT vec_id,
                       sum(CASE WHEN pr >= 0 THEN (1::BIGINT << p) ELSE 0 END)::INT
                           AS bkt
                FROM proj GROUP BY vec_id
            ),
            kept AS (
                SELECT vec_id, bkt FROM (
                    SELECT vec_id, bkt,
                           row_number() OVER (PARTITION BY bkt ORDER BY vec_id) rn
                    FROM bucket
                ) WHERE rn <= 256
            ),
            pairs AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b
                FROM kept a JOIN kept b
                  ON a.bkt = b.bkt AND a.vec_id < b.vec_id
            ),
            uv AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM u),
            scored AS (
                SELECT p.id_a, p.id_b,
                       round(list_dot_product(a.v, b.v)
                             / greatest(sqrt(list_dot_product(a.v, a.v))
                                        * sqrt(list_dot_product(b.v, b.v)), 1e-12), 6)
                           AS cosine
                FROM pairs p
                JOIN uv a ON a.vec_id = p.id_a
                JOIN uv b ON b.vec_id = p.id_b
            )
            SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.99
        """,
        "pushdown_decode_agg": """
            SELECT lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars
            FROM documents WHERE n_chars >= 300 GROUP BY lang
        """,
        "zorder_pushdown_agg": """
            SELECT event_type, count(*) AS n_events,
                   sum(event_id)::BIGINT AS sum_ids
            FROM events
            WHERE user_id BETWEEN 2 AND 9
              AND ts >= TIMESTAMP '2024-01-08'
              AND ts <= TIMESTAMP '2024-01-18'
            GROUP BY event_type
        """,
        "bloom_pushdown_lookup": """
            SELECT 'doc://d/' || doc_id AS url, lang, n_chars
            FROM documents WHERE doc_id = 123
        """,
        "alp_decoded_prices": """
            SELECT l_orderkey, l_linenumber, l_quantity,
                   l_extendedprice, l_discount, l_tax
            FROM lineitem WHERE l_orderkey IN (1, 7, 32, 133)
        """,
        "merge_on_read_delete_agg": """
            SELECT lang, count(*) AS n_docs,
                   sum(n_chars)::BIGINT AS sum_chars
            FROM documents WHERE lang <> 'de'
            GROUP BY lang
        """,
        "compact_sorted_pushdown_agg": """
            SELECT lang, count(*) AS n_docs,
                   sum(n_chars)::BIGINT AS sum_chars,
                   min(n_chars)::BIGINT AS min_chars,
                   max(n_chars)::BIGINT AS max_chars
            FROM documents
            WHERE n_chars >= 200 AND n_chars <= 260
            GROUP BY lang
        """,
        "local_reader_agg": """
            SELECT lang, count(*) AS n_docs,
                   sum(n_chars)::BIGINT AS sum_chars
            FROM documents
            WHERE n_chars >= 150 AND n_chars <= 300
            GROUP BY lang
        """,
        "merge_upsert_agg": """
            WITH merged AS (
                SELECT CASE WHEN doc_id % 97 = 0 THEN 'xx'
                            ELSE lang END AS lang,
                       CASE WHEN doc_id % 97 = 0 THEN n_chars + 1000
                            ELSE n_chars END AS n_chars
                FROM documents
                UNION ALL
                SELECT lang, n_chars
                FROM (VALUES ('new', 11), ('new', 22), ('new', 33))
                     t(lang, n_chars)
            )
            SELECT lang, count(*) AS n_docs,
                   sum(n_chars)::BIGINT AS sum_chars
            FROM merged GROUP BY lang
        """,
        "metadata_only_agg": """
            SELECT 'all' AS scope, count(*) AS n_rows,
                   (count(*) - count(n_chars)) AS n_nulls,
                   sum(n_chars)::BIGINT AS sum,
                   min(n_chars)::BIGINT AS min,
                   max(n_chars)::BIGINT AS max
            FROM documents
            UNION ALL
            SELECT 'ge_250' AS scope, count(*) AS n_rows,
                   (count(*) - count(n_chars)) AS n_nulls,
                   sum(n_chars)::BIGINT AS sum,
                   min(n_chars)::BIGINT AS min,
                   max(n_chars)::BIGINT AS max
            FROM documents WHERE n_chars >= 250
        """,
        "pushdown_decode_agg_or": """
            SELECT lang, count(*) AS n_docs,
                   sum(n_chars)::BIGINT AS sum_chars
            FROM documents WHERE n_chars <= 100 OR n_chars >= 450
            GROUP BY lang
        """,
        "pushdown_decode_agg_str": """
            SELECT count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars
            FROM documents WHERE lang = 'en'
        """,
        "pushdown_decode_agg_in": """
            SELECT lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars
            FROM documents WHERE lang IN ('de', 'zh') GROUP BY lang
        """,
        "iceberg_read_agg": """
            SELECT lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars
            FROM documents GROUP BY lang
        """,
        # the Delta remove-replay rewrite preserves content: live set ==
        # full documents table
        "delta_read_agg": """
            SELECT lang, source, count(*) AS n_docs,
                   sum(n_chars)::BIGINT AS sum_chars
            FROM documents GROUP BY lang, source
        """,
        # first snapshot = first half of documents in doc_id order (the
        # fixture writes [:n//2] then [n//2:]; time travel selects snap 1)
        "iceberg_rest_read_agg": """
            WITH o AS (
                SELECT source, n_chars,
                       row_number() OVER (ORDER BY doc_id) AS rn,
                       count(*) OVER () AS n
                FROM documents
            )
            SELECT source, count(*) AS n_docs,
                   sum(n_chars)::BIGINT AS sum_chars
            FROM o WHERE rn <= n // 2 GROUP BY source
        """,
        # identical wrap + regexp-chain extraction as the Spark operator
        # (operators/text.py html_to_text_col); replace order matters and
        # matches (nbsp, lt, gt, quot, #39, amp LAST — no double-unescape);
        # explicit whitespace class (Java \s includes \x0B, RE2's does not)
        "html_extract_text": (
            "SELECT doc_id, trim(regexp_replace("
            "replace(replace(replace(replace(replace(replace("
            "regexp_replace(regexp_replace(regexp_replace(regexp_replace("
            "'" + _HTML_PRE + "' || text || '" + _HTML_POST + "', "
            r"'(?is)<script\b.*?</script>', ' ', 'g'), "
            r"'(?is)<style\b.*?</style>', ' ', 'g'), "
            r"'(?s)<!--.*?-->', ' ', 'g'), "
            r"'(?s)<[^>]*>', ' ', 'g'), "
            "'&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), "
            "'&quot;', '\"'), '&#39;', ''''), '&amp;', '&'), "
            r"'[ \t" + "\\n\\r\\f]+', ' ', 'g')) AS extracted_text "
            "FROM documents"
        ),
        # same seeded injection + the SAME Java/RE2-shared patterns in the
        # same order (emails before phones) as operators/text.py
        "pii_redaction": r"""
            WITH seeded AS (
                SELECT doc_id, text || CASE
                    WHEN doc_id % 5 = 0
                        THEN ' contact user' || doc_id || '@mail.example.com'
                    WHEN doc_id % 5 = 1 THEN ' call +1 (415) 555-0123 now'
                    WHEN doc_id % 5 = 2
                        THEN ' from 10.0.' || (doc_id % 256) || '.7 logged'
                    ELSE '' END AS text
                FROM documents
            ), red AS (
                SELECT doc_id,
                       regexp_replace(regexp_replace(regexp_replace(text,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                           '<EMAIL>', 'g'),
                           '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
                           '\+?\d[\d \t\n\r\f().-]{7,}\d', '<PHONE>', 'g')
                           AS redacted
                FROM seeded
            )
            SELECT doc_id, redacted,
                   (len(regexp_extract_all(redacted, '<EMAIL>'))
                    + len(regexp_extract_all(redacted, '<IP>'))
                    + len(regexp_extract_all(redacted, '<PHONE>')))::INT
                       AS pii_hits
            FROM red
        """,
        "media_features": """
            SELECT 'doc://d/' || doc_id AS url,
                   CASE doc_id % 4 WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/jpeg'
                        WHEN 2 THEN 'audio/wav'
                        ELSE 'application/octet-stream' END AS media_type,
                   (CASE doc_id % 4 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 12
                         ELSE 1 END
                    + octet_length(encode(text)))::BIGINT AS n_bytes
            FROM documents
        """,
    }
