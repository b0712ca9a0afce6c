"""Bloom filters on encoded chunks: build and probe agree, and an equality
predicate on an unsorted high-cardinality column prunes to ~1 chunk where
zone maps keep everything."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cuda_float_compress_spark.operators.bloom import (
    bloom_build,
    bloom_contains,
    bloom_hashes,
)


def test_build_and_contains_no_false_negatives():
    members = [f"doc://d/{i}" for i in range(2000)]
    filt = bloom_build(members)
    assert filt is not None and len(filt) % 8 == 0
    for m in members:
        assert bloom_contains(filt, m)


def test_false_positive_rate_reasonable():
    filt = bloom_build([f"doc://d/{i}" for i in range(5000)])
    fp = sum(
        bloom_contains(filt, f"other://x/{i}") for i in range(10000)
    )
    assert fp / 10000 < 0.05  # ~1% nominal at 10 bits/key, 7 probes


def test_empty_and_null_only_builds_none():
    assert bloom_build([]) is None
    assert bloom_build([None, None]) is None


def test_int_values_hash_like_their_text_form():
    filt = bloom_build(str(v) for v in [5, 17, 2**40])
    assert bloom_contains(filt, 17) and bloom_contains(filt, 2**40)
    h_int, _ = bloom_hashes(17)
    h_str, _ = bloom_hashes("17")
    assert h_int == h_str


@pytest.fixture(scope="module")
def encoded_docs(spark, tmp_path_factory):
    """300 docs encoded sorted by length — url zone maps span everything,
    so only the Bloom filter can prune a url point probe."""
    from cuda_float_compress_spark.operators.encode import encode_table

    out = str(tmp_path_factory.mktemp("bloomtab"))
    rows = [(i, f"doc://d/{i}", (i * 37) % 500 + 20) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id: long, url: string, n_chars: long")
    encode_table(spark, df, out, n_parts=2, resume=False,
                 sort_keys=["n_chars"], chunk_rows=32,
                 bloom_cols=["url", "doc_id"])
    return out


def test_equality_probe_prunes_to_single_chunk(spark, encoded_docs):
    from cuda_float_compress_spark.operators.decode import (
        committed_blocks,
        qualifying_chunks,
    )

    blocks = committed_blocks(spark, encoded_docs)
    total = blocks.select("part_id", "chunk_id").distinct().count()
    assert total >= 8
    kept = qualifying_chunks(
        blocks, [("url", "==", "doc://d/123")]
    ).count()
    assert kept <= 2, (kept, total)  # 1 true chunk + rare false positive
    # int bloom prunes too
    kept_int = qualifying_chunks(
        blocks, [("doc_id", "==", 123)]
    ).count()
    assert kept_int <= 2, (kept_int, total)
    # absent key: every chunk bloom says no (doc://d/99999 is a verified
    # deterministic false positive in one chunk — the Python twin agrees —
    # so probe a key the twin confirms FP-free across all chunk filters)
    assert qualifying_chunks(
        blocks, [("url", "==", "doc://d/424242")]
    ).count() == 0
    # a table without the bloom column (pre-bloom layout) keeps all chunks
    legacy = blocks.drop("bloom")
    assert qualifying_chunks(
        legacy, [("url", "==", "doc://d/123")]
    ).count() == total


def test_decode_with_bloom_predicate_is_exact(spark, encoded_docs):
    from cuda_float_compress_spark.operators.direct import decode_table_direct

    got = decode_table_direct(
        spark, encoded_docs, columns=["doc_id", "url", "n_chars"],
        predicates=[("url", "==", "doc://d/123")],
    ).collect()
    assert [(r["doc_id"], r["url"], r["n_chars"]) for r in got] == [
        (123, "doc://d/123", (123 * 37) % 500 + 20)
    ]
    # IN-list through blooms: exactly the two requested rows
    got_in = sorted(
        r["doc_id"]
        for r in decode_table_direct(
            spark, encoded_docs, columns=["doc_id"],
            predicates=[("url", "in", ["doc://d/7", "doc://d/250"])],
        ).collect()
    )
    assert got_in == [7, 250]


def test_compact_preserves_bloom_filters(spark, encoded_docs, tmp_path):
    """Compaction re-chunks; columns that carried Bloom filters must carry
    rebuilt ones in the compacted layout (else point-lookup pruning silently
    degrades after maintenance)."""
    from cuda_float_compress_spark.operators.decode import committed_blocks
    from cuda_float_compress_spark.operators.direct import decode_table_direct
    from cuda_float_compress_spark.operators.maintain import compact

    packed = str(tmp_path / "packed")
    stats = compact(spark, encoded_docs, packed, chunk_rows=32768)
    assert stats["chunks_after"] < stats["chunks_before"]
    blocks = committed_blocks(spark, packed)
    with_bloom = blocks.filter(
        (blocks.col == "url") & blocks.bloom.isNotNull()
    ).count()
    assert with_bloom > 0, "compacted url chunks lost their Bloom filters"
    got = decode_table_direct(
        spark, packed, columns=["doc_id", "url"],
        predicates=[("url", "==", "doc://d/123")],
    ).collect()
    assert [(r["doc_id"], r["url"]) for r in got] == [(123, "doc://d/123")]


def test_probe_with_coerced_int_literal_not_falsely_absent(spark, encoded_docs):
    """ADVICE r6: int blooms hash the decimal text of the VALUES, so a
    float literal 123.0 hashed b'123.0' vs the build side's b'123' — a
    false 'definitely absent' that silently pruned matching chunks. The
    probe literal must normalize to the column's canonical int form."""
    from cuda_float_compress_spark.operators.decode import (
        committed_blocks,
        qualifying_chunks,
    )

    blocks = committed_blocks(spark, encoded_docs)
    as_int = qualifying_chunks(blocks, [("doc_id", "==", 123)]).collect()
    as_float = qualifying_chunks(blocks, [("doc_id", "==", 123.0)]).collect()
    key = lambda r: (r["part_id"], r["chunk_id"])  # noqa: E731
    assert sorted(map(key, as_float)) == sorted(map(key, as_int))
    assert len(as_int) >= 1
    # IN-list path normalizes each member the same way
    in_float = qualifying_chunks(
        blocks, [("doc_id", "in", [123.0, 250.0])]
    ).collect()
    in_int = qualifying_chunks(
        blocks, [("doc_id", "in", [123, 250])]
    ).collect()
    assert sorted(map(key, in_float)) == sorted(map(key, in_int))


def test_float_and_date_probes_match_the_build_form(spark, tmp_path):
    """Bloom filters hash str(value), so a probe literal in
    another form (123 against a float column, a datetime against a date
    column) hashed different bytes than the build side and could prune a
    matching chunk as "definitely absent". Float and date columns now
    carry filters, and every literal form of a stored value keeps exactly
    the chunk that holds it."""
    import datetime as dt

    from cuda_float_compress_spark.operators.decode import (
        committed_blocks,
        qualifying_chunks,
    )
    from cuda_float_compress_spark.operators.encode import encode_table

    out = str(tmp_path / "fbloom")
    day0 = dt.date(2024, 1, 1)
    rows = [(i, f"doc://d/{i}", float(i), day0 + dt.timedelta(days=i))
            for i in range(300)]
    df = spark.createDataFrame(
        rows, "doc_id: long, url: string, score: double, day: date")
    encode_table(spark, df, out, n_parts=1, resume=False,
                 sort_keys=["doc_id"], chunk_rows=32,
                 bloom_cols=["score", "day"])
    blocks = committed_blocks(spark, out)
    assert blocks.filter(
        F.col("col").isin("score", "day") & F.col("bloom").isNull()
    ).count() == 0
    holder = {
        (r["part_id"], r["chunk_id"])
        for r in qualifying_chunks(blocks, [("doc_id", "==", 123)]).collect()
    }
    assert len(holder) == 1
    day123 = day0 + dt.timedelta(days=123)
    for pred in [("score", "==", 123), ("score", "==", 123.0),
                 ("score", "in", [123, 5000]), ("day", "==", day123),
                 ("day", "==", dt.datetime(2024, 5, 3)),
                 ("day", "==", (day123 - dt.date(1970, 1, 1)).days)]:
        got = {(r["part_id"], r["chunk_id"])
               for r in qualifying_chunks(blocks, [pred]).collect()}
        assert got == holder, pred
    # a value inside the chunk's zone-map range but absent from the chunk
    # is pruned by its filter
    assert qualifying_chunks(blocks, [("score", "==", 123.5)]).count() == 0
