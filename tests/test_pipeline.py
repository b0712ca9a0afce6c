"""End-to-end engine tests: encode -> blocks/manifest/lineage -> decode ->
bit-identical verification, plus checkpoint-resume and skew salting.

This is the Spark port of the reference's flagship round trip
(examples/model_compress_example.py: compress -> decompress -> per-layer
equality report)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from cuda_float_compress_spark.operators.decode import decode_table
from cuda_float_compress_spark.operators.encode import encode_table
from cuda_float_compress_spark.operators.verify import verify_roundtrip
from cuda_float_compress_spark.plans import plan_partitions, skewed_hosts
from cuda_float_compress_spark.table import generate_webpages_df

N_ROWS = 3_000


@pytest.fixture(scope="module")
def webpages(spark):
    df = generate_webpages_df(spark, N_ROWS, partitions=4).cache()
    df.count()
    yield df
    df.unpersist()


def test_encode_decode_bit_identical(spark, webpages, scratch):
    stats = encode_table(
        spark, webpages, scratch, n_parts=8, chunk_rows=512, resume=False
    )
    assert stats["rows"] == N_ROWS
    assert stats["enc_bytes"] < stats["raw_bytes"]  # it actually compresses

    decoded = decode_table(spark, scratch)
    assert decoded.count() == N_ROWS

    report = verify_roundtrip(webpages, decoded, "url").collect()
    assert len(report) == 5
    for r in report:
        assert r["ok"], f"column {r['column']}: {r['n_match']}/{r['n_rows']}"


def test_decode_column_pruning(spark, webpages, scratch):
    encode_table(spark, webpages, scratch, n_parts=4, chunk_rows=1024, resume=False)
    only_text = decode_table(spark, scratch, columns=["url", "text"])
    assert only_text.columns == ["url", "text"]
    # byte-identity of text per url against the source
    rep = verify_roundtrip(
        webpages.select("url", "text"), only_text, "url"
    ).collect()
    assert all(r["ok"] for r in rep)


def test_manifest_and_lineage_written(spark, webpages, scratch):
    stats = encode_table(spark, webpages, scratch, n_parts=4, resume=False)
    manifest = spark.read.parquet(f"{scratch}/manifest")
    lineage = spark.read.parquet(f"{scratch}/lineage")
    assert manifest.filter(F.col("col") == "text").count() > 0
    # every column's manifest sums match the accumulator totals
    total = manifest.agg(F.sum("enc_bytes").alias("e")).collect()[0]["e"]
    assert total == stats["enc_bytes"]
    done = lineage.filter(F.col("status") == "done").select("part_id").distinct()
    assert done.count() == lineage.select("part_id").distinct().count()


def test_checkpoint_resume_skips_done_parts(spark, webpages, scratch):
    s1 = encode_table(spark, webpages, scratch, n_parts=8, resume=False)
    assert s1["skipped_parts"] == 0
    # second run with resume=True must skip everything and add no new blocks
    n_blocks_before = spark.read.parquet(f"{scratch}/blocks").count()
    s2 = encode_table(spark, webpages, scratch, n_parts=8, resume=True)
    assert s2["rows"] == 0
    assert s2["skipped_parts"] > 0
    n_blocks_after = spark.read.parquet(f"{scratch}/blocks").count()
    assert n_blocks_after == n_blocks_before
    # decode after resume is still exactly the table
    decoded = decode_table(spark, scratch)
    rep = verify_roundtrip(webpages, decoded, "url").collect()
    assert all(r["ok"] for r in rep)


def test_partial_resume_completes_table(spark, webpages, scratch):
    # encode only half the parts by simulating a crashed run: run once over a
    # filtered part subset, then resume over the full input
    planned = plan_partitions(webpages, "url", 8)
    half = planned.filter(F.col("part_id") < 4).drop("part_id")
    encode_table(spark, half, scratch, n_parts=8, resume=False, detect_skew=False)
    s2 = encode_table(spark, webpages, scratch, n_parts=8, resume=True,
                      detect_skew=False)
    assert 0 < s2["skipped_parts"] < 8
    decoded = decode_table(spark, scratch)
    assert decoded.count() == N_ROWS
    rep = verify_roundtrip(webpages, decoded, "url").collect()
    assert all(r["ok"] for r in rep)


def test_skew_salting_splits_hot_hosts(spark, webpages):
    salts = skewed_hosts(webpages, "url", n_parts=8)
    assert salts, "zipf generator should produce at least one hot host"
    planned = plan_partitions(webpages, "url", 8, salts=salts)
    sizes = planned.groupBy("part_id").count().collect()
    counts = [r["count"] for r in sizes]
    # with salting, no partition should hold the biggest host's full share
    assert max(counts) < N_ROWS * 0.45
    # part assignment is deterministic: re-planning yields identical mapping
    a = planned.select("url", "part_id")
    b = plan_partitions(webpages, "url", 8, salts=salts).select("url", "part_id")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_skew_sampled_detection_and_lineage_reuse(spark, webpages, scratch):
    """Sampled skew detection (the same one-action plan over a key sample)
    still finds the hot zipf hosts, and a prior run's salt map is
    recoverable from lineage for metadata-only planning on the next run."""
    from cuda_float_compress_spark.operators.encode import salts_from_lineage

    exact = skewed_hosts(webpages, "url", n_parts=8)
    sampled = skewed_hosts(webpages, "url", n_parts=8, sample_fraction=0.5)
    assert exact, "zipf generator should produce a hot host"
    # the hottest host survives sampling (estimates may differ in fan-out)
    hottest = max(exact, key=exact.get)
    assert hottest in sampled, (exact, sampled)
    stats = encode_table(spark, webpages, scratch, n_parts=8, resume=False)
    assert stats["salts"] == exact
    assert salts_from_lineage(spark, scratch) == exact
    # explicit salts skip detection entirely and stay resumable
    stats2 = encode_table(
        spark, webpages, f"{scratch}_reuse", n_parts=8, resume=False,
        salts=salts_from_lineage(spark, scratch),
    )
    assert stats2["salts"] == exact
    decoded = decode_table(spark, f"{scratch}_reuse")
    rep = verify_roundtrip(webpages, decoded, "url").collect()
    assert all(r["ok"] for r in rep)


_GOLDEN_URLS = [
    "https://hot.example.com/a", "https://hot.example.com/b",
    "https://hot.example.com/c?q=1", "http://hot.example.com/d#x",
    "https://hot.example.com/", "https://hot.example.com/e/f/g",
    "https://warm.example.org/1", "https://warm.example.org/2",
    "https://warm.example.org/3", "https://warm.example.org/4",
    "https://cold-a.net/x", "https://cold-b.net/y", "http://cold-c.io/z",
    "https://sub.cold-d.co.uk/p?x=1", "ftp://files.cold-e.org/f.txt",
    "not a url", "http://", "://missing-scheme.com", "", None,
]
_GOLDEN_SALTS = {"hot.example.com": 4, "warm.example.org": 3}


@pytest.mark.parametrize("salts, expected", [
    (_GOLDEN_SALTS, [7, 11, 7, 7, 7, 6, 11, 7, 7, 7,
                     7, 2, 13, 13, 10, 14, 14, 14, 14, 14]),
    (None, [13, 13, 13, 13, 13, 13, 7, 7, 7, 7,
            10, 1, 10, 13, 3, 8, 8, 8, 8, 8]),
])
def test_part_ids_are_pinned_and_placed_whole(spark, salts, expected):
    """Resume re-derives part ids, so the part-id function is pinned to
    literal values (hot, cold, malformed and null urls). Each part runs
    whole in task part_id mod k, k = min(n_parts, cores): a part split
    across two tasks would emit duplicate (part_id, chunk_id) blocks."""
    df = spark.createDataFrame(list(enumerate(_GOLDEN_URLS)),
                               "i int, url string")
    planned = plan_partitions(df, "url", 16, salts=salts).select(
        "i", "part_id", F.spark_partition_id().alias("task"))
    rows = sorted(planned.collect())
    assert [r["part_id"] for r in rows] == expected
    k = min(16, spark.sparkContext.defaultParallelism)
    assert planned.rdd.getNumPartitions() == k
    assert all(r["task"] == r["part_id"] % k for r in rows)
    tasks = {}
    for r in rows:
        tasks.setdefault(r["part_id"], set()).add(r["task"])
    assert all(len(t) == 1 for t in tasks.values())


def _skew_reference(hosts, n_parts: int, scale: float,
                    skew_factor: float = 0.5) -> dict:
    """skewed_hosts computed on the driver from a pyarrow histogram."""
    import pyarrow.compute as pc

    counts = pc.value_counts(hosts).to_pylist()
    total = int(sum(c["counts"] for c in counts) * scale)
    if total == 0:
        return {}
    per_part = max(1, total // n_parts)
    threshold = max(1, int(per_part * skew_factor))
    out = {}
    for c in counts:
        if c["counts"] * scale > threshold:
            n_salts = -(-int(c["counts"] * scale) // per_part)
            if n_salts > 1:
                out[c["values"]] = n_salts
    return out


@pytest.mark.parametrize("fraction", [None, 0.5])
def test_skewed_hosts_matches_driver_reference(spark, webpages, fraction):
    """The one-action skew plan returns exactly the driver-side histogram's
    answer (exact and sampled, several fan-outs) in at most 3 Spark
    jobs."""
    from cuda_float_compress_spark.plans import host_expr

    keys = webpages.select(host_expr("url").alias("__host"))
    scale = 1.0
    if fraction is not None:
        keys = keys.sample(fraction=fraction, seed=20240806)
        scale = 1.0 / fraction
    hosts = keys.toArrow()["__host"]
    sc = spark.sparkContext
    found = set()
    for n_parts in (4, 8, 16, 32):
        want = _skew_reference(hosts, n_parts, scale)
        found |= set(want.values())
        group = f"skew-ref-{fraction}-{n_parts}"
        sc.setJobGroup(group, "skewed_hosts")
        try:
            got = skewed_hosts(webpages, "url", n_parts=n_parts,
                               sample_fraction=fraction)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert got == want, (n_parts, got, want)
        assert len(jobs) <= 3, (n_parts, jobs)
    assert len(found) > 1, found  # the fan-outs differ across n_parts


def test_malformed_urls_partition_without_throwing(spark, scratch):
    """Crawl data always carries garbage urls; under Spark 4's ANSI default
    parse_url THROWS on them, so host_expr must use try_parse_url — a single
    bad row must not kill a 100 TB encode. Bad/empty/null hosts partition
    as '<none>' and round-trip bit-identically."""
    rows = [
        (0, "https://ok.example.com/a", "x"),
        (1, "héllo wörld", "y"),        # invalid URL: spaces + non-ascii
        (2, "", "z"),                   # empty
        (3, None, "w"),                 # null
        (4, "not a url at all %%%", "v"),
    ]
    df = spark.createDataFrame(rows, "id: long, url: string, text: string")
    from cuda_float_compress_spark.plans.partitioning import host_expr

    hosts = {r["id"]: r["h"] for r in
             df.select("id", host_expr("url").alias("h")).collect()}
    assert hosts[0] == "ok.example.com"
    assert all(hosts[i] == "<none>" for i in (1, 2, 3, 4))
    encode_table(spark, df, scratch, n_parts=2, resume=False)
    decoded = decode_table(spark, scratch)
    got = sorted([(r["id"], r["url"], r["text"]) for r in decoded.collect()])
    assert got == sorted(rows)


def test_range_partition_mode(spark, webpages, scratch):
    encode_table(
        spark, webpages, scratch, n_parts=4, mode="range", resume=False
    )
    decoded = decode_table(spark, scratch)
    rep = verify_roundtrip(webpages, decoded, "url").collect()
    assert all(r["ok"] for r in rep)


def test_testdata_documents_roundtrip(spark, scratch):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs = docs.withColumn("url", F.concat(F.lit("doc://d/"), F.col("doc_id")))
    stats = encode_table(spark, docs, scratch, n_parts=4, resume=False)
    decoded = decode_table(spark, scratch)
    rep = verify_roundtrip(docs, decoded, "url").collect()
    assert all(r["ok"] for r in rep)
    assert stats["enc_bytes"] < stats["raw_bytes"]


def test_testdata_embeddings_roundtrip(spark, scratch):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb = emb.withColumn("url", F.concat(F.lit("vec://v/"), F.col("vec_id")))
    encode_table(spark, emb, scratch, n_parts=2, resume=False)
    decoded = decode_table(spark, scratch)
    rep = verify_roundtrip(emb, decoded, "url").collect()
    assert all(r["ok"] for r in rep), rep


def test_zone_map_predicate_pruning(spark, webpages, scratch):
    from datetime import datetime

    from cuda_float_compress_spark.operators.decode import prune
    from cuda_float_compress_spark.snapshot import Snapshot

    encode_table(spark, webpages, scratch, n_parts=4, chunk_rows=256,
                 resume=False, sort_keys=["warc_ts"])
    cutoff = datetime(2024, 8, 7, 0, 45, 0)
    decoded = decode_table(spark, scratch, predicates=[("warc_ts", ">=", cutoff)])
    expected = webpages.filter(F.col("warc_ts") >= F.lit(cutoff))
    assert decoded.count() == expected.count()
    rep = verify_roundtrip(expected, decoded, "url").collect()
    assert all(r["ok"] for r in rep)
    # pruning actually skipped chunks (sorted by ts within parts -> tight
    # zone maps)
    stats = Snapshot.resolve(scratch).chunk_stats
    total = len(set(zip(stats["part_id"].to_pylist(),
                        stats["chunk_id"].to_pylist())))
    kept = len(prune(stats, [("warc_ts", ">=", cutoff)]))
    assert kept < total, (kept, total)


def test_zone_map_equality_and_column_subset(spark, webpages, scratch):
    encode_table(spark, webpages, scratch, n_parts=4, resume=False)
    row = webpages.select(F.unix_micros("warc_ts").alias("us")).orderBy("us").collect()[100]
    decoded = decode_table(
        spark, scratch, columns=["url", "text"],
        predicates=[("warc_ts", "==", row["us"])],
    )
    out = decoded.collect()
    assert len(out) >= 1
    assert sorted(decoded.columns) == ["text", "url"]


def test_corrupt_block_fails_loudly(spark, webpages, scratch):
    # tamper with one payload on disk -> decode of that chunk must raise,
    # not silently return wrong data (reference: bad-magic/size checks,
    # src/cuszplus_f32.cu:582-636)
    import glob

    import pyarrow.parquet as pq
    import pyarrow as pa

    encode_table(spark, webpages, scratch, n_parts=2, resume=False)
    f = next(
        p for p in sorted(glob.glob(f"{scratch}/blocks/*.parquet"))
        if pq.ParquetFile(p).metadata.num_rows > 0
    )
    t = pq.read_table(f)
    payloads = t.column("payload").to_pylist()
    payloads[0] = payloads[0][: max(1, len(payloads[0]) // 2)]  # truncate
    cols = {name: t.column(name) for name in t.column_names}
    cols["payload"] = pa.array(payloads, type=pa.large_binary())
    pq.write_table(pa.table(cols), f)
    with pytest.raises(Exception):
        decode_table(spark, scratch).count()


def test_decoded_bytes_invariant_to_chunking(spark, webpages, tmp_path):
    # compressed bytes differ with chunk boundaries; DECODED data must not
    # (determinism requirement from SURVEY §7.4b)
    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    encode_table(spark, webpages, a_dir, n_parts=4, chunk_rows=300, resume=False)
    encode_table(spark, webpages, b_dir, n_parts=2, chunk_rows=2048, resume=False)
    a = decode_table(spark, a_dir)
    b = decode_table(spark, b_dir)
    rep = verify_roundtrip(a, b, "url").collect()
    assert all(r["ok"] for r in rep)


def test_zone_map_date_predicate(spark, scratch):
    """date32 zone-map pruning: predicate literals convert to DAYS, not
    microseconds (round-1 bug pruned every chunk and returned zero rows)."""
    import datetime as dt

    rows = [(i, dt.date(2024, 1, 1) + dt.timedelta(days=i)) for i in range(1000)]
    df = (
        spark.createDataFrame(rows, "id long, d date")
        .withColumn("url", F.concat(F.lit("u"), F.col("id")))
    )
    encode_table(spark, df, scratch, n_parts=2, chunk_rows=100, resume=False,
                 sort_keys=["d"])
    cutoff = dt.date(2026, 1, 1)
    got = decode_table(spark, scratch, predicates=[("d", ">=", cutoff)])
    expected = df.filter(F.col("d") >= F.lit(cutoff))
    assert got.count() == expected.count() > 0
    # datetime literal against a date column also normalizes correctly
    got2 = decode_table(
        spark, scratch, predicates=[("d", "<", dt.datetime(2024, 3, 1))]
    )
    assert got2.count() == df.filter(F.col("d") < F.lit(dt.date(2024, 3, 1))).count()


def test_all_supported_types_roundtrip(spark, scratch):
    """Every supported ptype through the FULL Spark pipeline in one table:
    int64/int32, float32 (with NaN/inf), float64, date32, timestamp_ntz,
    string, binary, array<float>, with a null-heavy column of each family.
    Bit-identity is checked null-safely per key (NaN != NaN in SQL equality,
    so floats are compared via their bit patterns)."""
    import datetime as dt
    import math

    import pyspark.sql.functions as F
    from pyspark.sql import types as T

    n = 2000
    rows = []
    for i in range(n):
        rows.append((
            f"k{i}",
            i * 37,                                   # int64
            (i * 13) % 2**31 - 2**30,                 # int32
            (float("nan") if i % 97 == 0 else
             float("inf") if i % 101 == 0 else i * 0.5),   # float32
            None if i % 7 == 0 else i * 1.25e100,     # float64 nullable
            dt.date(2020, 1, 1) + dt.timedelta(days=i % 4000),
            dt.datetime(2024, 1, 1) + dt.timedelta(microseconds=i * 999_999),
            None if i % 11 == 0 else f"s{i % 50}",    # low-card nullable str
            bytes([i % 256, 255 - i % 256]) * (i % 5),
            [float(i), float(i) / 3.0, -1.5],         # array<float>
        ))
    schema = T.StructType([
        T.StructField("key", T.StringType(), False),
        T.StructField("c_i64", T.LongType(), False),
        T.StructField("c_i32", T.IntegerType(), False),
        T.StructField("c_f32", T.FloatType(), False),
        T.StructField("c_f64", T.DoubleType(), True),
        T.StructField("c_date", T.DateType(), False),
        T.StructField("c_ts", T.TimestampNTZType(), False),
        T.StructField("c_str", T.StringType(), True),
        T.StructField("c_bin", T.BinaryType(), False),
        T.StructField("c_vec", T.ArrayType(T.FloatType()), False),
    ])
    df = spark.createDataFrame(rows, schema)
    encode_table(spark, df, scratch, url_col="key", n_parts=4, chunk_rows=300,
                 resume=False, detect_skew=False)
    dec = decode_table(spark, scratch)
    assert dec.count() == n
    # Spark SQL equality treats NaN = NaN as true, so eqNullSafe covers the
    # NaN rows; bit-level float identity is separately pinned at the codec
    # layer (test_hypothesis float bit-identity test)
    o = df.select("key", *[F.col(c).alias(f"o_{c}") for c in df.columns if c != "key"])
    d = dec.select("key", *[F.col(c).alias(f"d_{c}") for c in df.columns if c != "key"])
    j = o.join(d, "key")
    checks = [
        F.sum((~F.col(f"o_{c}").eqNullSafe(F.col(f"d_{c}"))).cast("long")).alias(c)
        for c in df.columns if c != "key"
    ]
    bad = j.agg(*checks).collect()[0].asDict()
    assert all(v == 0 for v in bad.values()), bad
    assert math.isnan(
        [r["c_f32"] for r in dec.filter(F.col("key") == "k0").collect()][0]
    )  # the NaN row really came back as NaN


def test_double_commit_refused(spark, webpages, scratch):
    """Two committed encodes appended to one dir make the table ambiguous
    (rows would silently double) — decode must refuse, not guess.
    ``commit_blocks`` now refuses the second commit, so the fixture lays
    a second table's run files into the first, as older writers did."""
    import glob
    import shutil

    other = f"{scratch}-other"
    for path in (scratch, other):
        encode_table(spark, webpages, path, n_parts=4, resume=False,
                     detect_skew=False)
    for sub in ("blocks", "manifest", "lineage"):
        for f in glob.glob(f"{other}/{sub}/*.parquet"):
            shutil.copy(f, f"{scratch}/{sub}/")
    with pytest.raises(Exception, match="ambiguous"):
        decode_table(spark, scratch).count()


def test_pre_partitioned_part_in_two_tasks_refused(spark, scratch):
    """``pre_partitioned=True`` takes the caller's ``part_id`` as given.
    When one part reaches two tasks, each writes chunks 0.. of it to its
    own block file. The commit refuses that run before any append,
    instead of committing a table every reader refuses, and vacuum
    reclaims the block files it wrote."""
    import os

    from cuda_float_compress_spark.operators.maintain import vacuum

    df = spark.range(0, 2000, numPartitions=4).withColumn(
        "part_id", (F.col("id") % 2).cast("int"))
    with pytest.raises(ValueError, match="duplicate block"):
        encode_table(spark, df, scratch, pre_partitioned=True, resume=False,
                     sort_keys=["id"])
    blocks = f"{scratch}/blocks"
    written = [f"{blocks}/{f}" for f in os.listdir(blocks)]
    assert len(written) == 4
    for sub in ("manifest", "lineage"):
        assert not os.path.exists(f"{scratch}/{sub}")
    size = sum(os.path.getsize(f) for f in written)
    assert vacuum(spark, scratch)["bytes_reclaimed"] == size
    assert os.listdir(blocks) == []


def test_resolve_opens_no_block_file(spark, webpages, scratch):
    """The Snapshot plans a read from lineage, the committed runs'
    manifest files and one listing of ``blocks/``. With every committed
    block file overwritten by as many junk bytes, it resolves to the same
    columns, chunk stats, file groups, block files and table stats."""
    from cuda_float_compress_spark.operators.maintain import table_stats
    from cuda_float_compress_spark.snapshot import Snapshot

    encode_table(spark, webpages, scratch, n_parts=4, chunk_rows=512,
                 resume=False, bloom_cols=["url"])

    def facts():
        snap = Snapshot.resolve(scratch)
        return (snap.columns, snap.chunk_stats, snap.file_groups,
                snap.block_files, table_stats(scratch))

    before = facts()
    assert before[3] and before[1].num_rows
    for path, size in before[3]:
        with open(path, "wb") as f:
            f.write(b"\xff" * size)
    after = facts()
    assert after[0] == before[0]
    assert after[1].equals(before[1])
    assert after[2:] == before[2:]


def test_all_null_dict_chunk_roundtrip(spark, scratch):
    """An all-null string column stored via the dict codec (card=0) must
    decode to all nulls, not IndexError."""
    from cuda_float_compress_spark.operators import chunks as C
    import pyarrow as pa

    arr = pa.array([None, None, None], type=pa.large_binary())
    for codec in ("bytes_dict", "bytes_rle"):
        _, payload, params, n, n_nulls = C.encode_column_chunk(
            arr, "binary", codec_override=codec
        )
        out = C.decode_column_chunk(payload, codec, params, n, n_nulls, "binary")
        assert out.to_pylist() == [None, None, None], codec


def test_date_predicate_int_days_literal(spark, scratch):
    import datetime as dt

    rows = [(i, dt.date(2024, 1, 1) + dt.timedelta(days=i)) for i in range(300)]
    df = (
        spark.createDataFrame(rows, "id long, d date")
        .withColumn("url", F.concat(F.lit("u"), F.col("id")))
    )
    encode_table(spark, df, scratch, n_parts=2, chunk_rows=64, resume=False,
                 sort_keys=["d"])
    days = (dt.date(2024, 6, 1) - dt.date(1970, 1, 1)).days
    got = decode_table(spark, scratch, predicates=[("d", ">=", days)])
    expected = df.filter(F.col("d") >= F.lit(dt.date(2024, 6, 1)))
    assert got.count() == expected.count() > 0


def test_legacy_chunks_keep_utf8_validation_and_verify_optout():
    """Three integrity tiers for string chunks: (1) crc-carrying chunks take
    the fast unvalidated large_string build (crc covers corruption);
    (2) LEGACY chunks without _crc must keep the VALIDATING cast — rotted
    bytes there would otherwise become an invalid-UTF8 Arrow string array
    that propagates silently; (3) verify=False (trusted local read) skips
    both the crc pass and the validation."""
    import json as _json

    import pyarrow as pa
    import pytest as _pytest

    from cuda_float_compress_spark.operators import chunks as C

    # invalid UTF-8 payload, encoded through the binary path (same wire
    # format as string chunks — this emulates a rotted legacy string block)
    bad_utf8 = [b"ok ascii", b"\xff\xfe broken", b"fine"]
    arr = pa.array(bad_utf8, type=pa.large_binary())
    codec, payload, params_json, n, n_nulls = C.encode_column_chunk(
        arr, "binary"
    )
    params = _json.loads(params_json)
    assert "_crc" in params  # new chunks always carry the checksum
    legacy_params = _json.dumps(
        {k: v for k, v in params.items() if k != "_crc"}
    )
    # legacy (no crc) + string ptype -> validation must reject the bytes
    with _pytest.raises(ValueError):  # pa.ArrowInvalid subclasses ValueError
        C.decode_column_chunk(payload, codec, legacy_params, n, n_nulls,
                              "string")
    # legacy + VALID text decodes fine through the validating path
    good = pa.array([b"hello", b"world"], type=pa.large_binary())
    c2, p2, pj2, n2, nn2 = C.encode_column_chunk(good, "binary")
    pj2_legacy = _json.dumps({
        k: v for k, v in _json.loads(pj2).items() if k != "_crc"
    })
    out = C.decode_column_chunk(p2, c2, pj2_legacy, n2, nn2, "string")
    assert out.to_pylist() == ["hello", "world"]
    # verify=False skips the crc pass entirely (trusted local read): a
    # wrong stored crc goes unnoticed, by design
    wrong_crc = _json.dumps({**_json.loads(pj2), "_crc": 12345})
    with _pytest.raises(C.BlockIntegrityError):
        C.decode_column_chunk(p2, c2, wrong_crc, n2, nn2, "string")
    out = C.decode_column_chunk(p2, c2, wrong_crc, n2, nn2, "string",
                                verify=False)
    assert out.to_pylist() == ["hello", "world"]


def test_block_corruption_detected(spark, tmp_path, scratch):
    """Per-block crc32: a storage bit-flip inside a compressed payload no
    longer decompresses into silently-wrong values (observed pre-fix: a
    mid-payload flip DECODED successfully) — decode raises
    BlockIntegrityError/ValueError naming the codec, and the clean table
    still round-trips. Truncation and params corruption surface as
    ValueError too (the row-skip/error contract at the chunk boundary)."""
    import pyarrow.parquet as pq

    from cuda_float_compress_spark.operators.chunks import (
        BlockIntegrityError,
        decode_column_chunk,
    )
    from cuda_float_compress_spark.operators.direct import encode_table_direct
    from cuda_float_compress_spark.table import generate_webpages_df

    src = str(tmp_path / "crc_src")
    generate_webpages_df(spark, 600, partitions=1).write.parquet(src)
    encode_table_direct(spark, src, scratch, resume=False,
                        target_rows_per_split=300)
    import glob as _glob

    f = sorted(_glob.glob(f"{scratch}/blocks/*.parquet"))[0]
    tbl = pq.read_table(f)
    row = {c: tbl.column(c)[0].as_py() for c in tbl.column_names}
    # pick the text column's block (big payload)
    for i in range(tbl.num_rows):
        if tbl.column("col")[i].as_py() == "text":
            row = {c: tbl.column(c)[i].as_py() for c in tbl.column_names}
            break
    good = decode_column_chunk(row["payload"], row["codec"], row["params"],
                               row["n"], row["n_nulls"], row["ptype"])
    assert len(good) == row["n"]
    bad = bytearray(row["payload"])
    bad[len(bad) // 2] ^= 0xFF
    import pytest as _pytest
    with _pytest.raises(BlockIntegrityError, match="crc32 mismatch"):
        decode_column_chunk(bytes(bad), row["codec"], row["params"],
                            row["n"], row["n_nulls"], row["ptype"])
    with _pytest.raises(ValueError):
        decode_column_chunk(row["payload"][: len(row["payload"]) // 3],
                            row["codec"], row["params"], row["n"],
                            row["n_nulls"], row["ptype"])
    with _pytest.raises(ValueError, match="params"):
        decode_column_chunk(row["payload"], row["codec"], '{"bad',
                            row["n"], row["n_nulls"], row["ptype"])
