"""Direct-layout (no-shuffle) encode path: bit-identity + resume."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from cuda_float_compress_spark.operators.decode import decode_table
from cuda_float_compress_spark.operators.direct import encode_table_direct, plan_splits
from cuda_float_compress_spark.operators.verify import verify_roundtrip
from cuda_float_compress_spark.table import generate_webpages_df


def test_plan_splits_covers_all_rows(spark, tmp_path):
    src = str(tmp_path / "src")
    generate_webpages_df(spark, 2000, partitions=3).write.parquet(src)
    splits = plan_splits(src, target_rows_per_split=500)
    assert len(splits) >= 3
    assert [s[0] for s in splits] == list(range(len(splits)))


def test_plan_splits_default_cap_keeps_uniform_row_groups_whole(spark, tmp_path):
    """Round-5 regression: the default byte cap (then 16 MB) sliced every
    ordinary ~30-70 MB row group into sub-row-group splits, and each
    sub-split re-decoded the whole row group (judge-measured 3x 1-core
    encode). The default cap is now derived from footer statistics
    (>= the largest observed row group), so a uniform table yields one
    split per row group and ZERO sub-row-group (row-range) splits."""
    src = str(tmp_path / "uniform")
    # 2 files x ~30 MB row groups (~1 KB/row) — big enough that the old
    # 16 MB default would have split each into >=2 row ranges
    generate_webpages_df(spark, 60_000, partitions=2).write.option(
        "parquet.block.size", 1 << 30
    ).parquet(src)
    import glob as _glob

    import pyarrow.parquet as _pq

    fs = sorted(_glob.glob(f"{src}/*.parquet"))
    rgs = sum(_pq.ParquetFile(f).metadata.num_row_groups for f in fs)
    assert min(
        _pq.ParquetFile(f).metadata.row_group(0).total_byte_size for f in fs
    ) > (24 << 20)  # the old 1.5x-16MB subdivision threshold
    splits = plan_splits(src)  # defaults only — what bench/encode use
    assert len(splits) == rgs  # one split per row group, not 5x
    assert all(s[4] == -1 for s in splits)  # no row-range subdivision


def test_plan_splits_subdivides_oversized_row_group(spark, tmp_path, scratch):
    """A single giant row group (a writer that never flushed) must not
    become one straggler task: plan_splits subdivides it by ROW RANGE when
    its bytes exceed 1.5x the target, and the sliced encode stays
    bit-identical."""
    src = str(tmp_path / "big_rg")
    # one file, ONE row group (coalesce + big parquet block size)
    generate_webpages_df(spark, 4000, partitions=8).coalesce(1).write.option(
        "parquet.block.size", 1 << 30
    ).parquet(src)
    import glob as _glob

    import pyarrow.parquet as _pq

    f = _glob.glob(f"{src}/*.parquet")[0]
    md = _pq.ParquetFile(f).metadata
    assert md.num_row_groups == 1
    rg_bytes = md.row_group(0).total_byte_size
    target = rg_bytes // 4
    splits = plan_splits(src, target_rows_per_split=10**9,
                         target_bytes_per_split=target)
    assert len(splits) >= 3  # subdivided despite the huge row cap
    # row ranges tile [0, 4000) exactly, in order
    assert all(s[4] >= 0 for s in splits)
    assert splits[0][4] == 0 and splits[-1][5] == 4000
    for a, b in zip(splits, splits[1:]):
        assert a[5] == b[4]
    # sliced encode round-trips bit-identically
    stats = encode_table_direct(
        spark, src, scratch, resume=False,
        target_rows_per_split=10**9, target_bytes_per_split=target,
    )
    assert stats["rows"] == 4000
    original = spark.read.parquet(src)
    rep = verify_roundtrip(
        original, decode_table(spark, scratch), "url"
    ).collect()
    assert all(r["ok"] for r in rep)


def test_direct_encode_bit_identical(spark, tmp_path, scratch):
    src = str(tmp_path / "src")
    df = generate_webpages_df(spark, 3000, partitions=4)
    df.write.parquet(src)
    stats = encode_table_direct(
        spark, src, scratch, chunk_rows=512, resume=False,
        target_rows_per_split=1000,
    )
    assert stats["rows"] == 3000
    decoded = decode_table(spark, scratch)
    original = spark.read.parquet(src)
    rep = verify_roundtrip(original, decoded, "url").collect()
    assert all(r["ok"] for r in rep), rep


def test_direct_resume(spark, tmp_path, scratch):
    src = str(tmp_path / "src")
    generate_webpages_df(spark, 2000, partitions=2).write.parquet(src)
    s1 = encode_table_direct(spark, src, scratch, resume=False,
                             target_rows_per_split=500)
    n_blocks = spark.read.parquet(f"{scratch}/blocks").count()
    s2 = encode_table_direct(spark, src, scratch, resume=True,
                             target_rows_per_split=500)
    assert s2["rows"] == 0 and s2["skipped_parts"] > 0
    assert spark.read.parquet(f"{scratch}/blocks").count() == n_blocks
    decoded = decode_table(spark, scratch)
    assert decoded.count() == 2000


def test_direct_column_subset(spark, tmp_path, scratch):
    src = str(tmp_path / "src")
    generate_webpages_df(spark, 1000, partitions=1).write.parquet(src)
    encode_table_direct(
        spark, src, scratch, columns=["url", "text"], resume=False
    )
    decoded = decode_table(spark, scratch)
    assert sorted(decoded.columns) == ["text", "url"]
    original = spark.read.parquet(src).select("url", "text")
    rep = verify_roundtrip(original, decoded, "url").collect()
    assert all(r["ok"] for r in rep)


def test_cli_encode_decode_verify(spark, tmp_path):
    # CLI smoke via in-process main (reuses the session JVM through get_spark)
    import json as _json

    from cuda_float_compress_spark import cli

    src = str(tmp_path / "cli_src")
    out = str(tmp_path / "cli_out")
    dest = str(tmp_path / "cli_dest")
    generate_webpages_df(spark, 500, partitions=1).write.parquet(src)
    assert cli.main(["encode", "--input", src, "--out", out, "--mode", "direct",
                     "--cores", "4"]) == 0
    assert cli.main(["decode", "--out", out, "--dest", dest, "--cores", "4"]) == 0
    assert cli.main(["verify", "--input", src, "--out", out, "--key", "url",
                     "--cores", "4"]) == 0


def test_streaming_encode_ingest(spark, tmp_path):
    # continuous-ingest: stream of pages -> per-epoch encoded blocks, table
    # decodes bit-identical afterwards
    from cuda_float_compress_spark.streaming import encode_stream

    src = str(tmp_path / "stream_src")
    out = str(tmp_path / "stream_out")
    df = generate_webpages_df(spark, 800, partitions=2)
    df.write.parquet(src)
    encode_stream(spark, src, out, n_parts=4)
    decoded = decode_table(spark, out)
    original = spark.read.parquet(src)
    rep = verify_roundtrip(original, decoded, "url").collect()
    assert all(r["ok"] for r in rep), rep


def test_streaming_encode_multi_epoch(spark, tmp_path):
    """Multiple micro-batches (one file per trigger): epochs write DISJOINT
    part ranges, so block keys never collide and decode stays bit-identical.
    (Round-1 bug: chunk_id restarted per epoch and decode silently mixed
    columns across epochs.)"""
    from cuda_float_compress_spark.streaming import encode_stream

    src = str(tmp_path / "me_src")
    out = str(tmp_path / "me_out")
    df = generate_webpages_df(spark, 900, partitions=3)
    df.write.parquet(src)
    encode_stream(spark, src, out, n_parts=4, max_files_per_trigger=1)
    lineage = spark.read.parquet(f"{out}/lineage")
    n_epochs = (
        lineage.select(F.split(F.col("run_id"), "-")[1].alias("e")).distinct().count()
    )
    assert n_epochs >= 2, "expected multiple micro-batches"
    decoded = decode_table(spark, out)
    original = spark.read.parquet(src)
    rep = verify_roundtrip(original, decoded, "url").collect()
    assert all(r["ok"] for r in rep), rep


def test_streaming_partial_commit_replay(spark, tmp_path):
    """A crash mid-lineage-commit leaves a visible SUBSET of an epoch's
    lineage rows. The replay must re-encode exactly the missing parts — not
    skip the epoch because 'some' of its rows committed (that skip silently
    lost the uncommitted parts' data)."""
    import shutil

    from cuda_float_compress_spark.operators.encode import encode_table

    df = generate_webpages_df(spark, 600, partitions=2)
    out = str(tmp_path / "pc_out")
    encode_table(spark, df, out, n_parts=4, resume=False, detect_skew=False,
                 run_id="epoch-0-aaaaaa", part_offset=0)
    lin_df = spark.read.parquet(f"{out}/lineage")
    lin = lin_df.collect()
    parts = sorted(r["part_id"] for r in lin)
    assert len(parts) >= 2
    # simulate the crash: drop the last part's lineage row (blocks remain)
    keep = [r for r in lin if r["part_id"] != parts[-1]]
    rewritten = spark.createDataFrame(keep, lin_df.schema)
    rewritten.write.mode("overwrite").parquet(f"{tmp_path}/pc_lin_tmp")
    shutil.rmtree(f"{out}/lineage")
    shutil.copytree(f"{tmp_path}/pc_lin_tmp", f"{out}/lineage")
    # replay (what encode_stream's sink now does): resume re-encodes ONLY
    # the missing part under a fresh attempt id
    stats = encode_table(spark, df, out, n_parts=4, resume=True,
                         detect_skew=False, run_id="epoch-0-bbbbbb",
                         part_offset=0)
    assert stats["skipped_parts"] == len(keep)
    decoded = decode_table(spark, out)
    rep = verify_roundtrip(df, decoded, "url").collect()
    assert all(r["ok"] for r in rep), rep


def test_stale_partial_blocks_ignored(spark, tmp_path, scratch):
    """A crash between the blocks append and the lineage write leaves blocks
    with an uncommitted run_id: decode (both paths) and a subsequent encode's
    manifest must ignore them."""
    from cuda_float_compress_spark.operators.direct import decode_table_direct

    src = str(tmp_path / "stale_src")
    df = generate_webpages_df(spark, 1000, partitions=2)
    df.write.parquet(src)
    encode_table_direct(spark, src, scratch, resume=False, target_rows_per_split=500)
    # simulate the crashed run: duplicate every block under a run_id that
    # never reaches lineage
    blocks = spark.read.parquet(f"{scratch}/blocks")
    stale = blocks.withColumn("run_id", F.lit("crashed-run"))
    stale.write.mode("append").parquet(f"{scratch}/blocks")
    assert spark.read.parquet(f"{scratch}/blocks").count() == 2 * blocks.count()
    original = spark.read.parquet(src)
    for decoded in (decode_table(spark, scratch), decode_table_direct(spark, scratch)):
        rep = verify_roundtrip(original, decoded, "url").collect()
        assert all(r["ok"] for r in rep), rep


def test_direct_decode_bit_identical(spark, tmp_path, scratch):
    from cuda_float_compress_spark.operators.direct import decode_table_direct

    src = str(tmp_path / "src2")
    df = generate_webpages_df(spark, 2000, partitions=3)
    df.write.parquet(src)
    encode_table_direct(spark, src, scratch, chunk_rows=512, resume=False,
                        target_rows_per_split=700)
    decoded = decode_table_direct(spark, scratch)
    original = spark.read.parquet(src)
    rep = verify_roundtrip(original, decoded, "url").collect()
    assert all(r["ok"] for r in rep), rep
    # column pruning variant
    only = decode_table_direct(spark, scratch, columns=["url", "lang"])
    assert sorted(only.columns) == ["lang", "url"]
    rep2 = verify_roundtrip(original.select("url", "lang"), only, "url").collect()
    assert all(r["ok"] for r in rep2)


def test_direct_decode_with_predicates(spark, tmp_path, scratch):
    from datetime import datetime

    from cuda_float_compress_spark.operators.direct import decode_table_direct

    src = str(tmp_path / "src3")
    df = generate_webpages_df(spark, 2000, partitions=2)
    df.write.parquet(src)
    encode_table_direct(spark, src, scratch, chunk_rows=256, resume=False,
                        target_rows_per_split=1000)
    cutoff = datetime(2024, 8, 7, 0, 30, 0)
    decoded = decode_table_direct(
        spark, scratch, columns=["url", "text"],
        predicates=[("warc_ts", ">=", cutoff)],
    )
    original = spark.read.parquet(src)
    import pyspark.sql.functions as F
    expected = original.filter(F.col("warc_ts") >= F.lit(cutoff)).select("url", "text")
    assert decoded.count() == expected.count()
    assert sorted(decoded.columns) == ["text", "url"]


def test_reencode_single_column(spark, tmp_path):
    from cuda_float_compress_spark.operators.maintain import (
        codec_histogram,
        reencode_columns,
    )

    src = str(tmp_path / "re_src")
    enc1 = str(tmp_path / "re_enc1")
    enc2 = str(tmp_path / "re_enc2")
    df = generate_webpages_df(spark, 1500, partitions=2)
    df.write.parquet(src)
    encode_table_direct(spark, src, enc1, resume=False, target_rows_per_split=600)
    stats = reencode_columns(spark, enc1, enc2, {"lang": "bytes_rle"})
    hist = {(r["col"], r["codec"]) for r in codec_histogram(spark, enc2).collect()}
    assert ("lang", "bytes_rle") in hist
    # untouched columns kept their payloads bit-identical
    import pyspark.sql.functions as F
    a = spark.read.parquet(f"{enc1}/blocks").filter(F.col("col") != "lang") \
        .select("part_id", "chunk_id", "col", F.md5(F.base64("payload")).alias("h"))
    b = spark.read.parquet(f"{enc2}/blocks").filter(F.col("col") != "lang") \
        .select("part_id", "chunk_id", "col", F.md5(F.base64("payload")).alias("h"))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # and the table still decodes bit-identical
    decoded = decode_table(spark, enc2)
    original = spark.read.parquet(src)
    rep = verify_roundtrip(original, decoded, "url").collect()
    assert all(r["ok"] for r in rep)


def test_reencode_skips_uncommitted_runs(spark, tmp_path):
    """reencode_columns copied the block rows of a crashed run and stamped
    them with its own committed run_id, so they decoded as duplicates."""
    from cuda_float_compress_spark.operators.direct import decode_table_direct
    from cuda_float_compress_spark.operators.maintain import reencode_columns

    src = str(tmp_path / "ru_src")
    enc1 = str(tmp_path / "ru_enc1")
    enc2 = str(tmp_path / "ru_enc2")
    generate_webpages_df(spark, 600, partitions=2).write.parquet(src)
    encode_table_direct(spark, src, enc1, resume=False,
                        target_rows_per_split=300)
    blocks = spark.read.parquet(f"{enc1}/blocks")
    blocks.withColumn("run_id", F.lit("crashed-run")).write.mode(
        "append").parquet(f"{enc1}/blocks")
    reencode_columns(spark, enc1, enc2, {"lang": "bytes_rle"})
    assert decode_table_direct(spark, enc2).count() == 600


def test_reencode_keeps_deletes(spark, tmp_path):
    """reencode_columns dropped the source's tombstones, so deleted rows
    came back in the rewritten table."""
    from cuda_float_compress_spark.operators.deletes import delete_rows
    from cuda_float_compress_spark.operators.direct import decode_table_direct
    from cuda_float_compress_spark.operators.maintain import reencode_columns

    src = str(tmp_path / "rd_src")
    enc1 = str(tmp_path / "rd_enc1")
    enc2 = str(tmp_path / "rd_enc2")
    generate_webpages_df(spark, 600, partitions=2).write.parquet(src)
    encode_table_direct(spark, src, enc1, resume=False,
                        target_rows_per_split=300)
    assert delete_rows(spark, enc1, [("lang", "==", "en")])["tombstones"] > 0
    reencode_columns(spark, enc1, enc2, {"lang": "bytes_rle"})
    want = sorted(r["url"] for r in decode_table_direct(
        spark, enc1, columns=["url"]).collect())
    assert sorted(r["url"] for r in decode_table_direct(
        spark, enc2, columns=["url"]).collect()) == want


def test_compact_merges_stream_chunks(spark, tmp_path):
    from cuda_float_compress_spark.operators.maintain import compact
    from cuda_float_compress_spark.streaming import encode_stream

    src = str(tmp_path / "c_src")
    enc = str(tmp_path / "c_enc")
    packed = str(tmp_path / "c_packed")
    df = generate_webpages_df(spark, 1200, partitions=2)
    df.write.parquet(src)
    # streaming ingest -> many small chunks across epochs/parts
    encode_stream(spark, src, enc, n_parts=4)
    stats = compact(spark, enc, packed, chunk_rows=32768)
    assert stats["chunks_after"] <= stats["chunks_before"]
    decoded = decode_table(spark, packed)
    original = spark.read.parquet(src)
    rep = verify_roundtrip(original, decoded, "url").collect()
    assert all(r["ok"] for r in rep), rep


def test_time_travel_snapshots(spark, tmp_path):
    """Append-only snapshots: multi-epoch streaming ingest, then decode
    `as_of` an early commit time reproduces exactly the rows that were
    committed then (Iceberg-snapshot semantics over lineage metadata)."""
    from cuda_float_compress_spark.operators.decode import snapshots
    from cuda_float_compress_spark.streaming import encode_stream

    src = str(tmp_path / "tt_src")
    out = str(tmp_path / "tt_out")
    generate_webpages_df(spark, 600, partitions=3).write.parquet(src)
    encode_stream(spark, src, out, n_parts=2, max_files_per_trigger=1)
    snaps = snapshots(spark, out).collect()
    assert len(snaps) >= 2
    total_rows = sum(s["n_rows"] for s in snaps)
    assert decode_table(spark, out).count() == 600 == total_rows
    # as of the FIRST commit: only that epoch's rows are visible
    first = snaps[0]
    early = decode_table(spark, out, as_of=first["committed_at"])
    assert early.count() == first["n_rows"] < 600
    # and those rows are bit-identical to the source subset
    original = spark.read.parquet(src)
    rep = verify_roundtrip(
        original.join(early.select("url"), "url", "left_semi"), early, "url"
    ).collect()
    assert all(r["ok"] for r in rep), rep


def test_vacuum_reclaims_stale_blocks(spark, tmp_path, scratch):
    from cuda_float_compress_spark.operators.maintain import vacuum

    src = str(tmp_path / "vac_src")
    generate_webpages_df(spark, 800, partitions=2).write.parquet(src)
    encode_table_direct(spark, src, scratch, resume=False, target_rows_per_split=400)
    blocks = spark.read.parquet(f"{scratch}/blocks")
    n_committed = blocks.count()
    blocks.withColumn("run_id", F.lit("crashed")).write.mode("append").parquet(
        f"{scratch}/blocks"
    )
    stats = vacuum(spark, scratch)
    assert stats["rows_before"] == 2 * n_committed
    assert stats["rows_after"] == n_committed
    assert stats["bytes_reclaimed"] > 0
    assert spark.read.parquet(f"{scratch}/blocks").count() == n_committed
    # table still decodes bit-identical after the swap
    original = spark.read.parquet(src)
    rep = verify_roundtrip(original, decode_table(spark, scratch), "url").collect()
    assert all(r["ok"] for r in rep), rep
    # idempotent: second vacuum reclaims nothing
    assert vacuum(spark, scratch)["bytes_reclaimed"] == 0


def test_migrate_ref_dir_parallel_bit_identical(spark, tmp_path):
    """Directory of reference-wire-format blobs migrates to native blobs in
    one shuffle-free Spark fan-out; every migrated blob decodes
    bit-identically to the reference decode."""
    import numpy as np

    from cuda_float_compress_spark.compat import cuszplus_decompress
    from cuda_float_compress_spark.operators.migrate import migrate_ref_dir
    from cuda_float_compress_spark.refformat import compress_ref, decompress_ref

    src = tmp_path / "ref_archive"
    dst = tmp_path / "native_archive"
    src.mkdir()
    rng = np.random.default_rng(9)
    blobs = {}
    for i in range(6):
        vals = (rng.standard_normal(1500 + 37 * i) * 0.1).astype(np.float32)
        blob = compress_ref(vals, max_error=1e-4)
        (src / f"w{i}.bin").write_bytes(blob)
        blobs[f"w{i}.bin"] = blob
    rep = migrate_ref_dir(spark, str(src), str(dst)).collect()
    assert len(rep) == 6 and all(r["ok"] for r in rep)
    for r in rep:
        ref_vals = decompress_ref(blobs[r["name"]])
        native = cuszplus_decompress((dst / (r["name"] + ".czn")).read_bytes())
        assert np.array_equal(
            native.view(np.uint32), ref_vals.view(np.uint32)
        ), r["name"]
    # plan is pure fan-out: one mapInArrow over the file list, no shuffle of
    # blob bytes (the report rows are the only thing that crosses Spark)
    plan = migrate_ref_dir(spark, str(src), str(dst))._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan or "MapInArrow" in plan or "mapInArrow" in plan
    # lossy mode: stays within each blob's own error bound
    rep2 = migrate_ref_dir(
        spark, str(src), str(tmp_path / "lossy_archive"), mode="lossy"
    ).collect()
    assert all(r["ok"] for r in rep2)

    # corrupt blobs are REPORTED, not fatal: bad magic + truncated payload
    (src / "bad_magic.bin").write_bytes(b"\xde\xad\xbe\xef" + b"\x00" * 40)
    good_blob = blobs["w0.bin"]
    (src / "truncated.bin").write_bytes(good_blob[: len(good_blob) // 2])
    rep3 = {r["name"]: r for r in
            migrate_ref_dir(spark, str(src), str(tmp_path / "mixed")).collect()}
    assert len(rep3) == 8
    assert not rep3["bad_magic.bin"]["ok"] and rep3["bad_magic.bin"]["error"]
    assert not rep3["truncated.bin"]["ok"] and rep3["truncated.bin"]["error"]
    assert all(rep3[f"w{i}.bin"]["ok"] for i in range(6))  # good ones fine


def test_vacuum_crash_window_repair(spark, tmp_path, scratch):
    """A crash between vacuum's two renames leaves the table with no blocks
    dir; repair_vacuum (also invoked by decode's blocks_of) restores it in
    every crash window."""
    import os
    import shutil

    from cuda_float_compress_spark.operators.maintain import repair_vacuum

    src = str(tmp_path / "vcw_src")
    generate_webpages_df(spark, 400, partitions=2).write.parquet(src)
    encode_table_direct(spark, src, scratch, resume=False,
                        target_rows_per_split=200)
    blocks, tmp, old = (
        f"{scratch}/blocks", f"{scratch}/blocks_vacuum_tmp",
        f"{scratch}/blocks_vacuum_old",
    )
    original = spark.read.parquet(src)

    # window 1: crash between rename(blocks->old) and rename(tmp->blocks),
    # tmp rewrite complete -> repair finishes the swap
    shutil.copytree(blocks, tmp)
    os.rename(blocks, old)
    assert repair_vacuum(scratch) == "completed_swap"
    assert os.path.exists(blocks) and not os.path.exists(old)
    rep = verify_roundtrip(original, decode_table(spark, scratch), "url").collect()
    assert all(r["ok"] for r in rep)

    # window 2: same crash but tmp has no _SUCCESS -> roll back to old copy
    shutil.copytree(blocks, tmp)
    os.remove(f"{tmp}/_SUCCESS")
    os.rename(blocks, old)
    assert repair_vacuum(scratch) == "rolled_back"
    assert os.path.exists(blocks) and not os.path.exists(tmp)

    # window 3: crash after the swap, old copy left behind -> dropped; the
    # decode read path triggers the repair itself
    shutil.copytree(blocks, old)
    assert decode_table(spark, scratch).count() == 400
    assert repair_vacuum(scratch) in (None, "dropped_old_copy")
    assert not os.path.exists(old)

    # and a blocks-dir-missing table heals transparently through decode
    shutil.copytree(blocks, tmp)
    os.rename(blocks, old)
    rep = verify_roundtrip(original, decode_table(spark, scratch), "url").collect()
    assert all(r["ok"] for r in rep)


def test_string_zone_map_pruning(spark, tmp_path, scratch):
    """String columns carry 7-byte-prefix zone maps: a lang equality
    predicate on a lang-sorted encoded table PRUNES chunks before any
    payload read, and the decoded result matches the raw filter exactly."""
    from cuda_float_compress_spark.operators.decode import qualifying_chunks
    from cuda_float_compress_spark.operators.encode import encode_table

    src = str(tmp_path / "szm_src")
    generate_webpages_df(spark, 2000, partitions=2).write.parquet(src)
    docs = spark.read.parquet(src)
    encode_table(spark, docs, scratch, n_parts=4, resume=False,
                 sort_keys=["lang"], chunk_rows=128)
    blocks = spark.read.parquet(f"{scratch}/blocks")
    total = blocks.select("part_id", "chunk_id").distinct().count()
    kept = qualifying_chunks(blocks, [("lang", "==", "en")]).count()
    assert kept < total, (kept, total)  # the zone map actually prunes

    dec = decode_table(spark, scratch, columns=["url", "lang"],
                       predicates=[("lang", "==", "en")])
    want = docs.filter(F.col("lang") == "en").select("url", "lang")
    assert dec.exceptAll(want).count() == 0
    assert want.exceptAll(dec).count() == 0

    # range predicates on strings prune and filter exactly too
    dec2 = decode_table(spark, scratch, columns=["url", "lang"],
                        predicates=[("lang", ">=", "pt")])
    want2 = docs.filter(F.col("lang") >= "pt").select("url", "lang")
    assert dec2.exceptAll(want2).count() == 0
    assert want2.exceptAll(dec2).count() == 0

    # IN-list predicates prune (any-member-in-range) and filter exactly;
    # numeric IN works through the same path
    kept_in = qualifying_chunks(blocks, [("lang", "in", ["de", "zh"])]).count()
    assert kept_in < total, (kept_in, total)
    dec3 = decode_table(spark, scratch, columns=["url", "lang"],
                        predicates=[("lang", "in", ["de", "zh"])])
    want3 = docs.filter(F.col("lang").isin("de", "zh")).select("url", "lang")
    assert dec3.exceptAll(want3).count() == 0
    assert want3.exceptAll(dec3).count() == 0
    # timestamp IN exercises the micros conversion path per member
    ts_vals = [r["warc_ts"] for r in
               docs.select("warc_ts").distinct().limit(3).collect()]
    dec4 = decode_table(spark, scratch, columns=["url", "warc_ts"],
                        predicates=[("warc_ts", "in", ts_vals)])
    want4 = docs.filter(F.col("warc_ts").isin(ts_vals)).select(
        "url", "warc_ts"
    )
    assert dec4.exceptAll(want4).count() == 0
    assert want4.exceptAll(dec4).count() == 0
    assert dec4.count() > 0


def test_throughput_profile_roundtrip_bit_identical(spark, tmp_path, scratch):
    """profile='throughput' (lz4 bulk backend) encodes through the full
    direct path, records lz4 codecs in the manifest, and decodes every
    column bit-identical — the frontier trade is size, never correctness."""
    src = str(tmp_path / "tp_src")
    generate_webpages_df(spark, 600, partitions=2).write.parquet(src)
    stats = encode_table_direct(
        spark, src, scratch, resume=False, target_rows_per_split=300,
        profile="throughput",
    )
    assert stats["rows"] == 600
    codecs = {
        c
        for r in spark.read.parquet(f"{scratch}/manifest").select("codecs").collect()
        for c in r["codecs"]
    }
    assert "bytes_lz4" in codecs, codecs
    assert "bytes_zstd" not in codecs and "bytes_fsst" not in codecs, codecs
    original = spark.read.parquet(src)
    rep = verify_roundtrip(original, decode_table(spark, scratch), "url").collect()
    assert all(r["ok"] for r in rep), rep


def test_vacuum_survives_reader_repair_race(spark, tmp_path, scratch, monkeypatch):
    """A concurrent reader's repair_vacuum can complete the swap BETWEEN a
    live vacuum's two renames (it sees old+tmp(_SUCCESS) and can't tell a
    crashed swap from a live one); the vacuum's own second rename then hits
    ENOENT. That healthy vacuum must report success, not raise."""
    import os

    from cuda_float_compress_spark.operators import maintain

    src = str(tmp_path / "race_src")
    generate_webpages_df(spark, 400, partitions=2).write.parquet(src)
    encode_table_direct(spark, src, scratch, resume=False,
                        target_rows_per_split=200)
    blocks_dir = f"{scratch}/blocks"
    blocks = spark.read.parquet(blocks_dir)
    n_committed = blocks.count()
    blocks.withColumn("run_id", F.lit("crashed")).write.mode("append").parquet(
        blocks_dir
    )

    real_rename = os.rename
    state = {"in_repair": False, "raced": False}

    def racing_rename(a, b):
        # the reader wins the race exactly at vacuum's second rename
        if (not state["in_repair"] and a == f"{scratch}/blocks_vacuum_tmp"
                and b == blocks_dir):
            state["in_repair"] = True
            try:
                assert maintain.repair_vacuum(scratch) == "completed_swap"
                state["raced"] = True
            finally:
                state["in_repair"] = False
        return real_rename(a, b)

    monkeypatch.setattr(os, "rename", racing_rename)
    stats = maintain.vacuum(spark, scratch)
    assert state["raced"], "race was not exercised"
    assert stats["rows_after"] == n_committed
    assert spark.read.parquet(blocks_dir).count() == n_committed
    original = spark.read.parquet(src)
    rep = verify_roundtrip(original, decode_table(spark, scratch), "url").collect()
    assert all(r["ok"] for r in rep)


def test_vacuum_detects_rollback_race(spark, tmp_path, scratch, monkeypatch):
    """The OTHER direction of the repair race: with _SUCCESS markers absent
    (e.g. marksuccessfuljobs=false), a concurrent repair_vacuum ROLLS BACK
    (old -> blocks). The live vacuum's swallowed-ENOENT path previously
    reported rows_before/rows_after stats for a vacuum that never landed;
    the sentinel check must turn that into a loud RuntimeError."""
    import os
    import shutil

    import pytest as _pytest

    from cuda_float_compress_spark.operators import maintain

    src = str(tmp_path / "rb_src")
    generate_webpages_df(spark, 400, partitions=2).write.parquet(src)
    encode_table_direct(spark, src, scratch, resume=False,
                        target_rows_per_split=200)
    blocks_dir = f"{scratch}/blocks"
    blocks = spark.read.parquet(blocks_dir)
    n_total = blocks.count() * 2
    blocks.withColumn("run_id", F.lit("crashed")).write.mode("append").parquet(
        blocks_dir
    )

    real_rename = os.rename
    state = {"in_repair": False, "raced": False}

    def racing_rename(a, b):
        if (not state["in_repair"] and a == f"{scratch}/blocks_vacuum_tmp"
                and b == blocks_dir):
            state["in_repair"] = True
            try:
                # the repairer's view: tmp has no _SUCCESS -> roll back
                success = os.path.join(a, "_SUCCESS")
                if os.path.exists(success):
                    os.remove(success)
                assert maintain.repair_vacuum(scratch) == "rolled_back"
                state["raced"] = True
            finally:
                state["in_repair"] = False
        return real_rename(a, b)

    monkeypatch.setattr(os, "rename", racing_rename)
    with _pytest.raises(RuntimeError, match="rolled back"):
        maintain.vacuum(spark, scratch)
    assert state["raced"], "race was not exercised"
    # the table really is un-vacuumed (stale blocks still present)...
    monkeypatch.setattr(os, "rename", real_rename)
    assert spark.read.parquet(blocks_dir).count() == n_total
    shutil.rmtree(f"{scratch}/blocks_vacuum_tmp", ignore_errors=True)
    # ...and a re-run (as the error message instructs) completes it
    stats = maintain.vacuum(spark, scratch)
    assert stats["rows_after"] == n_total // 2
    assert spark.read.parquet(blocks_dir).count() == n_total // 2


def test_decode_parts_subset(spark, tmp_path, scratch):
    src = str(tmp_path / "ps_src")
    generate_webpages_df(spark, 1000, partitions=4).write.parquet(src)
    encode_table_direct(spark, src, scratch, resume=False, target_rows_per_split=250)
    from cuda_float_compress_spark.operators.decode import committed_blocks

    all_parts = sorted(
        r["part_id"]
        for r in committed_blocks(spark, scratch).select("part_id").distinct().collect()
    )
    assert len(all_parts) >= 3
    subset = all_parts[:2]
    dec = decode_table(spark, scratch, parts=subset, keep_part_id=True)
    got_parts = {r["part_id"] for r in dec.select("part_id").distinct().collect()}
    assert got_parts == set(subset)
    # subset rows are bit-identical to the matching source rows
    original = spark.read.parquet(src)
    sub = dec.drop("part_id")
    rep = verify_roundtrip(
        original.join(sub.select("url"), "url", "left_semi"), sub, "url"
    ).collect()
    assert all(r["ok"] for r in rep), rep


def test_huge_single_value_roundtrip(spark, tmp_path, scratch):
    """One 20 MB html value in a row: chunk byte-capping and the Arrow batch
    limits must pass it through intact (a single row can never be split)."""
    import numpy as np

    from cuda_float_compress_spark.operators.encode import encode_table

    rng = np.random.default_rng(5)
    big = rng.bytes(20 * 1024 * 1024)
    rows = [("u0", big), ("u1", b"small"), ("u2", b"")]
    df = spark.createDataFrame(rows, "url string, html binary")
    encode_table(spark, df, scratch, n_parts=2, resume=False)
    got = {r["url"]: bytes(r["html"]) for r in decode_table(spark, scratch).collect()}
    assert got["u0"] == big and got["u1"] == b"small" and got["u2"] == b""


def test_cli_maintenance_commands(spark, tmp_path, capsys):
    from cuda_float_compress_spark import cli

    src = str(tmp_path / "m_src")
    out = str(tmp_path / "m_out")
    packed = str(tmp_path / "m_packed")
    generate_webpages_df(spark, 400, partitions=1).write.parquet(src)
    assert cli.main(["encode", "--input", src, "--out", out, "--mode", "direct",
                     "--cores", "4"]) == 0
    assert cli.main(["snapshots", "--out", out, "--cores", "4"]) == 0
    assert cli.main(["vacuum", "--out", out, "--cores", "4"]) == 0
    assert cli.main(["compact", "--out", out, "--dest", packed,
                     "--cores", "4"]) == 0
    assert decode_table(spark, packed).count() == 400
    # merge-on-read delete via CLI: predicate form, then verify the count
    assert cli.main(["delete", "--out", packed, "--where",
                     "lang,==,en", "--cores", "4"]) == 0
    n_en = 400 - decode_table(spark, packed).count()
    assert n_en > 0  # generator always emits some 'en' pages
    # key-list form: delete one url by takedown file
    keys_path = str(tmp_path / "takedown.parquet")
    decode_table(spark, packed).select("url").limit(1).write.parquet(keys_path)
    assert cli.main(["delete", "--out", packed, "--keys", keys_path,
                     "--key-col", "url", "--cores", "4"]) == 0
    assert decode_table(spark, packed).count() == 400 - n_en - 1


def test_float_zone_map_pruning(spark, tmp_path, scratch):
    """Float columns carry Spark-total-order zone maps (chunks.float_key64:
    NaN greatest, -0.0 == +0.0): range/equality/IN predicates on a
    score-sorted encoded table prune chunks before any payload read and
    filter exactly — including NaN rows, which Spark orders ABOVE +inf so
    a chunk containing NaN must survive any '>= x' predicate."""
    import math

    from cuda_float_compress_spark.operators.chunks import (
        FLOAT_KEY_NAN,
        float_key64,
    )
    from cuda_float_compress_spark.operators.decode import qualifying_chunks
    from cuda_float_compress_spark.operators.encode import encode_table

    # the key is monotone w.r.t. Spark's double ordering
    order = [float("-inf"), -1e300, -2.0, -0.5, -0.0, 0.0, 1e-300, 3.5,
             1e300, float("inf"), float("nan")]
    keys = [float_key64(v) for v in order]
    assert keys == sorted(keys)
    assert float_key64(-0.0) == float_key64(0.0)
    assert float_key64(float("nan")) == FLOAT_KEY_NAN

    rows = [(i, f"u{i}", float(i % 97) - 48.0) for i in range(2000)]
    # a few specials: NaN rows land in the TOP chunks once sorted by score
    rows += [(2000 + j, f"n{j}", float("nan")) for j in range(4)]
    rows += [(2010, "pinf", float("inf")), (2011, "nzero", -0.0)]
    df = spark.createDataFrame(rows, "id long, url string, score double")
    encode_table(spark, df, scratch, n_parts=4, resume=False,
                 sort_keys=["score"], chunk_rows=128)
    blocks = spark.read.parquet(f"{scratch}/blocks")
    total = blocks.select("part_id", "chunk_id").distinct().count()

    for preds, raw_filter in [
        ([("score", ">=", 40.0)], F.col("score") >= 40.0),
        ([("score", "<", -40.0)], F.col("score") < -40.0),
        ([("score", "==", 0.0)], F.col("score") == 0.0),
        ([("score", "in", [-5.0, 7.0])], F.col("score").isin(-5.0, 7.0)),
    ]:
        kept = qualifying_chunks(blocks, preds).count()
        assert kept < total, (preds, kept, total)
        dec = decode_table(spark, scratch, columns=["url", "score"],
                           predicates=preds)
        want = df.filter(raw_filter).select("url", "score")
        assert dec.exceptAll(want).count() == 0, preds
        assert want.exceptAll(dec).count() == 0, preds
    # NaN rows satisfy '>= x' under Spark ordering and must survive pruning
    got = {r["url"] for r in
           decode_table(spark, scratch, columns=["url", "score"],
                        predicates=[("score", ">=", 40.0)]).collect()}
    assert {"n0", "n1", "n2", "n3", "pinf"} <= got
    # NaN predicate literals refuse loudly
    import pytest as _pytest
    with _pytest.raises(ValueError, match="NaN"):
        decode_table(spark, scratch,
                     predicates=[("score", "==", float("nan"))]).count()


def test_any_of_disjunction_pushdown(spark, tmp_path):
    """OR-of-conjunctions pushdown: chunk pruning is the UNION of each
    conjunction's qualifying set (middle chunks of a sorted table are
    skipped for a low-OR-high range disjunction) and the exact row filter
    is the matching OR; composes with AND predicates."""
    from cuda_float_compress_spark.operators.decode import (
        committed_blocks,
        qualifying_chunks,
    )
    from cuda_float_compress_spark.operators.direct import decode_table_direct
    from cuda_float_compress_spark.operators.encode import encode_table

    out = str(tmp_path / "enc_or")
    rows = [(i, f"doc://d/{i}", i, ["en", "de"][i % 2]) for i in range(2000)]
    df = spark.createDataFrame(
        rows, "doc_id: long, url: string, v: long, lang: string"
    )
    encode_table(spark, df, out, n_parts=1, resume=False,
                 sort_keys=["v"], chunk_rows=100)
    blocks = committed_blocks(spark, out)
    total = blocks.select("part_id", "chunk_id").distinct().count()
    lo = qualifying_chunks(blocks, [("v", "<=", 50)]).count()
    hi = qualifying_chunks(blocks, [("v", ">=", 1950)]).count()
    assert lo + hi < total  # the union genuinely prunes the middle

    got = sorted(
        r["doc_id"]
        for r in decode_table_direct(
            spark, out, columns=["doc_id"],
            any_of=[[("v", "<=", 50)], [("v", ">=", 1950)]],
        ).collect()
    )
    assert got == list(range(0, 51)) + list(range(1950, 2000))
    # AND-composes with predicates
    got2 = sorted(
        r["doc_id"]
        for r in decode_table_direct(
            spark, out, columns=["doc_id"],
            predicates=[("lang", "==", "de")],
            any_of=[[("v", "<=", 50)], [("v", ">=", 1950)]],
        ).collect()
    )
    assert got2 == [i for i in got if i % 2 == 1]


def test_any_of_shuffle_path_parity(spark, tmp_path):
    """decode_table (shuffle path) honors the same any_of semantics as
    the direct path."""
    from cuda_float_compress_spark.operators.encode import encode_table

    out = str(tmp_path / "enc_or2")
    rows = [(i, f"doc://d/{i}", i) for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id: long, url: string, v: long")
    encode_table(spark, df, out, n_parts=2, resume=False,
                 sort_keys=["v"], chunk_rows=100)
    got = sorted(
        r["doc_id"]
        for r in decode_table(
            spark, out, columns=["doc_id"],
            any_of=[[("v", "<", 30)], [("v", ">=", 970)]],
        ).collect()
    )
    assert got == list(range(0, 30)) + list(range(970, 1000))


def test_incremental_read_since(spark, tmp_path):
    """CDC-style incremental consumption: decode_table(since=t) returns
    only runs committed after t — a consumer that remembers the last
    lineage timestamp reads exactly the appended slice; since+as_of
    brackets one epoch."""
    from cuda_float_compress_spark.operators.decode import snapshots
    from cuda_float_compress_spark.streaming import encode_stream

    src = str(tmp_path / "inc_src")
    out = str(tmp_path / "inc_out")
    generate_webpages_df(spark, 600, partitions=3).write.parquet(src)
    encode_stream(spark, src, out, n_parts=2, max_files_per_trigger=1)
    snaps = snapshots(spark, out).collect()
    assert len(snaps) >= 2
    first = snaps[0]
    # everything after the first commit == total minus the first epoch
    later = decode_table(spark, out, since=first["committed_at"])
    assert later.count() == 600 - first["n_rows"]
    # bracketing one middle epoch returns exactly its rows
    second = snaps[1]
    window = decode_table(
        spark, out, since=first["committed_at"],
        as_of=second["committed_at"],
    )
    assert window.count() == second["n_rows"]
    # disjointness: the incremental slice never overlaps the first epoch
    early = decode_table(spark, out, as_of=first["committed_at"])
    assert early.join(later, "url", "left_semi").count() == 0


def test_direct_path_time_travel_parity(spark, tmp_path):
    """decode_table_direct honors as_of / since like the shuffle path."""
    from cuda_float_compress_spark.operators.decode import snapshots
    from cuda_float_compress_spark.operators.direct import decode_table_direct
    from cuda_float_compress_spark.streaming import encode_stream

    src = str(tmp_path / "ttd_src")
    out = str(tmp_path / "ttd_out")
    generate_webpages_df(spark, 600, partitions=3).write.parquet(src)
    encode_stream(spark, src, out, n_parts=2, max_files_per_trigger=1)
    snaps = snapshots(spark, out).collect()
    assert len(snaps) >= 2
    first = snaps[0]
    early = decode_table_direct(spark, out, as_of=first["committed_at"])
    assert early.count() == first["n_rows"] < 600
    later = decode_table_direct(spark, out, since=first["committed_at"])
    assert later.count() == 600 - first["n_rows"]
    # shuffle-path agreement on the same window
    assert sorted(r["url"] for r in early.select("url").collect()) == sorted(
        r["url"] for r in decode_table(
            spark, out, as_of=first["committed_at"]
        ).select("url").collect()
    )


def test_compact_sort_keys_restores_pruning(spark, tmp_path):
    """compact(sort_keys=) re-clusters each part: zone maps over the sort
    key stop overlapping across a part's chunks, so a narrow predicate
    prunes to ~1 chunk per part — and the rows survive bit-identical."""
    from cuda_float_compress_spark.operators.decode import (
        committed_blocks,
        qualifying_chunks,
    )
    from cuda_float_compress_spark.operators.direct import decode_table_direct
    from cuda_float_compress_spark.operators.encode import encode_table
    from cuda_float_compress_spark.operators.maintain import compact

    enc = str(tmp_path / "s_enc")
    packed = str(tmp_path / "s_packed")
    # interleaved key order: every chunk of the un-clustered encode spans
    # nearly the full score range (worst case for zone maps)
    rows = [(i, f"doc://d/{i}", (i * 677) % 1000) for i in range(3000)]
    df = spark.createDataFrame(rows, "doc_id: long, url: string, score: long")
    encode_table(spark, df, enc, n_parts=2, resume=False,
                 sort_keys=["doc_id"], chunk_rows=256)
    pred = [("score", ">=", 400), ("score", "<=", 420)]
    blocks_before = committed_blocks(spark, enc)
    q_before = qualifying_chunks(blocks_before, pred).count()
    compact(spark, enc, packed, chunk_rows=256, sort_keys=["score"])
    blocks_after = committed_blocks(spark, packed)
    q_after = qualifying_chunks(blocks_after, pred).count()
    assert q_after < q_before  # clustering actually restored pruning
    # per part: chunk [vmin,vmax] ranges are disjoint and ascending
    zm = (
        blocks_after.filter(F.col("col") == "score")
        .select("part_id", "chunk_id", "vmin", "vmax").collect()
    )
    by_part = {}
    for r in zm:
        by_part.setdefault(r["part_id"], []).append(r)
    for part_rows in by_part.values():
        part_rows.sort(key=lambda r: r["chunk_id"])
        for a, b in zip(part_rows, part_rows[1:]):
            assert a["vmax"] <= b["vmin"]
    # rows identical (order-insensitive)
    got = sorted((r["doc_id"], r["url"], r["score"])
                 for r in decode_table_direct(spark, packed).collect())
    assert got == sorted(rows)


def test_encode_tasks_bounded_by_slots(spark, tmp_path):
    """Many small files must NOT become one task each (per-task scheduler
    latency): splits LPT-pack into at most ~4x-slots byte-balanced bins,
    and the packed encode still round-trips every row."""
    from cuda_float_compress_spark.operators.direct import (
        decode_table_direct,
        encode_table_direct,
    )

    src = str(tmp_path / "bp_src")
    out = str(tmp_path / "bp_out")
    generate_webpages_df(spark, 2400, partitions=24).write.parquet(src)
    stats = encode_table_direct(spark, src, out, resume=False)
    slots = spark.sparkContext.defaultParallelism
    assert stats["n_splits"] >= 24
    assert 1 <= stats["n_tasks"] <= min(stats["n_splits"], slots * 4)
    assert decode_table_direct(spark, out).count() == 2400


def test_cli_merge_and_sorted_compact(spark, tmp_path):
    import json as _json

    from cuda_float_compress_spark import cli
    from cuda_float_compress_spark.operators.direct import decode_table_direct

    src = str(tmp_path / "cm_src")
    upd = str(tmp_path / "cm_upd")
    out = str(tmp_path / "cm_out")
    packed = str(tmp_path / "cm_packed")
    generate_webpages_df(spark, 400, partitions=1).write.parquet(src)
    # updates: re-language two existing urls + one brand-new row
    base = spark.read.parquet(src)
    ups = base.limit(2).withColumn("lang", F.lit("xx"))
    new = base.limit(1).withColumn(
        "url", F.concat(F.lit("https://new.example/"), F.col("url"))
    )
    ups.unionByName(new).write.parquet(upd)
    assert cli.main(["encode", "--input", src, "--out", out,
                     "--mode", "direct", "--cores", "4"]) == 0
    assert cli.main(["merge", "--out", out, "--updates", upd,
                     "--key-col", "url", "--cores", "4"]) == 0
    assert decode_table_direct(spark, out).count() == 401
    assert decode_table_direct(
        spark, out, predicates=[("lang", "==", "xx")]
    ).count() == 2
    assert cli.main(["compact", "--out", out, "--dest", packed,
                     "--sort-keys", "url", "--cores", "4"]) == 0
    assert decode_table_direct(spark, packed).count() == 401


def test_mixed_writer_metadata_schema_parity(spark, tmp_path):
    """A direct encode and a merge_rows append (a shuffle-path encode)
    both commit manifest/lineage through encode.commit_blocks. Their
    files in the mixed dirs must carry name/type-identical schemas, and
    the dirs must stay readable and decodable."""
    import glob as _glob

    import pyarrow.parquet as _pq

    from cuda_float_compress_spark.operators.decode import snapshots
    from cuda_float_compress_spark.operators.direct import (
        decode_table_direct,
        encode_table_direct,
    )
    from cuda_float_compress_spark.operators.merge import merge_rows

    src = str(tmp_path / "mx_src")
    out = str(tmp_path / "mx_out")
    generate_webpages_df(spark, 500, partitions=2).write.parquet(src)
    encode_table_direct(spark, src, out, resume=False)
    base = spark.read.parquet(src)
    ups = base.limit(3).withColumn("lang", F.lit("xx"))
    merge_rows(spark, out, ups, key_col="url")
    for sub in ("manifest", "lineage"):
        files = _glob.glob(f"{out}/{sub}/*.parquet") + _glob.glob(
            f"{out}/{sub}/part-*/*.parquet"
        )
        schemas = {}
        for f in files:
            s = _pq.read_schema(f)
            schemas.setdefault(
                tuple(sorted((n, str(s.field(n).type)) for n in s.names)), []
            ).append(f)
        assert len(schemas) == 1, f"{sub} writers disagree: {schemas}"
    # both decode paths see the merged state through the mixed metadata
    assert decode_table_direct(spark, out).count() == 500
    assert decode_table_direct(
        spark, out, predicates=[("lang", "==", "xx")]
    ).count() == 3
    assert decode_table(spark, out).count() == 500
    assert snapshots(spark, out).count() >= 2


def test_cli_stats(spark, tmp_path, capsys):
    import json as _json

    from cuda_float_compress_spark import cli
    from cuda_float_compress_spark.operators.direct import encode_table_direct

    src = str(tmp_path / "st_src")
    out = str(tmp_path / "st_out")
    generate_webpages_df(spark, 400, partitions=1).write.parquet(src)
    encode_table_direct(spark, src, out, resume=False)
    capsys.readouterr()
    assert cli.main(["stats", "--out", out, "--cores", "4"]) == 0
    lines = [ln for ln in capsys.readouterr().out.splitlines()
             if ln.startswith("{")]
    rep = _json.loads(lines[-1])
    cols = {c["col"]: c for c in rep["columns"]}
    assert set(cols) == {"url", "warc_ts", "html", "text", "lang"}
    assert rep["ratio"] > 2.0
    assert cols["lang"]["codecs"]  # every column reports its codec set
    assert cols["text"]["n_values"] == 400


def _small_docs(spark, n: int, extra: bool = False):
    rows = [(i, f"doc://d/{i}", "en") + ((i,) if extra else ())
            for i in range(n)]
    schema = "doc_id: long, url: string, lang: string" + (
        ", extra: long" if extra else "")
    return spark.createDataFrame(rows, schema)


_READERS = ("decode_table", "decode_table_direct", "read_table_local")


@pytest.mark.parametrize("reader", _READERS)
def test_uncommitted_run_adds_no_column(spark, tmp_path, read_cols_count,
                                        reader):
    """A crash between a run's manifest append and its lineage append
    leaves an uncommitted run: its rows AND its columns stay invisible.
    read_table_local used to take the schema from the manifest and show
    the crashed run's column."""
    import os

    from cuda_float_compress_spark.operators.encode import encode_table

    out = str(tmp_path / "phantom")
    encode_table(spark, _small_docs(spark, 300), out, n_parts=2,
                 resume=False, sort_keys=["doc_id"])
    encode_table(spark, _small_docs(spark, 50, extra=True), out, n_parts=2,
                 resume=False, sort_keys=["doc_id"], part_offset=10,
                 run_id="crashed")
    os.remove(f"{out}/lineage/part-direct-crashed.parquet")
    assert read_cols_count(reader, out) == (
        ["doc_id", "url", "lang"], 300)


@pytest.mark.parametrize("reader", _READERS)
def test_doubly_committed_parts_refused(spark, tmp_path, read_cols_count,
                                        reader):
    """Two runs committing the same parts make the table ambiguous: every
    reader refuses it. read_table_local used to return both copies."""
    from cuda_float_compress_spark.operators.encode import encode_table

    out = str(tmp_path / "twice")
    for _ in range(2):
        encode_table(spark, _small_docs(spark, 200), out, n_parts=2,
                     resume=False, sort_keys=["doc_id"])
    with pytest.raises(ValueError, match="committed by 2 different runs"):
        read_cols_count(reader, out)


def _read_sorted(spark, reader: str, path: str):
    """A full read through ``reader`` as a pyarrow table sorted by url."""
    from cuda_float_compress_spark.localio import read_table_local
    from cuda_float_compress_spark.operators.direct import decode_table_direct

    if reader == "read_table_local":
        tbl = read_table_local(path)
    else:
        fn = decode_table if reader == "decode_table" else decode_table_direct
        tbl = fn(spark, path).toArrow()
    return tbl.sort_by("url")


@pytest.mark.parametrize("reader", _READERS)
def test_chunk_split_across_vacuumed_files(spark, tmp_path, reader):
    """vacuum rewrites blocks/ through a plain Spark read, which splits a
    block file larger than maxPartitionBytes at row-group boundaries; one
    can fall inside a chunk, so the chunk's column rows land in two
    files. Every reader must still decode it as one chunk.
    decode_table_direct and read_table_local used to decode each half on
    its own: 2032 rows of 2000, 32 of them with a null url."""
    import os

    import pyarrow.parquet as pq

    from cuda_float_compress_spark.operators.maintain import vacuum

    src, out = str(tmp_path / "span_src"), str(tmp_path / "span")
    generate_webpages_df(spark, 2000, partitions=1).select(
        "url", "warc_ts", "html").write.parquet(src)
    confs = {"parquet.block.size": "65536",
             "spark.sql.files.maxPartitionBytes": "262144",
             "spark.sql.files.openCostInBytes": "0"}
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        spark.conf.set("parquet.block.size", confs["parquet.block.size"])
        for run in ("done", "crashed"):
            encode_table_direct(spark, src, out, chunk_rows=32,
                                resume=False, run_id=run)
        os.remove(f"{out}/lineage/part-direct-crashed.parquet")
        spark.conf.unset("parquet.block.size")
        for k in ("spark.sql.files.maxPartitionBytes",
                  "spark.sql.files.openCostInBytes"):
            spark.conf.set(k, confs[k])
        assert vacuum(spark, out)["rows_after"] > 0
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    files: dict = {}
    for name in os.listdir(f"{out}/blocks"):
        if name.endswith(".parquet"):
            t = pq.read_table(f"{out}/blocks/{name}",
                              columns=["part_id", "chunk_id"])
            for key in zip(t["part_id"].to_pylist(),
                           t["chunk_id"].to_pylist()):
                files.setdefault(key, set()).add(name)
    assert any(len(f) > 1 for f in files.values()), "no chunk was split"
    want = pq.read_table(src).sort_by("url")
    got = _read_sorted(spark, reader, out)
    assert got.num_rows == 2000
    for c in want.column_names:
        assert got[c].equals(want[c].cast(got[c].type)), c


@pytest.mark.parametrize("reader", _READERS)
def test_duplicated_block_file_refused(spark, tmp_path, read_cols_count,
                                       reader):
    """A committed block file present twice under two names (what a
    committer-v2 task retry can leave) holds every block row of its
    chunks twice: every reader refuses the table. decode_table_direct
    and read_table_local used to return 900 rows of 600."""
    import glob
    import shutil

    src, out = str(tmp_path / "dup_src"), str(tmp_path / "dup")
    generate_webpages_df(spark, 600, partitions=2).write.parquet(src)
    encode_table_direct(spark, src, out, resume=False,
                        target_rows_per_split=300)
    first = sorted(glob.glob(f"{out}/blocks/*.parquet"))[0]
    shutil.copy(first, f"{out}/blocks/part-99999-retry.parquet")
    with pytest.raises(ValueError, match="duplicate block"):
        read_cols_count(reader, out)
