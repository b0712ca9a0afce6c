"""The table writers share one chunk cutter (``encode.encode_part``), one
task writer of block files (``encode.write_blocks``) and one commit
(``encode.commit_blocks``). Regression tests for the ways ``compact`` and
``reencode_columns`` drifted from the encoders while each had its own
copy, and for what the task writer must keep: a retried task leaves one
file, and a ``file://`` out dir writes what its bare path does."""

from __future__ import annotations

import glob
import os
import shutil

import pyarrow as pa
import pytest

from cuda_float_compress_spark.localio import read_table_local
from cuda_float_compress_spark.operators import deletes, maintain
from cuda_float_compress_spark.operators.encode import encode_part
from cuda_float_compress_spark.snapshot import Snapshot
from cuda_float_compress_spark.table import generate_webpages_df


def _rows(tbl: pa.Table) -> pa.Table:
    return tbl.sort_by("url")


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    """3000 rows in 4 parts, 256-row chunks."""
    from cuda_float_compress_spark.operators.encode import encode_table

    out = str(tmp_path_factory.mktemp("writers") / "table")
    df = generate_webpages_df(spark, 3000, partitions=4)
    encode_table(spark, df, out, n_parts=4, resume=False, chunk_rows=256)
    return out


@pytest.fixture(scope="module")
def deleted(spark, table, tmp_path_factory):
    """A copy of ``table`` with one committed delete run."""
    from cuda_float_compress_spark.operators.deletes import delete_rows

    out = str(tmp_path_factory.mktemp("writers") / "deleted")
    shutil.copytree(table, out)
    assert delete_rows(spark, out, [("lang", "==", "en")])["tombstones"] > 0
    return out


def test_encode_part_caps_an_oversized_batch():
    """One batch bigger than the chunk is sliced: at chunk_rows rows, and
    at chunk_bytes bytes by the batch's mean row width (8 B per int64)."""
    batch = pa.record_batch({"x": pa.array(range(1000), pa.int64())})

    def rows(chunk_rows, chunk_bytes, batches):
        out = list(encode_part(batches, 0, chunk_rows, chunk_bytes, {}))
        assert [b["chunk_id"][0].as_py() for b in out] == list(range(len(out)))
        return [b["n"][0].as_py() for b in out]

    assert rows(256, 1 << 30, [batch]) == [256, 256, 256, 232]
    assert rows(10**6, 800, [batch]) == [100] * 10
    # many small batches fill each chunk exactly
    small = [batch.slice(i, 30) for i in range(0, 1000, 30)]
    assert rows(256, 1 << 30, small) == [256, 256, 256, 232]


@pytest.mark.parametrize("writer", ["compact", "reencode_columns"])
def test_writer_refuses_a_dst_holding_a_table(spark, table, deleted,
                                              tmp_path, writer):
    """Both writers overwrote blocks/manifest/lineage but kept deletes/,
    so the old table's tombstones deleted rows of the new one (1897 of
    3000 rows came back)."""
    dst = str(tmp_path / "dst")
    shutil.copytree(deleted, dst)
    want = read_table_local(dst).num_rows
    with pytest.raises(ValueError, match="already holds"):
        if writer == "compact":
            maintain.compact(spark, table, dst, chunk_rows=256)
        else:
            maintain.reencode_columns(spark, table, dst, {"lang": "bytes_rle"})
    assert read_table_local(dst).num_rows == want


def test_compact_honours_chunk_bytes(spark, table, tmp_path):
    """compact cut chunks by rows only: chunk_bytes=64 KiB still gave one
    chunk per ~750 KB part."""
    dst = str(tmp_path / "packed")
    chunk_bytes = 1 << 16
    stats = maintain.compact(spark, table, dst, chunk_rows=10**6,
                             chunk_bytes=chunk_bytes)
    raw = sum(Snapshot.resolve(table).committed_rows["raw_bytes"].to_pylist())
    assert stats["chunks_after"] >= raw / (2 * chunk_bytes)
    assert _rows(read_table_local(dst)).equals(
        _rows(read_table_local(table)))


def test_reencode_crash_before_tombstone_copy_commits_nothing(
        spark, deleted, tmp_path, monkeypatch):
    """reencode_columns committed lineage before copying the source's
    tombstones: a crash in between left a committed table in which the
    deleted rows were live again."""
    dst = str(tmp_path / "re")

    def crash(*a, **kw):
        raise OSError("crash during the tombstone copy")

    monkeypatch.setattr(deletes, "_mark_committed", crash)
    with pytest.raises(OSError, match="crash"):
        maintain.reencode_columns(spark, deleted, dst, {"lang": "bytes_rle"})
    rows = Snapshot.resolve(dst).committed_rows
    assert rows is None or rows.num_rows == 0
    assert glob.glob(f"{dst}/deletes/*")
    maintain.vacuum(spark, dst)
    assert [e for e in glob.glob(f"{dst}/deletes/*")
            if not os.path.exists(f"{e}/_SUCCESS")] == []


@pytest.mark.parametrize("writer", ["encode_table_direct", "encode_table"])
def test_second_run_cannot_commit_committed_parts(spark, tmp_path, writer):
    """A ``resume=False`` encode into a committed table numbered its parts
    from 0 again and committed them, and from then on every reader raised
    ``committed by 2 different runs``. The second run is now refused
    before its commit, and the table still reads as the first run."""
    from cuda_float_compress_spark.operators.direct import encode_table_direct
    from cuda_float_compress_spark.operators.encode import encode_table

    src, out = str(tmp_path / "src"), str(tmp_path / "table")
    generate_webpages_df(spark, 600, partitions=2).write.parquet(src)

    def encode():
        if writer == "encode_table_direct":
            encode_table_direct(spark, src, out, resume=False)
        else:
            encode_table(spark, spark.read.parquet(src), out, n_parts=2,
                         resume=False)

    encode()
    want = _rows(read_table_local(out))
    with pytest.raises(ValueError, match="already committed"):
        encode()
    assert _rows(read_table_local(out)).equals(want)


def test_retried_task_replaces_its_block_file(spark, tmp_path):
    """A retried task writes the file its failed attempt already renamed
    into place under the same name, so the retry replaces it: one file,
    every row once. With Spark's job commit a retry could leave its
    predecessor's file beside its own, and every reader then refused the
    table. The attempts run the task writer itself, without Spark."""
    from cuda_float_compress_spark.operators.decode import decode_table
    from cuda_float_compress_spark.operators.direct import decode_table_direct
    from cuda_float_compress_spark.operators.encode import (
        commit_blocks,
        write_blocks,
    )
    from cuda_float_compress_spark.snapshot import resolve_path

    rows = pa.table({"url": [f"doc://d/{i}" for i in range(500)],
                     "v": pa.array(range(500), pa.int64())})
    out = str(tmp_path / "retried")
    fs, root = resolve_path(out)

    def attempt():
        return list(write_blocks(
            encode_part(rows.to_batches(max_chunksize=100), 0, 128, 1 << 24,
                        {}, run_id="r1"), fs, root, "r1", 0))

    attempt()  # failed after its rename: its stats never reach the commit
    stats = attempt()
    assert os.listdir(f"{out}/blocks") == ["part-r1-00000.parquet"]
    commit_blocks(spark.createDataFrame(pa.Table.from_batches(stats)), out,
                  "r1")
    want = sorted(zip(rows["url"].to_pylist(), rows["v"].to_pylist()))
    for got in (decode_table(spark, out).toArrow(),
                decode_table_direct(spark, out).toArrow(),
                read_table_local(out)):
        assert sorted(zip(got["url"].to_pylist(),
                          got["v"].to_pylist())) == want


@pytest.mark.parametrize("writer", ["encode_table_direct", "encode_table"])
def test_file_uri_out_dir_writes_the_bare_dirs_blocks(spark, tmp_path,
                                                      writer):
    """A ``file://`` out dir gets the block rows the bare path gets, and
    an out dir whose scheme pyarrow cannot open raises before any Spark
    job runs, leaving nothing behind: a ``://`` table reads exactly like
    its bare path or raises."""
    import pyarrow.parquet as pq

    from cuda_float_compress_spark.operators.direct import encode_table_direct
    from cuda_float_compress_spark.operators.encode import encode_table

    src = str(tmp_path / "src")
    generate_webpages_df(spark, 600, partitions=2).write.parquet(src)
    df = spark.read.parquet(src)

    def encode(out):
        if writer == "encode_table_direct":
            encode_table_direct(spark, src, out, resume=False,
                                target_rows_per_split=300)
        else:
            encode_table(spark, df, out, n_parts=2, resume=False)

    def blocks(path):
        cols = ["part_id", "chunk_id", "col", "codec", "payload"]
        return pa.concat_tables(
            pq.read_table(f, columns=cols)
            for f in glob.glob(f"{path}/blocks/*.parquet")).sort_by(
            [(c, "ascending") for c in cols[:3]])

    bare, uri = tmp_path / "bare", tmp_path / "uri"
    encode(str(bare))
    encode(f"file://{uri}")
    assert blocks(uri).num_rows and blocks(uri).equals(blocks(bare))

    sc = spark.sparkContext
    sc.setJobGroup("s3a-out", "s3a-out")
    before = sorted(os.listdir(tmp_path))
    try:
        with pytest.raises(ValueError, match="s3a"):
            encode("s3a://bucket/table")
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert list(sc.statusTracker().getJobIdsForGroup("s3a-out")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sorted(os.listdir(tmp_path)) == before
    assert not os.path.exists("s3a:")
