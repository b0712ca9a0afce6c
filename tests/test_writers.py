"""The table writers share one chunk cutter (``encode.encode_part``) and
one write-and-commit (``encode.commit_blocks``). Regression tests for
the ways ``compact`` and ``reencode_columns`` drifted from the encoders
while each had its own copy."""

from __future__ import annotations

import shutil

import pyarrow as pa
import pytest

from cuda_float_compress_spark.localio import read_table_local
from cuda_float_compress_spark.operators import maintain
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

    monkeypatch.setattr(maintain.pafs, "copy_files", crash)
    with pytest.raises(OSError, match="crash"):
        maintain.reencode_columns(spark, deleted, dst, {"lang": "bytes_rle"})
    rows = Snapshot.resolve(dst).committed_rows
    assert rows is None or rows.num_rows == 0
