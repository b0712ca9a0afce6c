"""Maintenance runs on the table Snapshot. ``vacuum`` is file-level
garbage collection: it deletes the block files holding no committed
``(part, run)`` pair, leaves every live file untouched and starts no
Spark job. ``compact`` reads the Snapshot's file groups on the decode
transport, so the block write is its only Spark job."""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from cuda_float_compress_spark.localio import read_table_local
from cuda_float_compress_spark.operators.decode import decode_table
from cuda_float_compress_spark.operators.deletes import delete_rows
from cuda_float_compress_spark.operators.direct import encode_table_direct
from cuda_float_compress_spark.operators.maintain import compact, vacuum
from cuda_float_compress_spark.snapshot import Snapshot
from cuda_float_compress_spark.table import generate_webpages_df


def _block_files(out: str) -> set[str]:
    return set(glob.glob(f"{out}/blocks/*.parquet"))


@pytest.fixture()
def crashed(spark, tmp_path):
    """A 600-row table, a crashed run of the same parts (blocks appended,
    no lineage: the commit refuses parts another run committed) and a
    committed delete run. Returns the table dir, the rows a reader must
    see (sorted by url) and the crashed run's block files."""
    src, out = str(tmp_path / "src"), str(tmp_path / "table")
    generate_webpages_df(spark, 600, partitions=2).write.parquet(src)
    encode_table_direct(spark, src, out, resume=False, run_id="done",
                        target_rows_per_split=300, chunk_rows=128)
    before = _block_files(out)
    with pytest.raises(ValueError, match="already committed"):
        encode_table_direct(spark, src, out, resume=False, run_id="crashed",
                            target_rows_per_split=300, chunk_rows=128)
    assert delete_rows(spark, out, [("lang", "==", "en")])["tombstones"] > 0
    want = pq.read_table(src)
    want = want.filter(pc.invert(pc.fill_null(
        pc.equal(want["lang"], "en"), False))).sort_by("url")
    return out, want, _block_files(out) - before


def _assert_rows(got, want):
    got = got.sort_by("url")
    assert got.num_rows == want.num_rows
    for c in want.column_names:
        assert got[c].equals(want[c].cast(got[c].type)), c


def _jobs(spark, group: str, fn):
    """``fn()``'s result and the Spark jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_vacuum_deletes_dead_files_without_a_spark_job(spark, crashed):
    out, want, dead = crashed
    live = {p: os.stat(p) for p in _block_files(out) - dead}
    dead_bytes = sum(os.path.getsize(p) for p in dead)
    stats, jobs = _jobs(spark, "vacuum-guard", lambda: vacuum(spark, out))
    assert jobs == []
    assert _block_files(out) == set(live)
    for path, st in live.items():
        now = os.stat(path)
        assert (now.st_ino, now.st_mtime_ns) == (st.st_ino, st.st_mtime_ns)
    assert stats == {"rows_before": 2 * stats["rows_after"],
                     "rows_after": stats["rows_after"],
                     "bytes_reclaimed": dead_bytes, "stale_rows": 0}
    # vacuum never splits a chunk: each file group is still one file
    groups = Snapshot.resolve(out).file_groups
    assert all(len(files) == 1 for files, _ in groups)
    _assert_rows(read_table_local(out), want)
    _assert_rows(decode_table(spark, out).toArrow(), want)
    assert vacuum(spark, out)["bytes_reclaimed"] == 0


def test_compact_runs_only_the_block_write(spark, crashed, tmp_path):
    out, want, _ = crashed
    dst = str(tmp_path / "packed")
    stats, jobs = _jobs(spark, "compact-guard",
                        lambda: compact(spark, out, dst, chunk_rows=256))
    assert len(jobs) == 1
    assert stats["chunks_after"] < stats["chunks_before"]
    assert Snapshot.resolve(dst).tombstone_runs == []
    _assert_rows(read_table_local(dst), want)


def test_vacuum_keeps_a_mixed_file_and_compact_drops_its_stale_rows(
        spark, crashed, tmp_path):
    """A file holding committed and uncommitted rows (what an older
    vacuum's Spark rewrite could leave) is never rewritten by vacuum: its
    stale rows are reported, and compact drops them."""
    out, want, dead = crashed
    stale, committed = sorted(dead)[0], sorted(_block_files(out) - dead)[0]
    stale_rows = pq.read_metadata(stale).num_rows
    mixed = f"{out}/blocks/part-mixed.parquet"
    pq.write_table(pa.concat_tables(
        [pq.read_table(committed), pq.read_table(stale)]), mixed)
    os.remove(stale)
    os.remove(committed)
    stats = vacuum(spark, out)
    assert stats["stale_rows"] == stale_rows
    assert mixed in _block_files(out)
    _assert_rows(read_table_local(out), want)
    dst = str(tmp_path / "packed")
    compact(spark, out, dst, chunk_rows=256)
    assert vacuum(spark, dst)["stale_rows"] == 0
    _assert_rows(read_table_local(dst), want)

