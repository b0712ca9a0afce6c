"""Merge-on-read deletes on the engine's own encoded tables: a tombstone
run counts only once committed, both decode paths apply them, appends
after a delete are unaffected, and compaction materializes them. Native
twin of the Iceberg v2 position-delete semantics the foreign-table reader
applies (sources/iceberg.py)."""
from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from cuda_float_compress_spark.operators.decode import decode_table
from cuda_float_compress_spark.operators.deletes import delete_rows
from cuda_float_compress_spark.operators.direct import decode_table_direct
from cuda_float_compress_spark.operators.encode import encode_table
from cuda_float_compress_spark.snapshot import Snapshot


@pytest.fixture()
def docs_table(spark, tmp_path):
    out = str(tmp_path / "enc")
    rows = [(i, f"doc://d/{i}", ["en", "de", "fr"][i % 3], i * 7 % 100)
            for i in range(300)]
    df = spark.createDataFrame(
        rows, "doc_id: long, url: string, lang: string, score: long"
    )
    encode_table(spark, df, out, n_parts=3, resume=False,
                 sort_keys=["doc_id"], chunk_rows=64)
    return out


def _ids(df):
    return sorted(r["doc_id"] for r in df.select("doc_id").collect())


def test_delete_rows_both_decode_paths(spark, docs_table):
    stats = delete_rows(spark, docs_table, [("lang", "==", "de")])
    assert stats["tombstones"] == 100
    expect = sorted(i for i in range(300) if i % 3 != 1)
    assert _ids(decode_table_direct(spark, docs_table)) == expect
    assert _ids(decode_table(spark, docs_table)) == expect
    # columns+predicates still compose with delete application
    left = decode_table_direct(
        spark, docs_table, columns=["doc_id", "lang"],
        predicates=[("score", ">=", 50)],
    ).collect()
    assert all(r["lang"] != "de" for r in left)
    # opt-out shows the raw rows (debugging/forensics path)
    assert len(_ids(decode_table_direct(
        spark, docs_table, apply_deletes=False))) == 300


def test_delete_is_idempotent_and_incremental(spark, docs_table):
    delete_rows(spark, docs_table, [("lang", "==", "de")])
    # re-deleting the same predicate finds nothing left to tombstone
    again = delete_rows(spark, docs_table, [("lang", "==", "de")])
    assert again["tombstones"] == 0
    # a second predicate stacks
    delete_rows(spark, docs_table, [("lang", "==", "fr")])
    assert _ids(decode_table_direct(spark, docs_table)) == [
        i for i in range(300) if i % 3 == 0
    ]


def test_delete_refuses_a_committed_run_id(spark, docs_table):
    """A delete run is never rewritten in place: a second delete under
    the run id of a committed one is refused and leaves that run as it
    was."""
    delete_rows(spark, docs_table, [("lang", "==", "de")], run_id="once")
    with pytest.raises(Exception, match="once"):
        delete_rows(spark, docs_table, [("lang", "==", "fr")],
                    run_id="once")
    assert _ids(decode_table_direct(spark, docs_table)) == [
        i for i in range(300) if i % 3 != 1]


def test_appends_after_delete_unaffected(spark, docs_table):
    delete_rows(spark, docs_table, [("lang", "==", "de")])
    new = spark.createDataFrame(
        [(1000 + i, f"doc://n/{i}", "de", 1) for i in range(10)],
        "doc_id: long, url: string, lang: string, score: long",
    )
    encode_table(spark, new, docs_table, n_parts=2, resume=False,
                 sort_keys=["doc_id"], part_offset=100)
    got = _ids(decode_table_direct(spark, docs_table))
    # old 'de' rows stay deleted; NEW 'de' rows survive (addresses differ)
    assert [i for i in got if i >= 1000] == list(range(1000, 1010))
    assert not [i for i in got if i < 1000 and i % 3 == 1]


def test_partial_delete_run_is_inert(spark, docs_table, tmp_path):
    delete_rows(spark, docs_table, [("lang", "==", "de")])
    # simulate a crashed delete job: dir without _SUCCESS must be ignored
    bogus = os.path.join(docs_table, "deletes", "run-crashed")
    os.makedirs(bogus)
    good = Snapshot.resolve(docs_table).tombstones
    src = [d for d in os.listdir(os.path.join(docs_table, "deletes"))
           if d != "run-crashed"][0]
    shutil.copy(
        next(
            os.path.join(docs_table, "deletes", src, f)
            for f in os.listdir(os.path.join(docs_table, "deletes", src))
            if f.endswith(".parquet")
        ),
        os.path.join(bogus, "part-00000.parquet"),
    )
    assert Snapshot.resolve(docs_table).tombstones.num_rows == good.num_rows
    assert len(_ids(decode_table_direct(spark, docs_table))) == 200


def _uncommitted_deletes(table: str) -> list[str]:
    return [e for e in glob.glob(os.path.join(table, "deletes", "*"))
            if not os.path.exists(os.path.join(e, "_SUCCESS"))]


def test_delete_crash_before_marker_is_inert(spark, docs_table,
                                             monkeypatch):
    """A delete that dies after writing its rows but before the
    ``_SUCCESS`` marker changes no read; vacuum reclaims its dir."""
    from cuda_float_compress_spark.localio import read_table_local
    from cuda_float_compress_spark.operators import deletes
    from cuda_float_compress_spark.operators.maintain import vacuum

    before = _ids(decode_table_direct(spark, docs_table))

    def crash(*a, **kw):
        raise OSError("crash before the marker")

    monkeypatch.setattr(deletes, "_mark_committed", crash)
    with pytest.raises(OSError, match="crash"):
        delete_rows(spark, docs_table, [("lang", "==", "de")])
    monkeypatch.undo()
    assert len(_uncommitted_deletes(docs_table)) == 1
    assert _ids(decode_table_direct(spark, docs_table)) == before
    assert _ids(decode_table(spark, docs_table)) == before
    assert sorted(read_table_local(docs_table)["doc_id"].to_pylist()) == before
    vacuum(spark, docs_table)
    assert _uncommitted_deletes(docs_table) == []
    assert _ids(decode_table_direct(spark, docs_table)) == before


def test_compact_materializes_tombstones(spark, docs_table, tmp_path):
    from cuda_float_compress_spark.operators.maintain import compact

    delete_rows(spark, docs_table, [("lang", "==", "de")])
    packed = str(tmp_path / "packed")
    compact(spark, docs_table, packed, chunk_rows=32768)
    # physically gone: no deletes dir, raw decode shows only survivors
    assert not os.path.exists(os.path.join(packed, "deletes"))
    assert len(_ids(decode_table_direct(
        spark, packed, apply_deletes=False))) == 200
    assert _ids(decode_table_direct(spark, packed)) == [
        i for i in range(300) if i % 3 != 1
    ]


def test_each_task_row_carries_only_its_groups_deletes(spark, docs_table):
    """The deleted positions reach the decode tasks through the file
    group rows, not one closure: a row of ``group_frame`` holds the
    positions of its own chunks only, and the rows together hold each
    tombstone once, matching the committed tombstone rows."""
    from cuda_float_compress_spark.operators.decode import group_frame

    delete_rows(spark, docs_table, [("lang", "==", "de")])
    delete_rows(spark, docs_table, [("doc_id", "<", 10)])
    snap = Snapshot.resolve(docs_table)
    assert len(snap.file_groups) > 1
    keys_of = {tuple(p for p, _ in files): keys
               for files, keys in snap.file_groups}
    shipped = []
    for row in group_frame(spark, snap.file_groups,
                           snap.deleted_positions).collect():
        keys = keys_of[tuple(row["files"])]
        for d in row["deleted"]:
            assert (d["part_id"], d["chunk_id"]) in keys
            shipped += [(d["part_id"], d["chunk_id"], p) for p in d["pos"]]
    tombs = list(zip(*(snap.tombstones[c].to_pylist()
                       for c in ("_part_id", "_chunk_id", "_pos"))))
    assert sorted(shipped) == sorted(tombs)
    assert len(tombs) == 107  # 100 "de" rows, and the 7 other ids < 10
    assert not any(row["deleted"] for row in group_frame(
        spark, snap.file_groups).collect())


def test_delete_via_bloom_point_lookup(spark, tmp_path):
    """A single-row GDPR-style delete: the predicate scan prunes via the
    url Bloom filter, the tombstone hits exactly one row."""
    out = str(tmp_path / "enc_bloom")
    rows = [(i, f"doc://d/{i}", i) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id: long, url: string, v: long")
    encode_table(spark, df, out, n_parts=2, resume=False,
                 sort_keys=["v"], chunk_rows=32, bloom_cols=["url"])
    stats = delete_rows(spark, out, [("url", "==", "doc://d/77")])
    assert stats["tombstones"] == 1
    got = decode_table_direct(spark, out).filter(F.col("doc_id") == 77)
    assert got.count() == 0


def test_delete_rows_by_keys_takedown_list(spark, docs_table):
    """Key-list deletes (the shape an IN-list predicate can't carry):
    a takedown DataFrame of urls tombstones exactly those rows; unknown
    keys are ignored; stacking with predicate deletes works."""
    from cuda_float_compress_spark.operators.deletes import (
        delete_rows_by_keys,
    )

    takedown = spark.createDataFrame(
        [(f"doc://d/{i}",) for i in range(0, 300, 10)]
        + [("doc://missing/404",)],
        "url: string",
    )
    stats = delete_rows_by_keys(spark, docs_table, "url", takedown)
    assert stats["tombstones"] == 30
    got = _ids(decode_table_direct(spark, docs_table))
    assert got == [i for i in range(300) if i % 10 != 0]
    # stacks with a predicate delete
    delete_rows(spark, docs_table, [("lang", "==", "de")])
    got2 = _ids(decode_table_direct(spark, docs_table))
    assert got2 == [i for i in range(300) if i % 10 != 0 and i % 3 != 1]


def test_as_of_before_delete_shows_rows(spark, docs_table):
    """Iceberg position-delete time scoping: a snapshot read dated before
    the delete committed still sees the rows, on all three readers."""
    import time

    from cuda_float_compress_spark.localio import read_table_local

    t0 = time.time()
    time.sleep(0.05)
    delete_rows(spark, docs_table, [("lang", "==", "de")])
    assert decode_table_direct(spark, docs_table).count() == 200
    assert decode_table_direct(spark, docs_table, as_of=t0).count() == 300
    assert decode_table(spark, docs_table, as_of=t0).count() == 300
    assert read_table_local(docs_table, as_of=t0).num_rows == 300
    assert read_table_local(docs_table).num_rows == 200
