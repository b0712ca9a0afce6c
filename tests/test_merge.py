"""MERGE (upsert) on the engine's own encoded tables: updated keys are
replaced exactly once, new keys insert, both decode paths agree, the
operation is re-runnable after a simulated crash, and incremental readers
see the merge as one new run."""
from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from cuda_float_compress_spark.operators.decode import decode_table
from cuda_float_compress_spark.operators.direct import decode_table_direct
from cuda_float_compress_spark.operators.encode import encode_table
from cuda_float_compress_spark.operators.merge import merge_rows


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


def _rows(df):
    return sorted(
        (r["doc_id"], r["url"], r["lang"], r["score"])
        for r in df.select("doc_id", "url", "lang", "score").collect()
    )


def _expected_after_merge(updated_ids, inserted_ids):
    base = {
        i: (i, f"doc://d/{i}", ["en", "de", "fr"][i % 3], i * 7 % 100)
        for i in range(300)
    }
    for i in updated_ids:
        base[i] = (i, f"doc://d/{i}", "xx", 999)
    for i in inserted_ids:
        base[i] = (i, f"doc://d/{i}", "new", 1)
    return sorted(base.values())


def _updates_df(spark, updated_ids, inserted_ids):
    rows = [(i, f"doc://d/{i}", "xx", 999) for i in updated_ids] + [
        (i, f"doc://d/{i}", "new", 1) for i in inserted_ids
    ]
    return spark.createDataFrame(
        rows, "doc_id: long, url: string, lang: string, score: long"
    )


def test_merge_updates_and_inserts(spark, docs_table):
    updated = [5, 17, 100, 299]
    inserted = [1000, 1001]
    stats = merge_rows(
        spark, docs_table, _updates_df(spark, updated, inserted),
        key_col="url", sort_keys=["doc_id"],
    )
    assert stats["appended"] == 6
    assert stats["tombstones"] == 4          # only pre-existing keys retire
    expect = _expected_after_merge(updated, inserted)
    assert _rows(decode_table_direct(spark, docs_table)) == expect
    assert _rows(decode_table(spark, docs_table)) == expect


@pytest.mark.parametrize("form", ["bare", "file_uri"])
def test_merge_takes_every_path_form(spark, docs_table, form):
    """On a file:// table the publish rename failed after the append had
    committed, leaving both versions of every updated key, and the sweep
    of stale staging dirs never matched."""
    stale = os.path.join(docs_table, "deletes", "_staging-crashed")
    os.makedirs(stale)
    path = docs_table if form == "bare" else "file://" + docs_table
    stats = merge_rows(spark, path, _updates_df(spark, [5, 17, 100], [1000]),
                       key_col="url")
    assert stats["tombstones"] == 3
    assert _rows(decode_table_direct(spark, path)) == _expected_after_merge(
        [5, 17, 100], [1000])
    assert not glob.glob(os.path.join(docs_table, "deletes", "_staging-*"))


def test_merge_twice_latest_wins(spark, docs_table):
    merge_rows(spark, docs_table, _updates_df(spark, [5], [1000]),
               key_col="url")
    # second merge touches an already-merged key AND a base key
    second = spark.createDataFrame(
        [(5, "doc://d/5", "yy", 7), (6, "doc://d/6", "yy", 7)],
        "doc_id: long, url: string, lang: string, score: long",
    )
    stats = merge_rows(spark, docs_table, second, key_col="url")
    assert stats["tombstones"] == 2
    got = {r["doc_id"]: (r["lang"], r["score"])
           for r in decode_table_direct(spark, docs_table).collect()}
    assert got[5] == ("yy", 7) and got[6] == ("yy", 7)
    assert got[1000] == ("new", 1)
    assert len(got) == 301


def test_merge_refuses_duplicate_keys(spark, docs_table):
    dup = spark.createDataFrame(
        [(5, "doc://d/5", "a", 1), (5, "doc://d/5", "b", 2)],
        "doc_id: long, url: string, lang: string, score: long",
    )
    with pytest.raises(ValueError, match="duplicate"):
        merge_rows(spark, docs_table, dup, key_col="url")


def test_merge_rerun_after_crash_heals(spark, docs_table):
    """Simulate a crash between the append and the tombstone publish: the
    table transiently holds BOTH versions; re-running the same merge
    converges to exactly one (the new) version per key."""
    upd = _updates_df(spark, [5, 17], [])
    stats = merge_rows(spark, docs_table, upd, key_col="url")
    # undo step 3: demote the tombstone run back to a staging dir
    pub = os.path.join(docs_table, "deletes", f"run-{stats['run_id']}")
    os.rename(pub, os.path.join(docs_table, "deletes", "_staging-crash"))
    dup_state = decode_table_direct(spark, docs_table)
    assert dup_state.filter(F.col("doc_id") == 5).count() == 2  # duplicates
    merge_rows(spark, docs_table, upd, key_col="url")            # heal
    expect = _expected_after_merge([5, 17], [])
    assert _rows(decode_table_direct(spark, docs_table)) == expect
    # the crash's staging dir was swept
    assert not glob.glob(os.path.join(docs_table, "deletes", "_staging-*"))


def test_merge_visible_to_incremental_readers(spark, docs_table):
    snaps_before = decode_table(spark, docs_table).count()
    import time
    t0 = time.time()
    time.sleep(0.05)
    merge_rows(spark, docs_table, _updates_df(spark, [5], [1000]),
               key_col="url")
    delta = decode_table_direct(spark, docs_table, since=t0)
    got = sorted(r["doc_id"] for r in delta.select("doc_id").collect())
    assert got == [5, 1000]
    assert decode_table(spark, docs_table).count() == snaps_before + 1


def test_merge_stream_multi_epoch(spark, tmp_path):
    """Continuous upsert ingest: two micro-batches of row versions stream
    into the table; the final state holds exactly the latest version per
    key, including an intra-batch version conflict resolved by
    version_col."""
    import time

    from cuda_float_compress_spark.streaming import merge_stream

    out = str(tmp_path / "ms_enc")
    src = str(tmp_path / "ms_src")
    sch = ("doc_id: long, url: string, lang: string, score: long, "
           "version: long")
    base = [(i, f"doc://d/{i}", "en", i, 0) for i in range(100)]
    encode_table(spark, spark.createDataFrame(base, sch), out,
                 n_parts=2, resume=False, sort_keys=["doc_id"])
    # epoch 1: update 5 and 6, insert 1000
    spark.createDataFrame(
        [(5, "doc://d/5", "v1", 5, 1), (6, "doc://d/6", "v1", 6, 1),
         (1000, "doc://d/1000", "v1", 0, 1)], sch,
    ).coalesce(1).write.parquet(src)
    time.sleep(1.1)  # distinct mtimes -> file source splits the epochs
    # epoch 2: update 5 again; insert 1001 TWICE in one batch (v1 then v2)
    spark.createDataFrame(
        [(5, "doc://d/5", "v2", 55, 2),
         (1001, "doc://d/1001", "old", 1, 1),
         (1001, "doc://d/1001", "new", 2, 2)], sch,
    ).coalesce(1).write.mode("append").parquet(src)
    merge_stream(spark, src, out, key_col="url", version_col="version",
                 n_parts=2, max_files_per_trigger=1)
    got = {r["doc_id"]: (r["lang"], r["score"], r["version"])
           for r in decode_table_direct(spark, out).collect()}
    assert len(got) == 102
    assert got[5] == ("v2", 55, 2)
    assert got[6] == ("v1", 6, 1)
    assert got[1000] == ("v1", 0, 1)
    assert got[1001] == ("new", 2, 2)
    assert got[7] == ("en", 7, 0)  # untouched base row


def test_merge_tombstones_stamped_after_append_commit(spark, docs_table):
    """ADVICE r6: committed_at stamped at staging-write time opened a
    time-travel window [stamp, encode finished_at) where the tombstones
    applied but the replacement run was not yet trusted — updated keys
    vanished from those snapshots. The stamp must now be >= the merge
    run's lineage finished_at, and any as_of cut before the run's commit
    must still see every pre-merge row."""
    res = merge_rows(spark, docs_table, _updates_df(spark, [5, 17], []),
                     key_col="url", sort_keys=["doc_id"])
    lin = spark.read.parquet(f"{docs_table}/lineage")
    fin = lin.filter(
        (F.col("run_id") == res["run_id"]) & (F.col("status") == "done")
    ).agg(F.max("finished_at")).collect()[0][0]
    tomb = spark.read.parquet(
        os.path.join(docs_table, "deletes", f"run-{res['run_id']}")
    )
    t_min = tomb.agg(F.min("committed_at")).collect()[0][0]
    assert t_min >= fin
    # snapshot cut just before the run committed (inside the formerly
    # buggy window): the pre-merge table is intact, updated keys included
    pre = decode_table_direct(spark, docs_table, as_of=fin - 1e-4)
    got = {r["doc_id"]: r["lang"]
           for r in pre.select("doc_id", "lang").collect()}
    assert len(got) == 300
    assert got[5] == ["en", "de", "fr"][5 % 3]
    assert got[17] == ["en", "de", "fr"][17 % 3]
    # snapshot cut AT the run's commit: the tombstones (stamped with the
    # run's finished_at) and the replacement rows appear together, so each
    # updated key shows exactly once
    at = [r["doc_id"] for r in decode_table_direct(
        spark, docs_table, as_of=fin).select("doc_id").collect()]
    assert len(at) == 300
    assert at.count(5) == 1 and at.count(17) == 1
    # no staging leftovers after a successful merge
    assert glob.glob(os.path.join(docs_table, "deletes", "_staging-*")) == []
