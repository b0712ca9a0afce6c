"""Schema evolution on encoded tables: append runs may add or drop
columns; decode returns the UNION schema with nulls where a chunk predates
a column, on BOTH decode paths, composing with projection, predicates,
and merge-on-read deletes. Conflicting re-typed columns are refused."""
from __future__ import annotations

import pytest

from cuda_float_compress_spark.operators.decode import decode_table
from cuda_float_compress_spark.operators.direct import decode_table_direct
from cuda_float_compress_spark.operators.encode import encode_table


@pytest.fixture()
def evolved_table(spark, tmp_path):
    """Run 1: (doc_id, url, lang). Run 2 appends (doc_id, url, score) —
    lang dropped, score added."""
    out = str(tmp_path / "evo")
    run1 = spark.createDataFrame(
        [(i, f"doc://a/{i}", "en") for i in range(100)],
        "doc_id: long, url: string, lang: string",
    )
    encode_table(spark, run1, out, n_parts=2, resume=False,
                 sort_keys=["doc_id"])
    run2 = spark.createDataFrame(
        [(1000 + i, f"doc://b/{i}", i * 2) for i in range(50)],
        "doc_id: long, url: string, score: long",
    )
    encode_table(spark, run2, out, n_parts=2, resume=False,
                 sort_keys=["doc_id"], part_offset=100)
    return out


@pytest.mark.parametrize("path", ["direct", "shuffle"])
def test_union_schema_with_nulls(spark, evolved_table, path):
    dec = (decode_table_direct if path == "direct" else decode_table)(
        spark, evolved_table
    )
    assert sorted(dec.columns) == ["doc_id", "lang", "score", "url"]
    rows = {r["doc_id"]: r for r in dec.collect()}
    assert len(rows) == 150
    assert rows[5]["lang"] == "en" and rows[5]["score"] is None
    assert rows[1007]["lang"] is None and rows[1007]["score"] == 14


@pytest.mark.parametrize("path", ["direct", "shuffle"])
def test_projection_of_late_column_keeps_old_rows(spark, evolved_table, path):
    """Selecting ONLY the late-added column must still return the old
    chunks' rows (as nulls) — dropping them would silently change counts."""
    dec = (decode_table_direct if path == "direct" else decode_table)(
        spark, evolved_table, columns=["doc_id", "score"]
    )
    got = {r["doc_id"]: r["score"] for r in dec.collect()}
    assert len(got) == 150
    assert got[3] is None and got[1001] == 2


def test_predicate_on_late_column_prunes_old_chunks(spark, evolved_table):
    """A predicate on the late column matches no old rows (null never
    matches) — and zone maps prune the old chunks without reading them."""
    dec = decode_table_direct(
        spark, evolved_table, columns=["doc_id", "score"],
        predicates=[("score", ">=", 90)],
    )
    assert sorted(r["doc_id"] for r in dec.collect()) == [
        1000 + i for i in range(45, 50)
    ]


def test_deletes_compose_with_evolution(spark, evolved_table):
    from cuda_float_compress_spark.operators.deletes import delete_rows

    delete_rows(spark, evolved_table, [("lang", "==", "en")])
    got = sorted(
        r["doc_id"] for r in decode_table_direct(spark, evolved_table)
        .select("doc_id").collect()
    )
    assert got == [1000 + i for i in range(50)]


def test_conflicting_retype_refused(spark, tmp_path):
    out = str(tmp_path / "conflict")
    a = spark.createDataFrame(
        [(1, "u", "x")], "doc_id: long, url: string, v: string"
    )
    encode_table(spark, a, out, n_parts=1, resume=False, sort_keys=["doc_id"])
    b = spark.createDataFrame(
        [(2, "u2", 7)], "doc_id: long, url: string, v: long"
    )
    encode_table(spark, b, out, n_parts=1, resume=False,
                 sort_keys=["doc_id"], part_offset=10)
    with pytest.raises(ValueError, match="conflicting types"):
        decode_table_direct(spark, out).collect()


def test_compact_handles_evolution(spark, evolved_table, tmp_path):
    """ADVICE r6: compact() indexed per_chunk[cid][col] for every union-
    schema column and crashed with KeyError on chunks predating a later-
    added column. It must null-fill instead, mirroring the decode paths."""
    from cuda_float_compress_spark.operators.maintain import compact

    dst = str(tmp_path / "cmp")
    compact(spark, evolved_table, dst, chunk_rows=64)
    want = sorted(
        (r["doc_id"], r["url"], r["lang"], r["score"])
        for r in decode_table_direct(spark, evolved_table).collect()
    )
    got = sorted(
        (r["doc_id"], r["url"], r["lang"], r["score"])
        for r in decode_table_direct(spark, dst).collect()
    )
    assert got == want
    assert len(got) == 150


def test_metadata_agg_evolution_falls_back(spark, evolved_table):
    """ADVICE r6: chunks written before a column existed contribute all-
    null rows in the decode paths but carry no stats row — the metadata
    path undercounted n_rows/n_nulls. It must match the decode ground
    truth (150 rows, 100 nulls for the late 'score' column)."""
    from cuda_float_compress_spark.operators.metadata_agg import (
        agg_int_column,
    )

    row = agg_int_column(spark, evolved_table, "score").collect()[0]
    assert row["n_rows"] == 150
    assert row["n_nulls"] == 100
    assert row["sum"] == sum(i * 2 for i in range(50))


@pytest.mark.parametrize(
    "reader", ["decode_table", "decode_table_direct", "read_table_local"])
def test_readers_agree_on_columns_under_as_of(spark, evolved_table,
                                              read_cols_count, reader):
    """The schema is the union over every committed run, whatever the
    as_of window: a snapshot dated between the runs still returns the
    later run's column (as nulls). decode_table used to narrow it."""
    from cuda_float_compress_spark.operators.decode import snapshots

    first = snapshots(spark, evolved_table).collect()[0]["committed_at"]
    assert read_cols_count(reader, evolved_table, as_of=first) == (
        ["doc_id", "url", "lang", "score"], 100)
