"""Spark-free local reader: read_table_local must agree exactly with
decode_table_direct on projections, predicates, deletes, merges, and
as_of snapshots — same trust rules, no JVM."""
from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from cuda_float_compress_spark.localio import read_table_local
from cuda_float_compress_spark.operators.deletes import delete_rows
from cuda_float_compress_spark.operators.direct import decode_table_direct
from cuda_float_compress_spark.operators.encode import encode_table
from cuda_float_compress_spark.operators.merge import merge_rows


def _encode_docs(spark, out: str) -> str:
    rows = [(i, f"doc://d/{i}", ["en", "de", "fr"][i % 3], i * 7 % 100)
            for i in range(300)]
    df = spark.createDataFrame(
        rows, "doc_id: long, url: string, lang: string, score: long"
    )
    encode_table(spark, df, out, n_parts=3, resume=False,
                 sort_keys=["doc_id"], chunk_rows=64)
    return out


@pytest.fixture()
def docs_table(spark, tmp_path):
    return _encode_docs(spark, str(tmp_path / "lio"))


def _spark_rows(df):
    return sorted(tuple(r) for r in df.collect())


def _local_rows(tbl):
    return sorted(zip(*(tbl.column(c).to_pylist()
                        for c in tbl.column_names)))


def test_local_read_full_and_projection(spark, docs_table):
    full = read_table_local(docs_table)
    assert full.num_rows == 300
    assert _local_rows(full) == _spark_rows(decode_table_direct(
        spark, docs_table))
    proj = read_table_local(docs_table, columns=["url", "score"])
    assert proj.column_names == ["url", "score"]
    assert _local_rows(proj) == _spark_rows(
        decode_table_direct(spark, docs_table, columns=["url", "score"])
        .select("url", "score")
    )


def test_local_read_predicates(spark, docs_table):
    preds = [("doc_id", ">=", 50), ("doc_id", "<", 70), ("lang", "==", "en")]
    got = read_table_local(docs_table, predicates=preds)
    want = decode_table_direct(spark, docs_table, predicates=preds)
    assert _local_rows(got) == _spark_rows(want)
    ins = [("score", "in", [0, 7, 14])]
    assert _local_rows(read_table_local(docs_table, predicates=ins)) == \
        _spark_rows(decode_table_direct(spark, docs_table, predicates=ins))


def test_local_read_sees_deletes_and_merges(spark, docs_table):
    delete_rows(spark, docs_table, [("lang", "==", "de")])
    ups = spark.createDataFrame(
        [(5, "doc://d/5", "xx", 999), (1000, "doc://d/1000", "new", 1)],
        "doc_id: long, url: string, lang: string, score: long",
    )
    merge_rows(spark, docs_table, ups, key_col="url")
    got = read_table_local(docs_table)
    want = decode_table_direct(spark, docs_table)
    assert _local_rows(got) == _spark_rows(want)
    assert got.num_rows == 201  # 300 - 100 deleted + 1 insert (5 replaced)
    # the raw view (deletes off) still shows tombstoned rows
    raw = read_table_local(docs_table, apply_deletes=False)
    assert raw.num_rows > got.num_rows


def test_local_read_as_of(spark, docs_table):
    t0 = time.time()
    time.sleep(0.05)
    merge_rows(
        spark, docs_table,
        spark.createDataFrame([(1000, "doc://d/1000", "new", 1)],
                              "doc_id: long, url: string, lang: string, "
                              "score: long"),
        key_col="url",
    )
    early = read_table_local(docs_table, as_of=t0)
    assert early.num_rows == 300
    assert read_table_local(docs_table).num_rows == 301


READERS = ("decode_table", "decode_table_direct", "read_table_local")


@pytest.fixture(scope="module")
def shared_docs(spark, tmp_path_factory):
    return _encode_docs(spark, str(tmp_path_factory.mktemp("forms")))


@pytest.fixture(scope="module")
def shared_deleted_docs(spark, tmp_path_factory):
    out = _encode_docs(spark, str(tmp_path_factory.mktemp("forms_del")))
    delete_rows(spark, out, [("lang", "==", "de")])
    return out


@pytest.mark.parametrize("form", ["bare", "file_uri"])
@pytest.mark.parametrize("reader", READERS)
def test_every_reader_takes_every_path_form(read_cols_count, shared_docs,
                                            reader, form):
    """A file:// URI read the same table as its bare path. It used to
    read as an empty table in decode_table_direct and read_table_local
    (their globs saw no files) instead of failing or reading it."""
    path = shared_docs if form == "bare" else "file://" + shared_docs
    cols, n = read_cols_count(reader, path)
    assert (cols, n) == (["doc_id", "url", "lang", "score"], 300)


@pytest.mark.parametrize("form", ["bare", "file_uri"])
@pytest.mark.parametrize("reader", READERS)
def test_every_reader_applies_deletes_by_path_form(
        read_cols_count, shared_deleted_docs, reader, form):
    """Tombstones apply under a file:// URI too: decode_table used to find
    none there and return all 300 rows."""
    path = (shared_deleted_docs if form == "bare"
            else "file://" + shared_deleted_docs)
    assert read_cols_count(reader, path)[1] == 200

