"""Chunk pruning runs on the driver from the table Snapshot, once for all
three readers: it may never drop a matching row, whatever the op, the
column type or the reader, and resolving a predicate read starts no
Spark job."""
from __future__ import annotations

import datetime as dt
import operator

import pytest

from cuda_float_compress_spark.localio import read_table_local
from cuda_float_compress_spark.operators.decode import decode_table
from cuda_float_compress_spark.operators.deletes import delete_rows
from cuda_float_compress_spark.operators.direct import decode_table_direct
from cuda_float_compress_spark.operators.encode import encode_table

UTC = dt.timezone.utc
T0 = dt.datetime(2024, 3, 1, tzinfo=UTC)
D0 = dt.date(2024, 1, 1)
N = 600


def _row(i: int):
    return (i, f"doc://h{i % 7}/{i}", T0 + dt.timedelta(minutes=i),
            D0 + dt.timedelta(days=i // 5),
            None if i % 13 == 0 else ((i * 37) % 500) / 4.0)


@pytest.fixture(scope="module")
def bloom_table(spark, tmp_path_factory):
    """~16 chunks sorted by doc_id: the int, timestamp and date zone maps
    are tight, the url and score ones overlap, and url, doc_id and score
    carry Bloom filters."""
    out = str(tmp_path_factory.mktemp("prune"))
    df = spark.createDataFrame(
        [_row(i) for i in range(N)],
        "doc_id long, url string, ts timestamp, day date, score double")
    encode_table(spark, df, out, n_parts=2, resume=False,
                 sort_keys=["doc_id"], chunk_rows=40,
                 bloom_cols=["url", "doc_id", "score"])
    return out


# (column, its value at row 123, one at row 400, a value no row holds)
COLUMNS = {
    "int64": ("doc_id", 123, 400, 10**6),
    "timestamp": ("ts", _row(123)[2], _row(400)[2],
                  dt.datetime(2030, 1, 1, tzinfo=UTC)),
    "date32": ("day", _row(123)[3], _row(400)[3], dt.date(2030, 1, 1)),
    "float64": ("score", _row(123)[4], _row(400)[4], 1e9),
    "string": ("url", _row(123)[1], _row(400)[1], "zzz://absent"),
}
OPS = {"==": operator.eq, "<": operator.lt, "<=": operator.le,
       ">": operator.gt, ">=": operator.ge}


def _read_ids(spark, reader: str, table: str, preds) -> list[int]:
    if reader == "read_table_local":
        tbl = read_table_local(table, columns=["doc_id"], predicates=preds)
        return sorted(tbl.column("doc_id").to_pylist())
    fn = decode_table if reader == "decode_table" else decode_table_direct
    return sorted(r["doc_id"] for r in fn(
        spark, table, columns=["doc_id"], predicates=preds).collect())


@pytest.mark.parametrize("reader", ["decode_table", "decode_table_direct",
                                    "read_table_local"])
@pytest.mark.parametrize("ptype", sorted(COLUMNS))
@pytest.mark.parametrize("op", ["==", "<", "<=", ">", ">=", "in"])
def test_pruned_read_equals_exact_filter(spark, bloom_table, reader, ptype,
                                         op):
    col, hit, other, absent = COLUMNS[ptype]
    lit = [hit, other, absent] if op == "in" else hit
    full = read_table_local(bloom_table)  # no predicate: nothing pruned
    vals = full.column(col).to_pylist()
    ids = full.column("doc_id").to_pylist()
    match = ((lambda v: v in lit) if op == "in"
             else (lambda v: OPS[op](v, lit)))
    want = sorted(i for i, v in zip(ids, vals) if v is not None and match(v))
    assert want, "the literal must select rows"
    assert _read_ids(spark, reader, bloom_table, [(col, op, lit)]) == want


def test_local_reader_prunes_url_probe_by_bloom(bloom_table, monkeypatch):
    """read_table_local pruned only int-domain zone maps, so a url point
    probe decoded every chunk; the shared pruner reads the url filters."""
    from cuda_float_compress_spark.operators import chunks

    decoded = []  # one url payload per chunk read
    real = chunks.decode_column_chunk

    def counting(*args, **kw):
        decoded.append(1)
        return real(*args, **kw)

    monkeypatch.setattr(chunks, "decode_column_chunk", counting)
    read_table_local(bloom_table, columns=["url"])
    total = len(decoded)
    decoded.clear()
    got = read_table_local(bloom_table, columns=["url"],
                           predicates=[("url", "==", _row(123)[1])])
    assert got.column("url").to_pylist() == [_row(123)[1]]
    assert total >= 8 and len(decoded) <= 2, (len(decoded), total)


@pytest.mark.parametrize("reader", ["decode_table", "read_table_local"])
def test_read_keeping_no_chunk_is_empty_and_typed(spark, bloom_table,
                                                  reader):
    """A predicate that prunes every chunk leaves no file group to read:
    the result is empty, with the columns and types of a full read."""
    none = [("doc_id", "==", 10**6)]
    if reader == "read_table_local":
        got = read_table_local(bloom_table, predicates=none)
        assert got.num_rows == 0
        assert got.schema == read_table_local(bloom_table).schema
    else:
        got = decode_table(spark, bloom_table, predicates=none)
        assert got.count() == 0
        assert got.schema == decode_table(spark, bloom_table).schema


def test_predicate_resolve_starts_no_spark_job(spark, tmp_path):
    """Resolving a predicate read through decode_table_direct (pruning,
    committed pairs, tombstones) happens on the driver: the Spark jobs
    over block and tombstone metadata must not come back."""
    out = str(tmp_path / "guard")
    df = spark.createDataFrame([_row(i) for i in range(200)],
                               "doc_id long, url string, ts timestamp, "
                               "day date, score double")
    encode_table(spark, df, out, n_parts=2, resume=False,
                 sort_keys=["doc_id"], chunk_rows=40, bloom_cols=["url"])
    delete_rows(spark, out, [("doc_id", "<", 10)])
    sc = spark.sparkContext

    def jobs(group: str) -> list[int]:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return list(sc.statusTracker().getJobIdsForGroup(group))

    sc.setJobGroup("prune-guard", "predicate resolve")
    try:
        read = decode_table_direct(
            spark, out, columns=["doc_id"],
            predicates=[("doc_id", ">=", 50), ("url", "==", _row(60)[1])])
        assert jobs("prune-guard") == []
        # the group does see jobs: the action itself runs one
        assert [r["doc_id"] for r in read.collect()] == [60]
        assert jobs("prune-guard")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
