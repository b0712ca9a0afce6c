"""Chunk pruning runs on the driver from the table Snapshot, once for all
three readers: it may never drop a matching row, whatever the op, the
column type or the reader, and resolving a predicate read starts no
Spark job. Every reader also keeps exactly the rows Spark SQL keeps."""
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
    over block and tombstone metadata must not come back. Reading it is
    one job: the tombstone anti-join and the Spark row filter that once
    followed the decode must not come back either."""
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
        # the decode task drops tombstones and filters rows itself: the
        # action runs one job, and no join or filter follows the decode
        assert [r["doc_id"] for r in read.collect()] == [60]
        assert len(jobs("prune-guard")) == 1
        plan = read._jdf.queryExecution().optimizedPlan()
        nodes = [plan.apply(i).nodeName()
                 for i in range(len(plan.numberedTreeString().splitlines()))]
        assert not {"Join", "Filter"} & set(nodes), nodes
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


NAN = float("nan")
EPOCH = dt.date(1970, 1, 1)
# (id, score double, s string, d date, ts timestamp, f float)
PARITY_ROWS = [
    (0, 0.25, "a", EPOCH + dt.timedelta(18262), T0, 0.1),
    (1, 1.0, None, EPOCH + dt.timedelta(18263),
     T0 + dt.timedelta(hours=1), 0.2),
    (2, NAN, "b", EPOCH + dt.timedelta(18264), None, None),
    (3, -0.0, "c", EPOCH + dt.timedelta(18265),
     T0 + dt.timedelta(hours=3), 0.5),
    (4, None, "a", None, T0 + dt.timedelta(hours=4), 1.5),
    (5, 0.5, None, EPOCH + dt.timedelta(18265),
     T0 + dt.timedelta(hours=5), -0.0),
    (6, 2.0, "b", EPOCH + dt.timedelta(18266),
     T0 + dt.timedelta(hours=6), 0.1),
    (7, 0.0, "", EPOCH + dt.timedelta(18267), None, 2.5),
    (8, 3.5, "c", None, T0 + dt.timedelta(hours=8), None),
    (9, None, "d", EPOCH + dt.timedelta(18268),
     T0 + dt.timedelta(hours=9), 0.0),
    (10, 1.5, None, EPOCH + dt.timedelta(18269),
     T0 + dt.timedelta(hours=10), 3.0),
    (11, -1.0, "a", EPOCH + dt.timedelta(18265),
     T0 + dt.timedelta(hours=11), 0.2),
]
PARITY_DELETED = 11
TS5 = T0 + dt.timedelta(hours=5)
# (predicate, the same condition in Spark SQL)
PARITY_CASES = [
    (("score", ">", 0.5), "score > 0.5D"),                  # NaN row
    (("score", ">=", 2.0), "score >= 2.0D"),                # NaN row
    (("score", "in", [0.0]), "score IN (0.0D)"),            # -0.0 row
    (("s", "in", ["a", None]), "s IN ('a', NULL)"),         # null member
    (("d", "==", 18265), "d = DATE'2020-01-04'"),           # days literal
    (("score", "=", 2.0), "score = 2.0D"),
    (("score", "in", [0.5, None]), "score IN (0.5D, NULL)"),
    (("id", "==", None), "id = NULL"),
    (("f", ">", 0.1), "f > 0.1D"),                          # float32 col
    (("f", "==", 0.1), "f = 0.1D"),
    (("f", "in", [0.0, 0.2]), "f IN (0.0D, 0.2D)"),
    (("score", "==", 0.5), "score = 0.5D"),
    (("score", "<", 1.0), "score < 1.0D"),
    (("score", "<=", 0.0), "score <= 0.0D"),
    (("s", ">", "a"), "s > 'a'"),
    (("s", "<=", "b"), "s <= 'b'"),
    (("d", ">=", EPOCH + dt.timedelta(18266)), "d >= DATE'2020-01-05'"),
    (("d", "<", dt.datetime(2020, 1, 4, 12)), "d < DATE'2020-01-04'"),
    (("ts", ">", TS5), "ts > TIMESTAMP'2024-03-01 05:00:00'"),
    (("ts", "in", [TS5, T0]),
     "ts IN (TIMESTAMP'2024-03-01 05:00:00', TIMESTAMP'2024-03-01 00:00:00')"),
]


@pytest.fixture(scope="module")
def parity_table(spark, tmp_path_factory):
    """12 rows in 4 chunks holding a NaN, a -0.0, nulls in every column,
    a date and a timestamp column and a float32 column; one row is
    deleted. Returns the table dir; the source is the view
    ``parity_src``."""
    out = str(tmp_path_factory.mktemp("parity"))
    src = spark.createDataFrame(
        PARITY_ROWS,
        "id long, score double, s string, d date, ts timestamp, f float")
    encode_table(spark, src, out, url_col="s", n_parts=1, resume=False,
                 detect_skew=False, sort_keys=["id"], chunk_rows=3)
    delete_rows(spark, out, [("id", "==", PARITY_DELETED)])
    src.createOrReplaceTempView("parity_src")
    return out


@pytest.mark.parametrize("reader", ["decode_table", "decode_table_direct",
                                    "read_table_local"])
@pytest.mark.parametrize("pred,sql", PARITY_CASES,
                         ids=[f"{c}{op}{v!r}" for (c, op, v), _ in
                              PARITY_CASES])
def test_readers_agree_with_spark_sql(spark, parity_table, reader, pred,
                                      sql):
    """Every reader returns the rows Spark SQL's WHERE keeps over the
    source DataFrame: NaN is the greatest value, -0.0 equals 0.0, nulls
    match nothing (an ``in`` null member too), float32 compares as
    float64, and date literals may be days since the epoch."""
    want = sorted(r["id"] for r in spark.sql(
        f"SELECT id FROM parity_src WHERE ({sql}) "
        f"AND id <> {PARITY_DELETED}").collect())
    if reader == "read_table_local":
        tbl = read_table_local(parity_table, columns=["id"],
                               predicates=[pred])
        got = sorted(tbl.column("id").to_pylist())
    else:
        fn = decode_table if reader == "decode_table" else decode_table_direct
        got = sorted(r["id"] for r in fn(
            spark, parity_table, columns=["id"], predicates=[pred]).collect())
    assert got == want
