"""Metadata-only aggregation (operators/metadata_agg): count/sum/min/max
from chunk statistics alone — no payload decode — with transparent decode
fallback when deletes or overflowed chunk sums make the metadata
unsafe."""
from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from cuda_float_compress_spark.operators.encode import encode_table
from cuda_float_compress_spark.operators.metadata_agg import agg_int_column


@pytest.fixture()
def enc_docs(spark, tmp_path):
    out = str(tmp_path / "enc")
    rows = [(i, f"doc://d/{i}", (i * 37) % 500 - 100 if i % 11 else None)
            for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id: long, url: string, v: long")
    encode_table(spark, df, out, n_parts=4, resume=False,
                 sort_keys=["doc_id"], chunk_rows=128)
    return out, rows


def _expected(rows):
    vals = [v for _, _, v in rows if v is not None]
    return (len(rows), len(rows) - len(vals), sum(vals), min(vals), max(vals))


def test_metadata_agg_matches_and_never_decodes(spark, enc_docs, monkeypatch):
    out, rows = enc_docs
    import cuda_float_compress_spark.operators.decode as decode_mod

    def _boom(*a, **k):
        raise AssertionError("metadata path must not decode payloads")

    monkeypatch.setattr(decode_mod, "decode_table", _boom)
    got = agg_int_column(spark, out, "v").collect()[0]
    assert (got["n_rows"], got["n_nulls"], got["sum"], got["min"],
            got["max"]) == _expected(rows)


def test_metadata_agg_falls_back_after_delete(spark, enc_docs):
    out, rows = enc_docs
    from cuda_float_compress_spark.operators.deletes import delete_rows

    delete_rows(spark, out, [("v", ">=", 300)])
    kept = [(d, u, v) for d, u, v in rows if v is None or v < 300]
    got = agg_int_column(spark, out, "v").collect()[0]
    assert (got["n_rows"], got["n_nulls"], got["sum"], got["min"],
            got["max"]) == _expected(kept)


def test_null_chunk_sum_falls_back_to_decode(spark, enc_docs, monkeypatch):
    """A chunk holding values whose ``vsum`` is null (its sum left the
    int64 domain) cannot give a sum from metadata. With ``vsum`` nulled
    in the manifest rows of one block file, the column kept, the
    operator decodes once and still answers exactly."""
    out, rows = enc_docs
    (f,) = glob.glob(os.path.join(out, "manifest", "*.parquet"))
    tbl = pq.read_table(f)
    one = pc.equal(tbl["file"], sorted(tbl["file"].to_pylist())[0])
    pq.write_table(tbl.set_column(
        tbl.schema.get_field_index("vsum"), "vsum",
        pc.if_else(one, pa.nulls(tbl.num_rows, pa.int64()), tbl["vsum"])), f)
    import cuda_float_compress_spark.operators.decode as decode_mod

    calls = []
    real = decode_mod.decode_table

    def spy(*a, **k):
        calls.append(k)
        return real(*a, **k)

    monkeypatch.setattr(decode_mod, "decode_table", spy)
    got = agg_int_column(spark, out, "v").collect()[0]
    assert (got["n_rows"], got["n_nulls"], got["sum"], got["min"],
            got["max"]) == _expected(rows)
    assert len(calls) == 1


def test_block_file_without_vsum_refused(spark, enc_docs):
    """A manifest file without the ``vsum``/``bloom`` columns breaks the
    table layout: the read raises ``KeyError`` instead of answering from
    stats that lack the sums."""
    out, _ = enc_docs
    (f,) = glob.glob(os.path.join(out, "manifest", "*.parquet"))
    tbl = pq.read_table(f)
    pq.write_table(tbl.drop_columns(["vsum", "bloom"]), f)
    with pytest.raises(KeyError, match="vsum"):
        agg_int_column(spark, out, "v").collect()


def test_overflowing_chunk_sum_stores_null():
    from cuda_float_compress_spark.operators.encode import (
        _encode_chunk_to_rows,
    )

    big = pa.table({"x": pa.array([2 ** 62, 2 ** 62, 2 ** 62, 2 ** 62],
                                  pa.int64())})
    rb = _encode_chunk_to_rows(big, 0, 0, {}, None)
    assert rb.column(rb.schema.get_field_index("vsum"))[0].as_py() is None
    ok = pa.table({"x": pa.array([5, -3, None], pa.int64())})
    rb2 = _encode_chunk_to_rows(ok, 0, 0, {}, None)
    assert rb2.column(rb2.schema.get_field_index("vsum"))[0].as_py() == 2


def test_predicate_agg_covered_plus_boundary(spark, tmp_path, monkeypatch):
    """Range-restricted aggregate on a sorted table: interior chunks are
    COVERED (metadata contributes their stats), only the two edge chunks
    decode — proven by counting decode invocations — and the combined
    answer is exact."""
    out = str(tmp_path / "enc_sorted")
    rows = [(i, f"doc://d/{i}", i) for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id: long, url: string, v: long")
    encode_table(spark, df, out, n_parts=1, resume=False,
                 sort_keys=["v"], chunk_rows=100)

    import cuda_float_compress_spark.operators.decode as decode_mod
    calls = []
    real = decode_mod.decode_table

    def spy(*a, **k):
        calls.append(k.get("chunk_keys"))
        return real(*a, **k)

    monkeypatch.setattr(decode_mod, "decode_table", spy)
    got = agg_int_column(
        spark, out, "v", predicates=[("v", ">=", 150), ("v", "<", 1850)]
    ).collect()[0]
    vals = [v for _, _, v in rows if 150 <= v < 1850]
    assert (got["n_rows"], got["n_nulls"], got["sum"], got["min"],
            got["max"]) == (len(vals), 0, sum(vals), 150, 1849)
    # exactly one decode call, restricted to the two boundary chunks
    assert len(calls) == 1 and calls[0] is not None
    assert len(calls[0]) == 2, calls[0]


def test_predicate_agg_on_other_column(spark, tmp_path):
    """Predicate column != aggregate column: coverage comes from the
    predicate column's stats, sums from the aggregate column's."""
    out = str(tmp_path / "enc_two")
    rows = [(i, f"doc://d/{i}", i, (i * 13) % 777) for i in range(1500)]
    df = spark.createDataFrame(
        rows, "doc_id: long, url: string, t: long, v: long"
    )
    encode_table(spark, df, out, n_parts=2, resume=False,
                 sort_keys=["t"], chunk_rows=128)
    got = agg_int_column(
        spark, out, "v", predicates=[("t", ">=", 400)]
    ).collect()[0]
    vals = [v for _, _, t, v in rows if t >= 400]
    assert (got["n_rows"], got["sum"], got["min"], got["max"]) == (
        len(vals), sum(vals), min(vals), max(vals)
    )


def test_predicate_agg_string_predicate_still_exact(spark, tmp_path):
    """String predicates yield no covered chunks (prefix stats are not
    exact) — everything routes through the decode path, still correct."""
    out = str(tmp_path / "enc_str")
    rows = [(i, f"doc://d/{i}", ["en", "de"][i % 2], i) for i in range(600)]
    df = spark.createDataFrame(
        rows, "doc_id: long, url: string, lang: string, v: long"
    )
    encode_table(spark, df, out, n_parts=2, resume=False,
                 sort_keys=["doc_id"], chunk_rows=64)
    got = agg_int_column(
        spark, out, "v", predicates=[("lang", "==", "de")]
    ).collect()[0]
    vals = [v for _, _, lg, v in rows if lg == "de"]
    assert (got["n_rows"], got["sum"]) == (len(vals), sum(vals))
