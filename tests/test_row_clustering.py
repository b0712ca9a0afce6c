"""Each chunk's rows are clustered by its low-cardinality string columns
before encoding (``encode._cluster_rows``). Only the payloads and the
stored row order inside a chunk may change: chunk membership, stats and
Bloom filters stay what the unclustered encode writes."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark import cloudpickle
from pyspark.sql import functions as F

from cuda_float_compress_spark.localio import read_table_local
from cuda_float_compress_spark.operators import encode as E
from cuda_float_compress_spark.operators.decode import decode_table
from cuda_float_compress_spark.operators.deletes import delete_rows_by_keys
from cuda_float_compress_spark.operators.direct import encode_table_direct
from cuda_float_compress_spark.operators.maintain import reencode_columns
from cuda_float_compress_spark.table import generate_webpages_df

STAT_COLS = ["part_id", "chunk_id", "col", "n", "n_nulls", "vmin", "vmax",
             "vsum", "bloom"]
PAYLOAD_COLS = ["part_id", "chunk_id", "col", "codec", "payload"]
ROWS = 12_000


@pytest.fixture(scope="module")
def web_src(spark, tmp_path_factory):
    """A web table whose ``lang`` column has nulls, in 3 files."""
    src = str(tmp_path_factory.mktemp("cluster") / "src")
    df = generate_webpages_df(spark, ROWS, partitions=3)
    df.withColumn("lang", F.when(F.xxhash64("url") % 7 == 0, F.lit(None))
                  .otherwise(F.col("lang"))).write.parquet(src)
    return src


def _encode(spark, writer: str, src: str, out: str, unclustered: bool,
            monkeypatch) -> None:
    if unclustered:
        # the task closures ship encode.py's functions by value while the
        # module is registered, so the identity helper reaches the Python
        # workers without changing their imported module
        monkeypatch.setattr(E, "_cluster_rows", lambda tbl: tbl)
        cloudpickle.register_pickle_by_value(E)
    try:
        if writer == "encode_table_direct":
            encode_table_direct(spark, src, out, resume=False,
                                target_rows_per_split=5000)
        else:
            E.encode_table(spark, spark.read.parquet(src), out, n_parts=4,
                           resume=False, bloom_cols=["url"])
    finally:
        if unclustered:
            cloudpickle.unregister_pickle_by_value(E)
        monkeypatch.undo()


def _block_rows(out: str, cols: list[str]) -> list[tuple]:
    t = pq.read_table(f"{out}/blocks", columns=cols)
    return sorted(zip(*(t[c].to_pylist() for c in cols)),
                  key=lambda r: tuple(map(str, r)))


def _enc_bytes(out: str) -> int:
    return pc.sum(pq.read_table(f"{out}/blocks", columns=["enc_bytes"])[
        "enc_bytes"]).as_py()


def _sorted_rows(tbl: pa.Table) -> pa.Table:
    return tbl.sort_by([("url", "ascending")])


@pytest.mark.parametrize("writer", ["encode_table_direct", "encode_table"])
def test_clustering_changes_only_payloads(spark, tmp_path, monkeypatch,
                                          web_src, writer):
    plain, a, b = (str(tmp_path / n) for n in ("plain", "a", "b"))
    _encode(spark, writer, web_src, plain, True, monkeypatch)
    _encode(spark, writer, web_src, a, False, monkeypatch)
    _encode(spark, writer, web_src, b, False, monkeypatch)

    assert _block_rows(a, STAT_COLS) == _block_rows(plain, STAT_COLS)
    if writer == "encode_table":
        assert all(r[-1] is not None
                   for r in _block_rows(a, STAT_COLS) if r[2] == "url")
    source = _sorted_rows(pq.read_table(web_src))
    got, ref = read_table_local(a), read_table_local(plain)
    assert got.num_rows == ref.num_rows == ROWS
    assert _sorted_rows(got).select(source.column_names).equals(
        _sorted_rows(ref).select(source.column_names))
    assert _enc_bytes(a) < _enc_bytes(plain)
    assert _block_rows(a, PAYLOAD_COLS) == _block_rows(b, PAYLOAD_COLS)

    keys = source["url"].to_pylist()[::ROWS // 50][:50]
    delete_rows_by_keys(spark, a, "url",
                        spark.createDataFrame([(k,) for k in keys], "url string"))
    left = read_table_local(a)
    assert left.num_rows == ROWS - 50
    assert not set(keys) & set(left["url"].to_pylist())
    kept = _sorted_rows(got.filter(pc.invert(pc.is_in(
        got["url"], value_set=pa.array(keys)))))
    assert _sorted_rows(left).equals(kept)


def test_reencode_keeps_rows_aligned_on_clustered_table(spark, tmp_path,
                                                        web_src):
    """reencode_columns re-encodes single columns of kept chunks; the
    rows of the re-encoded column must stay at the addresses of the
    stored (clustered) order."""
    enc1, enc2 = str(tmp_path / "enc1"), str(tmp_path / "enc2")
    encode_table_direct(spark, web_src, enc1, resume=False,
                        target_rows_per_split=5000)
    reencode_columns(spark, enc1, enc2, {"lang": "bytes_rle"})
    assert "bytes_rle" in pq.read_table(
        f"{enc2}/blocks", filters=[("col", "==", "lang")])["codec"].to_pylist()

    def rows(out):
        return (decode_table(spark, out, with_row_address=True)
                .orderBy("_part_id", "_chunk_id", "_pos").toArrow())

    before, after = rows(enc1), rows(enc2)
    assert before.num_rows == ROWS
    assert after.equals(before)
    # the table is clustered: each chunk stores its rows lang-sorted
    for (p, c), lang in _per_chunk(before, "lang").items():
        assert lang == sorted(lang, key=lambda v: (v is None, v)), (p, c)


def _per_chunk(tbl: pa.Table, col: str) -> dict[tuple, list]:
    out: dict[tuple, list] = {}
    for p, c, v in zip(tbl["_part_id"].to_pylist(),
                       tbl["_chunk_id"].to_pylist(), tbl[col].to_pylist()):
        out.setdefault((p, c), []).append(v)
    return out
