from __future__ import annotations

import shutil

import pytest


@pytest.fixture(scope="session")
def spark():
    from cuda_float_compress_spark.session import get_spark

    s = get_spark(app="tests", cores=8, shuffle_partitions=8, driver_memory="8g")
    yield s
    s.stop()


@pytest.fixture()
def scratch(tmp_path):
    d = tmp_path / "out"
    yield str(d)
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture()
def read_cols_count(spark):
    """read(reader, path, **kw) -> (column names, row count) of a full read
    through ``decode_table``, ``decode_table_direct`` or
    ``read_table_local``, named as a string."""
    from cuda_float_compress_spark.localio import read_table_local
    from cuda_float_compress_spark.operators.decode import decode_table
    from cuda_float_compress_spark.operators.direct import decode_table_direct

    def read(reader: str, path: str, **kw):
        if reader == "read_table_local":
            tbl = read_table_local(path, **kw)
            return tbl.column_names, tbl.num_rows
        fn = decode_table if reader == "decode_table" else decode_table_direct
        df = fn(spark, path, **kw)
        return df.columns, df.count()

    return read
