"""Two-level pruning: ``qualifying_parts`` prunes the manifest's chunk
stats by part, dropping whole parts, and the reads stay exact."""
from __future__ import annotations

import pytest

from cuda_float_compress_spark.operators.decode import (
    decode_table,
    qualifying_parts,
)
from cuda_float_compress_spark.operators.direct import decode_table_direct
from cuda_float_compress_spark.operators.encode import encode_table


@pytest.fixture()
def two_range_table(spark, tmp_path):
    """Two append runs with DISJOINT v ranges: run1 parts hold v in
    [0,1000), run2 parts v in [1000,2000)."""
    out = str(tmp_path / "enc2l")
    r1 = spark.createDataFrame(
        [(i, f"doc://a/{i}", i) for i in range(1000)],
        "doc_id: long, url: string, v: long",
    )
    encode_table(spark, r1, out, n_parts=2, resume=False,
                 sort_keys=["v"], chunk_rows=100)
    r2 = spark.createDataFrame(
        [(i, f"doc://b/{i}", 1000 + i) for i in range(1000)],
        "doc_id: long, url: string, v: long",
    )
    encode_table(spark, r2, out, n_parts=2, resume=False,
                 sort_keys=["v"], chunk_rows=100, part_offset=100)
    return out


def test_part_level_pruning_drops_whole_parts(spark, two_range_table):
    out = two_range_table
    parts = qualifying_parts(spark, out, [("v", ">=", 1500)])
    assert parts is not None
    assert set(parts) <= {100, 101}, parts  # run1's parts 0,1 pruned
    # both decode paths stay exact through the two-level prune
    got_d = sorted(
        r["v"] for r in decode_table_direct(
            spark, out, columns=["v"], predicates=[("v", ">=", 1500)]
        ).collect()
    )
    got_s = sorted(
        r["v"] for r in decode_table(
            spark, out, columns=["v"], predicates=[("v", ">=", 1500)]
        ).collect()
    )
    assert got_d == got_s == list(range(1500, 2000))


def test_equality_and_in_part_pruning(spark, two_range_table):
    out = two_range_table
    assert set(qualifying_parts(spark, out, [("v", "==", 42)])) <= {0, 1}
    both = set(qualifying_parts(spark, out, [("v", "in", [42, 1999])]))
    assert both <= {0, 1, 100, 101}
    assert both & {0, 1} and both & {100, 101}  # a part from each range
    none = qualifying_parts(spark, out, [("v", ">=", 5000)])
    assert none == []
