"""Spark-free LOCAL reader for the engine's encoded tables.

``read_table_local`` reconstructs an encoded table (or a projection /
filtered slice of it) into a ``pyarrow.Table`` with NO SparkSession —
pure pyarrow + the codec kernels. This is the table-level analog of the
reference's local decompress call (``cuszplus_decompress`` is an
in-process function, src/cuda_float_compress.cpp:88-91): a tool, test,
or downstream service can pull a small extract without paying a JVM.

The table's metadata comes from ``snapshot.Snapshot``, the same object
the Spark decode transport reads: the committed ``(part_id, run_id)``
pairs under ``as_of``, the union schema, the live tombstone runs, the
block file groups and the filesystem (bare paths and ``file://``
alike). Chunks are pruned by ``decode.prune`` over
``Snapshot.chunk_stats`` and rebuilt by ``decode.assemble_chunks``, the
pruner and the chunk assembler the Spark transport runs; the exact
filter then runs on the decoded rows.

Intended for metadata-scale and extract-scale reads (the driver-side
use case); the 100 TB path is ``operators.decode.decode_table``.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from cuda_float_compress_spark.operators.decode import (
    _STD_ARROW,
    assemble_chunks,
    kept_groups,
    prune,
    read_group,
)
from cuda_float_compress_spark.operators.deletes import ADDRESS_COLS
from cuda_float_compress_spark.snapshot import Snapshot

__all__ = ["read_table_local"]


def _exact_mask(tbl: pa.Table, predicates: list[tuple],
                ptypes: dict) -> pa.Array | None:
    mask = None
    for col, op, lit in predicates:
        arr = tbl.column(col)
        ts = ptypes.get(col) in ("timestamp_us", "timestamp_ntz")
        if ts and op != "in":
            lit = pa.scalar(lit, type=arr.type)
        if op == "==":
            m = pc.equal(arr, lit)
        elif op == "<":
            m = pc.less(arr, lit)
        elif op == "<=":
            m = pc.less_equal(arr, lit)
        elif op == ">":
            m = pc.greater(arr, lit)
        elif op == ">=":
            m = pc.greater_equal(arr, lit)
        elif op == "in":
            m = pc.is_in(arr, value_set=pa.array(
                list(lit), type=arr.type if ts else None))
        else:
            raise ValueError(f"unsupported predicate op: {op!r}")
        m = pc.fill_null(m, False)
        mask = m if mask is None else pc.and_(mask, m)
    return mask


def read_table_local(
    out_dir: str,
    columns: list[str] | None = None,
    predicates: list[tuple] | None = None,
    as_of: float | None = None,
    apply_deletes: bool = True,
    verify: bool = True,
) -> pa.Table:
    """Decode an encoded table into one in-memory ``pyarrow.Table``
    without Spark. ``predicates`` uses the decode-pushdown language
    ([(col, op, literal)], AND semantics; ops ==, <, <=, >, >=, in)."""
    snap = Snapshot.resolve(out_dir, as_of=as_of)
    cols = snap.columns
    if columns is not None:
        want_set = set(columns) | {c for c, _, _ in (predicates or [])}
        cols = [(c, p) for c, p in cols if c in want_set]
    ptypes = dict(cols)
    deleted: dict[tuple, list[int]] = {}
    for run in (snap.tombstone_runs if apply_deletes else []):
        t = pq.read_table(f"{snap.root}/{run}", columns=list(ADDRESS_COLS),
                          filesystem=snap.fs)
        for p_, c_, pos in zip(*(t[c].to_pylist() for c in ADDRESS_COLS)):
            deleted.setdefault((p_, c_), []).append(pos)

    # the zone maps / Bloom filters prune chunks; everything is ALSO
    # exact-filtered after decode, so pruning is purely an optimization
    keep = prune(snap.chunk_stats, predicates) if predicates else None
    schema = pa.schema([pa.field(c, _STD_ARROW[p]) for c, p in cols])
    pieces = [
        pa.Table.from_arrays(arrays, schema=schema)
        for files in kept_groups(snap, keep)
        for _, _, _, arrays in assemble_chunks(
            read_group(snap.fs, [p for p, _ in files]), cols, snap.pairs,
            keep, deleted, verify)
    ]
    full = pa.concat_tables(pieces) if pieces else schema.empty_table()
    if predicates:
        mask = _exact_mask(full, predicates, ptypes)
        if mask is not None:
            full = full.filter(mask)
    if columns is not None:
        full = full.select(columns)
    return full
