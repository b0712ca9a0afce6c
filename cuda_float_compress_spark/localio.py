"""Spark-free LOCAL reader for the engine's encoded tables.

``read_table_local`` reconstructs an encoded table (or a projection /
filtered slice of it) into a ``pyarrow.Table`` with NO SparkSession —
pure pyarrow + the codec kernels. This is the table-level analog of the
reference's local decompress call (``cuszplus_decompress`` is an
in-process function, src/cuda_float_compress.cpp:88-91): a tool, test,
or downstream service can pull a small extract without paying a JVM.

The table's metadata comes from ``snapshot.Snapshot``, the same object
the Spark decode transport reads: the committed ``(part_id, run_id)``
pairs under ``as_of``, the union schema, the deleted row positions, the
block files and the filesystem (bare paths and ``file://``
alike). Chunks are pruned by ``decode.prune`` over
``Snapshot.chunk_stats`` and rebuilt by ``decode.assemble_chunks``, the
pruner and the chunk assembler the Spark transport runs. The assembler
also drops deleted rows and applies the exact row filter,
``decode.exact_mask``, so a local read returns the rows the Spark
reader does.

Intended for metadata-scale and extract-scale reads (the driver-side
use case); the 100 TB path is ``operators.decode.decode_table``.
"""

from __future__ import annotations

import pyarrow as pa

from cuda_float_compress_spark.operators.decode import (
    _STD_ARROW,
    assemble_chunks,
    kept_groups,
    prune,
    read_columns,
    read_group,
)
from cuda_float_compress_spark.snapshot import Snapshot

__all__ = ["read_table_local"]


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
    ([(col, op, literal)], AND semantics; ops ==, =, <, <=, >, >=, in)
    and keeps the rows ``decode.decode_table`` keeps; ``columns`` is
    read as there (order kept, an unknown column raises ``ValueError``)."""
    snap = Snapshot.resolve(out_dir, as_of=as_of)
    cols, out = read_columns(snap.columns, columns, predicates)
    deleted = snap.deleted_positions if apply_deletes else None

    # the zone maps / Bloom filters prune chunks; the assembler ALSO
    # filters the decoded rows, so pruning is purely an optimization
    keep = prune(snap.chunk_stats, predicates) if predicates else None
    schema = pa.schema([pa.field(c, _STD_ARROW[p])
                        for c, p in (cols[i] for i in out)])
    pieces = [
        pa.Table.from_arrays([arrays[i] for i in out], schema=schema)
        for path, *_ in kept_groups(snap, keep)
        for _, _, _, arrays in assemble_chunks(
            read_group(snap.fs, path), cols, snap.pairs,
            keep, deleted, verify, predicates=predicates)
    ]
    return pa.concat_tables(pieces) if pieces else schema.empty_table()
