"""Spark-free LOCAL reader for the engine's encoded tables.

``read_table_local`` reconstructs an encoded table (or a projection /
filtered slice of it) into a ``pyarrow.Table`` with NO SparkSession —
pure pyarrow + the codec kernels. This is the table-level analog of the
reference's local decompress call (``cuszplus_decompress`` is an
in-process function, src/cuda_float_compress.cpp:88-91): a tool, test,
or downstream service can pull a small extract without paying a JVM.

The table's metadata comes from ``snapshot.Snapshot``, the same object
the Spark decode paths read: the committed ``(part_id, run_id)`` pairs
under ``as_of``, the union schema, the live tombstone runs, the block
files and the filesystem (bare paths and ``file://`` alike). Chunks
are pruned by ``operators.decode.prune`` over ``Snapshot.chunk_stats``,
the pruner both Spark readers use (zone maps on every ptype, Bloom
filters for ``==``/``in``); the exact filter then runs on the decoded
rows.

Intended for metadata-scale and extract-scale reads (the driver-side
use case); the 100 TB path is ``decode_table_direct``.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from cuda_float_compress_spark.operators import chunks as Ch
from cuda_float_compress_spark.operators.decode import _STD_ARROW, prune
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
    committed = snap.pairs
    cols = snap.columns
    if columns is not None:
        want_set = set(columns) | {c for c, _, _ in (predicates or [])}
        cols = [(c, p) for c, p in cols if c in want_set]
    ptypes = dict(cols)
    tombs_by_chunk: dict[tuple, list[int]] = {}
    for run in (snap.tombstone_runs if apply_deletes else []):
        t = pq.read_table(f"{snap.root}/{run}", columns=list(ADDRESS_COLS),
                          filesystem=snap.fs)
        for p_, c_, pos in zip(*(t[c].to_pylist() for c in ADDRESS_COLS)):
            tombs_by_chunk.setdefault((p_, c_), []).append(pos)

    # the zone maps / Bloom filters prune chunks; everything is ALSO
    # exact-filtered after decode, so pruning is purely an optimization
    keep = prune(snap.chunk_stats, predicates) if predicates else None

    pieces: list[pa.Table] = []
    meta_cols = ["part_id", "chunk_id", "col", "codec", "n", "n_nulls",
                 "params", "run_id", "payload"]
    for path, _ in snap.block_files:
        tbl = pq.ParquetFile(path, filesystem=snap.fs).read(
            columns=meta_cols, use_threads=False,
        )
        part = tbl.column("part_id").to_pylist()
        chunk = tbl.column("chunk_id").to_pylist()
        names = tbl.column("col").to_pylist()
        codecs = tbl.column("codec").to_pylist()
        ns = tbl.column("n").to_pylist()
        nnulls = tbl.column("n_nulls").to_pylist()
        params = tbl.column("params").to_pylist()
        run_ids = tbl.column("run_id").to_pylist()
        payloads = tbl.column("payload")
        by_chunk: dict[tuple, dict] = {}
        chunk_n: dict[tuple, int] = {}
        for i in range(tbl.num_rows):
            key = (part[i], chunk[i])
            if ((committed is not None
                 and (part[i], run_ids[i]) not in committed)
                    or (keep is not None and key not in keep)):
                continue
            chunk_n[key] = ns[i]
            if names[i] in ptypes:
                by_chunk.setdefault(key, {})[names[i]] = i
        for key in sorted(chunk_n):
            colmap = by_chunk.get(key, {})
            n_rows = chunk_n[key]
            out = {}
            for c, ptype in cols:
                i = colmap.get(c)
                if i is None:  # schema evolution: column postdates chunk
                    out[c] = pa.nulls(n_rows, _STD_ARROW[ptype])
                    continue
                arr = Ch.decode_column_chunk(
                    payloads[i].as_py(), codecs[i], params[i],
                    ns[i], nnulls[i], ptype, verify=verify,
                )
                if not arr.type.equals(_STD_ARROW[ptype]):
                    arr = arr.cast(_STD_ARROW[ptype])
                out[c] = arr
            piece = pa.table(out, schema=pa.schema(
                [pa.field(c, _STD_ARROW[p]) for c, p in cols]))
            gone = tombs_by_chunk.get(key)
            if gone:
                m = np.ones(n_rows, dtype=bool)
                m[[g for g in gone if g < n_rows]] = False
                piece = piece.filter(pa.array(m))
            pieces.append(piece)

    schema = pa.schema([pa.field(c, _STD_ARROW[p]) for c, p in cols])
    full = (pa.concat_tables(pieces) if pieces
            else pa.table({c: pa.nulls(0, _STD_ARROW[p])
                           for c, p in cols}, schema=schema))
    if predicates:
        mask = _exact_mask(full, predicates, ptypes)
        if mask is not None:
            full = full.filter(mask)
    if columns is not None:
        full = full.select(columns)
    return full
