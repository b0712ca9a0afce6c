"""Merge-on-read row deletes for the engine's OWN encoded tables.

A 100 TB corpus store needs takedown/PII deletes without rewriting the
table. The engine's stable row address is ``(part_id, chunk_id, pos)`` —
``encode.commit_blocks`` commits at most one run per part, and
chunk payloads are immutable once committed — so a delete is a TOMBSTONE
row carrying that address, the same shape as an Iceberg v2 position
delete (sources/iceberg.py read_scan_plan applies those for foreign
tables; this module is the native twin for the engine's block format).

Mechanics:

* :func:`delete_rows` runs one decode pass restricted to the predicate
  columns (zone maps / Bloom filters prune chunks first) and collects
  the matching ADDRESSES, never row data, to the driver, which holds
  all live tombstones on every read anyway. :func:`commit_tombstones`
  writes them as ``deletes/run-<id>/part-0.parquet``, then an empty
  ``_SUCCESS``: readers trust only marked runs, and nothing is renamed.
* Every reader (``decode.decode_table``, ``read_table_local`` and
  ``compact``) drops committed tombstones per chunk in the chunk
  assembler, ``decode.assemble_chunks``, from the positions
  ``Snapshot.deleted_positions`` reads: no join runs on a read. The
  Spark readers ship each file group's positions in that group's task
  row (``decode.group_frame``), so a task receives only its own.
* :func:`~cuda_float_compress_spark.operators.maintain.compact`
  MATERIALIZES tombstones — deleted rows are physically dropped and the
  compacted table starts with an empty delete set.

The reference (catid/cuda_float_compress) has no table maintenance at
all; this extends the engine's lakehouse surface the way Iceberg v2
added merge-on-read to immutable data files.
"""

from __future__ import annotations

import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from cuda_float_compress_spark.snapshot import (
    ADDRESS_COLS,
    ADDRESS_SCHEMA,
    Snapshot,
    _exists,
)

__all__ = ["delete_rows", "delete_rows_by_keys", "commit_tombstones",
           "key_addresses", "ADDRESS_COLS"]


def delete_rows(
    spark: SparkSession,
    out_dir: str,
    predicates: list[tuple],
    run_id: str | None = None,
) -> dict:
    """Tombstone every row of the encoded table matching ``predicates``
    ([(col, op, literal)] — the decode-pushdown predicate language, so
    zone maps / Bloom filters prune the scan to candidate chunks).

    Already-deleted rows are not re-tombstoned (the address scan itself
    applies existing tombstones). Returns {'run_id', 'tombstones'}."""
    from cuda_float_compress_spark.operators.decode import decode_table

    if not predicates:
        raise ValueError("delete_rows requires at least one predicate")
    run_id = run_id or uuid.uuid4().hex[:12]
    pred_cols = sorted({c for c, _, _ in predicates})
    addr = decode_table(
        spark, out_dir, columns=pred_cols, predicates=predicates,
        with_row_address=True,
    ).select(*ADDRESS_COLS).toArrow()
    return {"run_id": run_id, "tombstones": commit_tombstones(
        out_dir, run_id, addr, time.time())}


def delete_rows_by_keys(
    spark: SparkSession,
    out_dir: str,
    key_col: str,
    keys: DataFrame,
    run_id: str | None = None,
) -> dict:
    """Tombstone every row whose ``key_col`` appears in ``keys`` (a
    DataFrame with that one column) — the takedown-list shape: the list
    can be millions of rows, beyond what an IN-list predicate can carry.
    Rows already deleted are not re-tombstoned."""
    run_id = run_id or uuid.uuid4().hex[:12]
    addr = key_addresses(spark, out_dir, key_col,
                         keys.select(key_col).distinct())
    return {"run_id": run_id, "tombstones": commit_tombstones(
        out_dir, run_id, addr, time.time())}


def key_addresses(spark: SparkSession, out_dir: str, key_col: str,
                  keys: DataFrame) -> pa.Table:
    """The addresses of the live rows whose ``key_col`` appears in
    ``keys`` (distinct values of that one column), collected to the
    driver. One decode pass over the key column semi-joins the keys (AQE
    broadcasts them when small; otherwise a shuffle on the key only —
    row payloads never move)."""
    from cuda_float_compress_spark.operators.decode import decode_table

    return (
        decode_table(spark, out_dir, columns=[key_col],
                     with_row_address=True)
        .join(keys, key_col, "left_semi")
        .select(*ADDRESS_COLS)
        .toArrow()
    )


def commit_tombstones(out_dir: str, run_id: str, addr: pa.Table,
                      committed_at: float) -> int:
    """Commit ``addr`` (``_part_id, _chunk_id, _pos`` rows) as the delete
    run ``deletes/run-<run_id>``, stamped ``committed_at`` (the ``as_of``
    time scope); return its row count. The one writer of tombstones: one
    parquet file, then the empty ``_SUCCESS`` marker, its commit point.
    An empty ``addr`` still commits an (empty) run."""
    snap = Snapshot.resolve(out_dir)
    fs, run = snap.fs, f"{snap.root}/deletes/run-{run_id}"
    if _exists(fs, run):
        raise ValueError(f"{out_dir} already holds delete run {run_id!r}")
    fs.create_dir(run)
    n = addr.num_rows
    pq.write_table(addr.cast(ADDRESS_SCHEMA).append_column(
        "committed_at", pa.repeat(pa.scalar(committed_at, pa.float64()), n)),
        f"{run}/part-0.parquet", filesystem=fs)
    _mark_committed(fs, run)
    return n


def _mark_committed(fs, run: str) -> None:
    # written last: readers trust a run only once this marker exists
    fs.open_output_stream(f"{run}/_SUCCESS").close()
