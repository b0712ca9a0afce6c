"""Merge-on-read row deletes for the engine's OWN encoded tables.

A 100 TB corpus store needs takedown/PII deletes without rewriting the
table. The engine's stable row address is ``(part_id, chunk_id, pos)`` —
``committed_blocks`` guarantees at most one committed run per part, and
chunk payloads are immutable once committed — so a delete is a TOMBSTONE
row carrying that address, the same shape as an Iceberg v2 position
delete (sources/iceberg.py read_scan_plan applies those for foreign
tables; this module is the native twin for the engine's block format).

Mechanics:

* :func:`delete_rows` runs one decode pass restricted to the predicate
  columns (zone maps / Bloom filters prune chunks first) and writes the
  matching addresses as parquet under ``<table>/deletes/run-<id>/`` —
  a fully distributed job: only row ADDRESSES cross the wire, never row
  data, and the Spark job-commit ``_SUCCESS`` marker makes the tombstone
  set atomic (readers ignore half-written delete dirs).
* The Spark decode transport (``decode.decode_table``) anti-joins
  committed tombstones on the address key; AQE broadcasts the tombstone
  side when it is small (the common case). ``read_table_local`` drops
  them per chunk in the chunk assembler.
* :func:`~cuda_float_compress_spark.operators.maintain.compact`
  MATERIALIZES tombstones — deleted rows are physically dropped and the
  compacted table starts with an empty delete set.

The reference (catid/cuda_float_compress) has no table maintenance at
all; this extends the engine's lakehouse surface the way Iceberg v2
added merge-on-read to immutable data files.
"""

from __future__ import annotations

import uuid

import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cuda_float_compress_spark.snapshot import Snapshot

__all__ = ["delete_rows", "delete_rows_by_keys", "tombstones_df",
           "ADDRESS_COLS"]

ADDRESS_COLS = ("_part_id", "_chunk_id", "_pos")
TOMBSTONE_SCHEMA = "_part_id int, _chunk_id bigint, _pos bigint"


def tombstones_df(spark: SparkSession, out_dir: str,
                  as_of: float | None = None) -> DataFrame | None:
    """Committed tombstones of an encoded table, or None when there are
    none. Only delete runs whose Spark job committed (``_SUCCESS``) are
    trusted — a crashed delete_rows leaves an inert partial dir.

    ``as_of`` scopes deletes in time (the Iceberg sequence-number rule
    for position deletes): a snapshot read dated BEFORE a delete
    committed must still see the rows (see ``snapshot.Snapshot``)."""
    return _tombstones(spark, Snapshot.resolve(out_dir, as_of=as_of))


def _tombstones(spark: SparkSession, snap: Snapshot) -> DataFrame | None:
    if not snap.tombstone_runs:
        return None
    # delete_rows and merge_rows write exactly these types; an explicit
    # schema spares the schema-merge job
    return spark.read.schema(TOMBSTONE_SCHEMA).parquet(
        *(f"{snap.out_dir}/{run}" for run in snap.tombstone_runs)
    )


def anti_join_tombstones(decoded: DataFrame, tombs: DataFrame) -> DataFrame:
    """Drop tombstoned rows from a decode carrying the address columns.
    Equi-key anti-join — AQE broadcasts the (usually tiny) tombstone
    side; at worst it is a shuffle on the address key only."""
    return decoded.join(
        tombs.withColumnsRenamed(
            {"_part_id": "__t_part", "_chunk_id": "__t_chunk",
             "_pos": "__t_pos"}
        ),
        (decoded["_part_id"] == F.col("__t_part"))
        & (decoded["_chunk_id"] == F.col("__t_chunk"))
        & (decoded["_pos"] == F.col("__t_pos")),
        "left_anti",
    )


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
    ).select(*ADDRESS_COLS)
    return _commit_tombstones(spark, out_dir, addr, run_id)


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
    One decode pass over the key column semi-joins the list (AQE
    broadcasts it when small; otherwise a shuffle on the key only — row
    payloads never move). Rows already deleted are not re-tombstoned."""
    from cuda_float_compress_spark.operators.decode import decode_table

    run_id = run_id or uuid.uuid4().hex[:12]
    addr = (
        decode_table(spark, out_dir, columns=[key_col],
                     with_row_address=True)
        .join(keys.select(key_col).distinct(), key_col, "left_semi")
        .select(*ADDRESS_COLS)
    )
    return _commit_tombstones(spark, out_dir, addr, run_id)


def _commit_tombstones(spark, out_dir: str, addr: DataFrame,
                       run_id: str) -> dict:
    import time

    rel = f"deletes/run-{run_id}"
    addr.withColumn("committed_at", F.lit(time.time())).write.parquet(
        f"{out_dir}/{rel}")
    return {"run_id": run_id, "tombstones": footer_rows(out_dir, rel)}


def footer_rows(out_dir: str, rel: str) -> int:
    """Rows of the parquet dir ``rel`` (relative to the table root), from
    the file footers alone: no Spark job, no data read."""
    snap = Snapshot.resolve(out_dir)
    return ds.dataset(f"{snap.root}/{rel}", filesystem=snap.fs,
                      format="parquet").count_rows()
