"""MERGE (upsert) for the engine's own encoded tables.

``merge_rows`` gives the encoded block format Iceberg-``MERGE INTO``
semantics by composing the two primitives the table already has:

* the NEW versions land as a fresh append run (``encode_table`` with a
  disjoint ``part_offset`` — exactly how streaming ingest appends
  epochs, streaming/jobs.py:364-411);
* the OLD versions are merge-on-read position tombstones
  (operators/deletes), so no existing payload is rewritten — at 100 TB
  an upsert of 0.01% of rows touches 0.01% of the data plus a
  key-column-only address scan, never the table.

Crash/visibility contract (single writer, no transaction log):

1. The old-version addresses are collected to the driver FIRST, before
   the append, so the new run's own rows can never be tombstoned.
2. The update rows are appended and their lineage committed. From here
   a concurrent reader sees at worst BOTH versions of an updated row
   (transient duplicates), never a missing row.
3. ``deletes.commit_tombstones`` commits the addresses as one delete
   run stamped with the new run's lineage ``finished_at``: the old
   versions retire.

A crash before step 3's ``_SUCCESS`` marker leaves duplicates, not data
loss, and an inert run dir that ``maintain.vacuum`` reclaims. Re-running
the same merge heals: its address scan sees BOTH stale copies (the
original and the orphaned append) and tombstones both before appending
again.

The reference (catid/cuda_float_compress) is compress/decompress only —
no row identity, no updates (src/cuda_float_compress.cpp:88-91 is the
whole API); this is part of the lakehouse surface the north rule's
Iceberg-style table store needs.
"""

from __future__ import annotations

import uuid

import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession

from cuda_float_compress_spark.operators.deletes import (
    commit_tombstones,
    key_addresses,
)
from cuda_float_compress_spark.snapshot import Snapshot

__all__ = ["merge_rows"]


def merge_rows(
    spark: SparkSession,
    out_dir: str,
    updates: DataFrame,
    key_col: str = "url",
    url_col: str = "url",
    n_parts: int = 8,
    sort_keys: list[str] | None = None,
    run_id: str | None = None,
) -> dict:
    """Upsert ``updates`` into the encoded table at ``out_dir``: rows whose
    ``key_col`` already exists are replaced (old version tombstoned, new
    version appended); unseen keys are plain inserts. ``updates`` must be
    key-unique — two versions of the same key in one call would both
    survive, so that is refused up front, on the keys collected to the
    driver (one Spark job; the address scan semi-joins the same keys).

    Returns {'run_id', 'appended', 'tombstones', 'part_offset'}.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    from cuda_float_compress_spark.operators.encode import encode_table

    keys = updates.select(key_col).toArrow()
    dups = keys.num_rows - pc.count_distinct(keys[key_col]).as_py()
    if dups:
        raise ValueError(
            f"updates carry {dups} duplicate {key_col!r} keys; "
            "merge_rows needs one version per key"
        )

    # 1. old-version addresses, collected BEFORE the append
    addr = key_addresses(spark, out_dir, key_col,
                         spark.createDataFrame(keys))

    # 2. append the new versions as their own run on a disjoint part range
    committed = Snapshot.resolve(out_dir).committed_rows
    max_part = (pc.max(committed["part_id"]).as_py()
                if committed is not None else None)
    part_offset = int(max_part) + 1 if max_part is not None else 0
    enc = encode_table(
        spark, updates, out_dir, url_col=url_col, n_parts=n_parts,
        sort_keys=sort_keys, resume=False, detect_skew=False,
        part_offset=part_offset, run_id=run_id,
    )

    # 3. stamp the tombstones with the new run's lineage finished_at, so
    #    they and the replacement rows appear at the same as_of instant
    #    (no snapshot shows both versions, or neither)
    lin = Snapshot.resolve(out_dir).committed_rows
    finished_at = pc.max(
        lin.filter(pc.equal(lin["run_id"], run_id))["finished_at"]
    ).as_py()
    return {
        "run_id": run_id,
        "appended": keys.num_rows,
        "tombstones": commit_tombstones(out_dir, run_id, addr, finished_at),
        "part_offset": part_offset,
        "encode": enc,
    }
