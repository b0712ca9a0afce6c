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

1. The old-version addresses are scanned FIRST (before the append, so
   the new run's own rows can never be tombstoned) and materialized to
   ``deletes/_staging-<id>`` — an UNCOMMITTED location that readers
   ignore (tombstones_df only trusts ``run-*`` dirs).
2. The update rows are appended and their lineage committed. From here
   a concurrent reader sees at worst BOTH versions of an updated row
   (transient duplicates), never a missing row.
3. The staging dir is renamed to ``deletes/run-<id>`` — the atomic
   publish that retires the old versions.

A crash between 2 and 3 leaves duplicates, not data loss, and re-running
the same merge heals: the re-run's address scan sees BOTH stale copies
(the original and the orphaned append) and tombstones both before
appending again. Stale ``_staging-*`` dirs are inert and swept here.

The reference (catid/cuda_float_compress) is compress/decompress only —
no row identity, no updates (src/cuda_float_compress.cpp:88-91 is the
whole API); this is part of the lakehouse surface the north rule's
Iceberg-style table store needs.
"""

from __future__ import annotations

import uuid

import pyarrow.compute as pc
import pyarrow.fs as pafs
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cuda_float_compress_spark.operators.deletes import (
    ADDRESS_COLS,
    TOMBSTONE_SCHEMA,
    footer_rows,
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
    survive, so that is refused up front (one count/distinct aggregate).

    Returns {'run_id', 'appended', 'tombstones', 'part_offset'}.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    from cuda_float_compress_spark.operators.decode import decode_table
    from cuda_float_compress_spark.operators.encode import encode_table

    counts = updates.agg(
        F.count("*").alias("n"),
        F.count_distinct(F.col(key_col)).alias("nd"),
    ).collect()[0]
    if counts["n"] != counts["nd"]:
        raise ValueError(
            f"updates carry {counts['n'] - counts['nd']} duplicate "
            f"{key_col!r} keys; merge_rows needs one version per key"
        )

    # sweep staging dirs abandoned by crashed merges (inert to readers)
    snap = Snapshot.resolve(out_dir)
    fs, deletes = snap.fs, f"{snap.root}/deletes"
    for stale in fs.get_file_info(pafs.FileSelector(
            deletes, allow_not_found=True)):
        if stale.base_name.startswith("_staging-"):
            fs.delete_dir(stale.path)

    # 1. old-version addresses, BEFORE the append — materialized so the
    #    lazy plan can never be re-evaluated against the post-append table
    staging = f"deletes/_staging-{run_id}"
    addr = (
        decode_table(spark, out_dir, columns=[key_col],
                     with_row_address=True)
        .join(updates.select(key_col).distinct(), key_col, "left_semi")
        .select(*ADDRESS_COLS)
        # committed_at (the as_of time-scope) is deliberately NOT stamped
        # here: a staging-time stamp would predate the new run's lineage
        # commit, and any as_of inside [stamp, encode finished_at) would
        # apply the tombstones without seeing the replacement rows —
        # updated keys would vanish from that snapshot. Stamped in step 3.
    )
    addr.write.parquet(f"{out_dir}/{staging}")
    n_tomb = footer_rows(out_dir, staging)

    # 2. append the new versions as their own run on a disjoint part range
    committed = snap.committed_rows
    max_part = (pc.max(committed["part_id"]).as_py()
                if committed is not None else None)
    part_offset = int(max_part) + 1 if max_part is not None else 0
    enc = encode_table(
        spark, updates, out_dir, url_col=url_col, n_parts=n_parts,
        sort_keys=sort_keys, resume=False, detect_skew=False,
        part_offset=part_offset, run_id=run_id,
    )

    # 3. stamp committed_at with the new run's lineage finished_at, so the
    #    tombstones and the replacement rows appear at the same as_of
    #    instant (no snapshot shows both versions, or neither), then
    #    atomic tombstone publish: old versions retire in one rename
    lin = Snapshot.resolve(out_dir).committed_rows
    finished_at = pc.max(
        lin.filter(pc.equal(lin["run_id"], run_id))["finished_at"]
    ).as_py()
    stamped = f"{staging}-stamp"
    (
        spark.read.schema(TOMBSTONE_SCHEMA).parquet(f"{out_dir}/{staging}")
        .withColumn("committed_at", F.lit(finished_at).cast("double"))
        .write.parquet(f"{out_dir}/{stamped}")
    )
    fs.move(f"{snap.root}/{stamped}", f"{deletes}/run-{run_id}")
    fs.delete_dir(f"{snap.root}/{staging}")
    return {
        "run_id": run_id,
        "appended": int(counts["n"]),
        "tombstones": int(n_tomb),
        "part_offset": part_offset,
        "encode": enc,
    }
