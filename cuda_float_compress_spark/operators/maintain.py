"""Maintenance jobs over an encoded table: selective re-encode and
compaction.

``reencode_columns`` changes the codec of chosen columns WITHOUT touching any
other column's payloads — block rows of untouched columns are copied
verbatim (at 100 TB, re-encoding one column must not cost a full decode of
five). ``compact`` rewrites an encoded dir with a new chunk size (merging
the small tail chunks accumulated by streaming ingest).

Both write a NEW table: they raise ``ValueError`` when ``dst_dir``
already holds ``blocks/``, ``manifest/``, ``lineage/`` or ``deletes/``
(an old table's tombstones would delete rows of the new one). Both
commit through ``encode.commit_blocks``, the write-and-commit of every
table writer: blocks in uncompressed parquet, then manifest, then
lineage, on the driver.
"""

from __future__ import annotations

import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.fs as pafs
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from cuda_float_compress_spark.operators import chunks as C
from cuda_float_compress_spark.operators.encode import (
    _BLOCKS_ARROW,
    BLOCKS_SCHEMA,
    commit_blocks,
    encode_part,
)
from cuda_float_compress_spark.snapshot import Snapshot


def _new_table(dst_dir: str) -> Snapshot:
    dst = Snapshot.resolve(dst_dir)
    if dst.table_dirs:
        raise ValueError(
            f"{dst_dir} already holds {', '.join(dst.table_dirs)}: "
            "compact and reencode_columns write a new table; pass a fresh "
            "dst_dir"
        )
    return dst


def _n_chunks(stats: pa.Table) -> int:
    return stats.group_by(["part_id", "chunk_id"]).aggregate([]).num_rows


def reencode_columns(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    codec_overrides: dict[str, str],
    run_id: str | None = None,
) -> dict:
    """Re-encode only ``codec_overrides`` columns; copy every other
    committed block row unchanged into the new table ``dst_dir``. The
    source's live tombstones are copied first (every ``(part, chunk,
    pos)`` address is kept, so they delete the same rows); the blocks are
    written and committed after them, so a crash in between leaves
    nothing committed. Returns the run id and the committed raw/encoded
    byte totals."""
    from cuda_float_compress_spark.operators.decode import _committed_blocks

    run_id = run_id or uuid.uuid4().hex[:12]
    src, dst = Snapshot.resolve(src_dir), _new_table(dst_dir)
    blocks = _committed_blocks(spark, src)
    touched = blocks.filter(F.col("col").isin(list(codec_overrides)))
    untouched = blocks.filter(~F.col("col").isin(list(codec_overrides)))

    def transform(batches):
        for batch in batches:
            rows = batch.to_pylist()
            out = {name: [] for name in _BLOCKS_ARROW.names}
            for r in rows:
                arr = C.decode_column_chunk(
                    r["payload"], r["codec"], r["params"], r["n"],
                    r["n_nulls"], r["ptype"],
                )
                codec, payload, params_json, n, n_nulls = C.encode_column_chunk(
                    arr, r["ptype"], codec_overrides[r["col"]]
                )
                for k in _BLOCKS_ARROW.names:
                    out[k].append(r[k])
                out["codec"][-1] = codec
                out["params"][-1] = params_json
                out["enc_bytes"][-1] = len(payload)
                out["payload"][-1] = payload
            yield pa.RecordBatch.from_pydict(out, schema=_BLOCKS_ARROW)

    reencoded = touched.mapInArrow(transform, schema=BLOCKS_SCHEMA)
    # stamp the rewrite's run_id on every row (copied AND re-encoded) so the
    # dst dir's lineage commits exactly the blocks it contains
    new_blocks = untouched.unionByName(reencoded).withColumn(
        "run_id", F.lit(run_id)
    )
    for run in src.tombstone_runs:
        dst.fs.create_dir(f"{dst.root}/{run}")
        pafs.copy_files(f"{src.root}/{run}", f"{dst.root}/{run}",
                        source_filesystem=src.fs,
                        destination_filesystem=dst.fs)
    # one task per part writes all its rows, so no chunk spans two files:
    # the decode transport reads files that share a chunk as one group, and
    # without this every file would share chunks, one group for the table
    manifest = commit_blocks(new_blocks.repartition("part_id"), dst_dir,
                             run_id)
    return {"run_id": run_id,
            "raw_bytes": sum(r["raw_bytes"] for r in manifest),
            "enc_bytes": sum(r["enc_bytes"] for r in manifest)}


def repair_vacuum(out_dir: str) -> str | None:
    """Recover from a crash inside vacuum's directory swap. The swap is two
    os.rename calls — NOT atomic — so a crash can leave the table with no
    ``blocks`` dir. The leftover ``blocks_vacuum_old`` dir marks exactly that
    window; this repairs it:

    - ``blocks`` present again  -> the swap finished; drop the old copy.
    - ``blocks`` missing, tmp rewrite complete (_SUCCESS) -> finish the swap.
    - ``blocks`` missing, tmp incomplete -> roll the old copy back.

    Called automatically at the start of every vacuum and by decode when the
    blocks dir is missing. Returns the action taken (or None)."""
    import os
    import shutil

    blocks_dir = f"{out_dir}/blocks"
    tmp = f"{out_dir}/blocks_vacuum_tmp"
    old = f"{out_dir}/blocks_vacuum_old"
    if not os.path.exists(old):
        return None
    if os.path.exists(blocks_dir):
        shutil.rmtree(old, ignore_errors=True)
        return "dropped_old_copy"
    # Two readers can race these renames (repair runs from the decode read
    # path): whoever loses the rename just observes the winner's result —
    # any OSError with blocks_dir present afterwards means repaired-by-other.
    if os.path.exists(os.path.join(tmp, "_SUCCESS")):
        try:
            os.rename(tmp, blocks_dir)
        except OSError:
            if not os.path.exists(blocks_dir):
                raise
        shutil.rmtree(old, ignore_errors=True)
        return "completed_swap"
    try:
        os.rename(old, blocks_dir)
    except OSError:
        if not os.path.exists(blocks_dir):
            raise
        shutil.rmtree(old, ignore_errors=True)
        return "completed_swap"  # another repairer won the race
    shutil.rmtree(tmp, ignore_errors=True)
    return "rolled_back"


def vacuum(spark: SparkSession, out_dir: str) -> dict:
    """Garbage-collect stale block rows: crashed/retried runs append blocks
    whose (part_id, run_id) never commits to lineage — decode already
    ignores them (committed_blocks), but they occupy storage forever.
    Rewrites the blocks dir keeping only committed rows, then swaps
    directories (readers of the old dir finish against the old files; the
    Iceberg-style answer is the same swap done via metadata).

    The swap itself is two os.rename calls and therefore not atomic: a crash
    between them leaves ``blocks_vacuum_old`` behind, which
    :func:`repair_vacuum` (run on entry here and by decode) detects and
    repairs in either direction. Returns {'rows_before', 'rows_after',
    'bytes_reclaimed'}."""
    import os
    import shutil

    from cuda_float_compress_spark.operators.decode import committed_blocks

    repair_vacuum(out_dir)
    blocks_dir = f"{out_dir}/blocks"
    before = spark.read.parquet(blocks_dir)
    rows_before = before.count()
    bytes_before = before.agg(F.sum("enc_bytes")).collect()[0][0] or 0
    kept = committed_blocks(spark, out_dir)
    rows_after = kept.count()
    bytes_after = kept.agg(F.sum("enc_bytes")).collect()[0][0] or 0
    if rows_after == rows_before:
        return {"rows_before": rows_before, "rows_after": rows_after,
                "bytes_reclaimed": 0}
    tmp = f"{out_dir}/blocks_vacuum_tmp"
    old = f"{out_dir}/blocks_vacuum_old"
    shutil.rmtree(tmp, ignore_errors=True)
    kept.write.mode("overwrite").parquet(tmp)
    # sentinel: proves OUR rewrite is the dir that ends up at blocks/. A
    # concurrent repair_vacuum can win the race in either direction —
    # completing the swap (tmp -> blocks: sentinel present) or rolling it
    # BACK when _SUCCESS markers are disabled (old -> blocks: sentinel
    # absent, vacuum did NOT take effect). Underscore prefix = ignored by
    # parquet readers, like _SUCCESS.
    sentinel = f"_vacuum_{uuid.uuid4().hex[:12]}"
    with open(os.path.join(tmp, sentinel), "w"):
        pass
    os.rename(blocks_dir, old)
    try:
        os.rename(tmp, blocks_dir)
    except OSError:
        if not os.path.isdir(blocks_dir):
            raise
        if not os.path.exists(os.path.join(blocks_dir, sentinel)):
            # the racing repairer ROLLED BACK (tmp lacked _SUCCESS in its
            # view): the table still holds the un-vacuumed blocks, so the
            # stats this call computed describe a vacuum that never landed
            raise RuntimeError(
                "vacuum swap was rolled back by a concurrent repair_vacuum "
                "(blocks dir restored from the pre-vacuum copy); re-run "
                f"vacuum on {out_dir}"
            )
    os.remove(os.path.join(blocks_dir, sentinel))
    shutil.rmtree(old, ignore_errors=True)
    return {
        "rows_before": rows_before,
        "rows_after": rows_after,
        "bytes_reclaimed": int(bytes_before - bytes_after),
    }


def codec_histogram(spark: SparkSession, out_dir: str):
    """Per-column codec usage — the manifest query an operator runs before
    deciding a re-encode."""
    m = spark.read.parquet(f"{out_dir}/manifest")
    return (
        m.select("col", F.explode("codecs").alias("codec"))
        .groupBy("col", "codec")
        .count()
        .orderBy("col", "codec")
    )


def compact(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    chunk_rows: int = 32_768,
    chunk_bytes: int = 1 << 24,
    run_id: str | None = None,
    sort_keys: list[str] | None = None,
) -> dict:
    """Re-chunk an encoded dir into the new table ``dst_dir``: streaming
    ingest leaves many small tail chunks (one per micro-batch per part);
    compaction decodes per part and re-encodes with ``encode.encode_part``,
    closing chunks at ``chunk_rows`` rows or ``chunk_bytes`` bytes,
    whichever comes first. Parts stay independent — the job is a
    per-(part) applyInArrow with no cross-part shuffle of decoded data;
    each part's chunks are rebuilt by ``decode.assemble_chunks``, the
    chunk assembler every reader uses.

    Merge-on-read tombstones (operators/deletes) are MATERIALIZED: deleted
    rows are physically dropped (blocks cogrouped with tombstones per
    part — addresses ship to exactly the task that decodes their chunks)
    and the compacted table starts with an empty delete set.

    ``sort_keys``: re-CLUSTER while compacting — each part's rows are
    sorted (one Arrow sort per part, no cross-part shuffle) before
    re-chunking, so zone maps over those keys stop overlapping across a
    part's chunks. Streaming ingest and merge/upsert appends interleave
    key ranges run by run; this is the Iceberg
    ``rewrite_data_files(sort order)`` analog that restores pruning —
    run it when qualifying_chunks starts selecting most of the table.

    Returns {'chunks_before', 'chunks_after', ...}, counted from the
    source's and the output's Snapshots."""
    from cuda_float_compress_spark.operators.decode import (
        _committed_blocks,
        assemble_chunks,
    )
    from cuda_float_compress_spark.operators.deletes import _tombstones

    run_id = run_id or uuid.uuid4().hex[:12]
    snap = Snapshot.resolve(src_dir)
    _new_table(dst_dir)
    blocks = _committed_blocks(spark, snap)
    stats = snap.chunk_stats
    cols = snap.columns
    ordered = [c for c, _ in cols]
    # preserve Bloom-filter coverage across compaction: rebuild filters for
    # every column that carried one in the source
    bloom_cols = frozenset(pc.unique(
        stats.filter(pc.is_valid(stats["bloom"]))["col"]).to_pylist())
    tombs = _tombstones(spark, snap)

    def _recompact(key: tuple, tbl: pa.Table,
                   tomb_tbl: pa.Table | None) -> pa.Table:
        part_id = key[0].as_py() if hasattr(key[0], 'as_py') else int(key[0])
        out_batches = []
        if tbl.num_rows:  # empty: tombstones for a part with no blocks
            # tombstoned positions per chunk (this part's addresses only —
            # the cogroup routed them here)
            deleted: dict[tuple, list] = {}
            if tomb_tbl is not None:
                for c_, p_ in zip(tomb_tbl.column("_chunk_id").to_pylist(),
                                  tomb_tbl.column("_pos").to_pylist()):
                    deleted.setdefault((part_id, c_), []).append(p_)
            pieces = [arrays for _, _, _, arrays in
                      assemble_chunks(tbl, cols, deleted=deleted)]
            full = pa.table({c: pa.concat_arrays([a[i] for a in pieces])
                             for i, c in enumerate(ordered)})
            if sort_keys:
                full = full.take(pc.sort_indices(
                    full, sort_keys=[(k, "ascending") for k in sort_keys]
                ))
            out_batches = list(encode_part(
                full.to_batches(), part_id, chunk_rows, chunk_bytes, {},
                run_id=run_id, bloom_cols=bloom_cols,
            ))
        result = pa.Table.from_batches(out_batches, schema=_BLOCKS_ARROW)
        # applyInArrow enforces binary (not large_binary) for BinaryType
        for name in ("payload", "bloom"):
            idx = result.schema.get_field_index(name)
            result = result.set_column(
                idx, name, result.column(name).cast(pa.binary())
            )
        return result

    # applyInArrow validates the callable's arity: the grouped form takes
    # (key, table), the cogrouped form (key, left, right) — wrap either way
    if tombs is None:
        new_blocks = blocks.groupBy("part_id").applyInArrow(
            lambda key, tbl: _recompact(key, tbl, None), BLOCKS_SCHEMA
        )
    else:
        new_blocks = (
            blocks.groupBy("part_id")
            .cogroup(tombs.groupBy("_part_id"))
            .applyInArrow(
                lambda key, tbl, tomb: _recompact(key, tbl, tomb),
                BLOCKS_SCHEMA,
            )
        )
    commit_blocks(new_blocks, dst_dir, run_id)
    return {
        "run_id": run_id,
        "chunks_before": _n_chunks(stats),
        "chunks_after": _n_chunks(Snapshot.resolve(dst_dir).chunk_stats),
    }
