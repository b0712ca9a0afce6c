"""Maintenance jobs over an encoded table: selective re-encode and
compaction.

``reencode_columns`` changes the codec of chosen columns WITHOUT touching any
other column's payloads — block rows of untouched columns are copied
verbatim (at 100 TB, re-encoding one column must not cost a full decode of
five). ``compact`` rewrites an encoded dir with a new chunk size (merging
the small tail chunks accumulated by streaming ingest).
"""

from __future__ import annotations

import json
import time
import uuid

import pyarrow as pa
import pyarrow.fs as pafs
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from cuda_float_compress_spark.codecs import core
from cuda_float_compress_spark.operators import chunks as C
from cuda_float_compress_spark.operators.encode import (
    _BLOCKS_ARROW,
    BLOCKS_SCHEMA,
    build_manifest,
)


def reencode_columns(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    codec_overrides: dict[str, str],
    run_id: str | None = None,
) -> dict:
    """Re-encode only ``codec_overrides`` columns; copy every other
    committed block row unchanged. Output dir gets fresh manifest/lineage
    and the source's live tombstones: every ``(part, chunk, pos)`` address
    is kept, so they delete the same rows."""
    from cuda_float_compress_spark.operators.decode import committed_blocks
    from cuda_float_compress_spark.snapshot import Snapshot

    run_id = run_id or uuid.uuid4().hex[:12]
    blocks = committed_blocks(spark, src_dir)
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
    # one task per part writes all its rows, so no chunk spans two files:
    # the decode transport reads files that share a chunk as one group, and
    # without this every file would share chunks, one group for the table
    new_blocks.repartition("part_id").write.mode("overwrite").parquet(
        f"{dst_dir}/blocks")

    written = spark.read.parquet(f"{dst_dir}/blocks")
    manifest = build_manifest(written, run_id)
    manifest.write.mode("overwrite").parquet(f"{dst_dir}/manifest")
    lineage = (
        manifest.groupBy("part_id")
        .agg(
            F.max("n_chunks").alias("n_chunks"),
            F.max("n_values").alias("n_rows"),
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("enc_bytes").alias("enc_bytes"),
        )
        .withColumn("run_id", F.lit(run_id))
        .withColumn("status", F.lit("done"))
        .withColumn("finished_at", F.lit(time.time()))
        .withColumn("salts_json", F.lit(json.dumps({})))
    )
    lineage.write.mode("overwrite").parquet(f"{dst_dir}/lineage")
    src, dst = Snapshot.resolve(src_dir), Snapshot.resolve(dst_dir)
    for run in src.tombstone_runs:
        dst.fs.create_dir(f"{dst.root}/{run}")
        pafs.copy_files(f"{src.root}/{run}", f"{dst.root}/{run}",
                        source_filesystem=src.fs,
                        destination_filesystem=dst.fs)
    agg = written.agg(
        F.sum("raw_bytes").alias("raw"), F.sum("enc_bytes").alias("enc")
    ).collect()[0]
    return {"run_id": run_id, "raw_bytes": agg["raw"], "enc_bytes": agg["enc"]}


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
    """Re-chunk an encoded dir: streaming ingest leaves many small tail
    chunks (one per micro-batch per part); compaction decodes per part and
    re-encodes at the target chunk size. Parts stay independent — the job is
    a per-(part) applyInArrow with no cross-part shuffle of decoded data;
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

    Returns {'chunks_before', 'chunks_after', ...}."""
    from cuda_float_compress_spark.operators.decode import (
        _committed_blocks,
        assemble_chunks,
    )
    from cuda_float_compress_spark.operators.deletes import _tombstones
    from cuda_float_compress_spark.operators.encode import _encode_chunk_to_rows
    from cuda_float_compress_spark.snapshot import Snapshot

    run_id = run_id or uuid.uuid4().hex[:12]
    snap = Snapshot.resolve(src_dir)
    blocks = _committed_blocks(spark, snap)
    chunks_before = blocks.select("part_id", "chunk_id").distinct().count()
    cols = snap.columns
    ordered = [c for c, _ in cols]
    # preserve Bloom-filter coverage across compaction: rebuild filters for
    # every column that carried one in the source (metadata-scale collect)
    bloom_cols = frozenset(
        r["col"]
        for r in blocks.filter(F.col("bloom").isNotNull())
        .select("col").distinct().collect()
    ) if "bloom" in blocks.columns else frozenset()
    tombs = _tombstones(spark, snap)

    def _recompact(key: tuple, tbl: pa.Table,
                   tomb_tbl: pa.Table | None) -> pa.Table:
        part_id = key[0].as_py() if hasattr(key[0], 'as_py') else int(key[0])
        if tbl.num_rows == 0:  # tombstones for a part with no blocks
            empty = pa.Table.from_batches([], schema=_BLOCKS_ARROW)
            for name in ("payload", "bloom"):
                i = empty.schema.get_field_index(name)
                empty = empty.set_column(
                    i, name, empty.column(name).cast(pa.binary())
                )
            return empty
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
            import pyarrow.compute as pc

            full = full.take(pc.sort_indices(
                full, sort_keys=[(k, "ascending") for k in sort_keys]
            ))
        # re-chunk at the target size and re-encode
        out_batches = []
        off = 0
        cid = 0
        while off < full.num_rows:
            piece = full.slice(off, chunk_rows)
            out_batches.append(
                _encode_chunk_to_rows(piece, part_id, cid, {}, None, run_id,
                                      bloom_cols=bloom_cols)
            )
            off += piece.num_rows
            cid += 1
        if not out_batches:
            result = pa.Table.from_batches([], schema=_BLOCKS_ARROW)
        else:
            result = pa.Table.from_batches(out_batches)
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
    new_blocks.write.mode("overwrite").parquet(f"{dst_dir}/blocks")
    written = spark.read.parquet(f"{dst_dir}/blocks")
    manifest = build_manifest(written, run_id)
    manifest.write.mode("overwrite").parquet(f"{dst_dir}/manifest")
    lineage = (
        manifest.groupBy("part_id")
        .agg(
            F.max("n_chunks").alias("n_chunks"),
            F.max("n_values").alias("n_rows"),
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("enc_bytes").alias("enc_bytes"),
        )
        .withColumn("run_id", F.lit(run_id))
        .withColumn("status", F.lit("done"))
        .withColumn("finished_at", F.lit(time.time()))
        .withColumn("salts_json", F.lit(json.dumps({})))
    )
    lineage.write.mode("overwrite").parquet(f"{dst_dir}/lineage")
    chunks_after = written.select("part_id", "chunk_id").distinct().count()
    return {
        "run_id": run_id,
        "chunks_before": chunks_before,
        "chunks_after": chunks_after,
    }
