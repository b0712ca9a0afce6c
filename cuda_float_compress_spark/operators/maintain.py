"""Maintenance jobs over an encoded table: garbage collection, selective
re-encode and compaction. Each takes its facts from ``snapshot.Snapshot``;
none reads ``blocks/`` through Spark.

``vacuum`` is file-level garbage collection: it deletes the block files
no committed manifest row names (the leftovers of crashed or refused
runs, and copies) and the temp files of writers that failed
mid-write, and never rewrites a live file, so it runs no Spark job and
can never split or duplicate a chunk. Every writer gives a block file
the rows of one run, so no file mixes committed and stale rows.

``reencode_columns`` changes the codec of chosen columns WITHOUT touching any
other column's payloads — block rows of untouched columns are copied
verbatim (at 100 TB, re-encoding one column must not cost a full decode of
five). ``compact`` rewrites an encoded dir with a new chunk size (merging
the small tail chunks accumulated by streaming ingest). Both read the
Snapshot's file groups on the decode transport (``decode.group_frame`` ->
``mapInArrow``, each task reading its block files with pyarrow), so
block rows are never shuffled.

Both write a NEW table: they raise ``ValueError`` when ``dst_dir``
already holds ``blocks/``, ``manifest/``, ``lineage/`` or ``deletes/``
(an old table's tombstones would delete rows of the new one). Both
write and commit as every table writer does: each task writes its block
file (``encode.block_writer``), then ``encode.commit_blocks`` writes
manifest, then lineage, on the driver.
"""

from __future__ import annotations

import itertools
import time
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import SparkSession

from cuda_float_compress_spark.operators import chunks as C
from cuda_float_compress_spark.operators.decode import (
    assemble_chunks,
    frame_groups,
    group_frame,
    read_group,
)
from cuda_float_compress_spark.operators.deletes import commit_tombstones
from cuda_float_compress_spark.operators.encode import (
    _BLOCKS_ARROW,
    STATS_SCHEMA,
    block_writer,
    commit_blocks,
    encode_part,
)
from cuda_float_compress_spark.snapshot import Snapshot, conform


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


def _block_rows(fs, path: str) -> pa.Table:
    """Every column of a block file's rows, in the writers' layout."""
    return conform(pq.ParquetFile(path, filesystem=fs).read(
        use_threads=False), _BLOCKS_ARROW)


def reencode_columns(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    codec_overrides: dict[str, str],
    run_id: str | None = None,
) -> dict:
    """Re-encode only ``codec_overrides`` columns; copy every other
    committed block row unchanged into the new table ``dst_dir``. The
    source's live tombstones are committed first, as one delete run
    (every ``(part, chunk, pos)`` address is kept, so they delete the
    same rows); the blocks are written and committed after them, so a
    crash in between leaves nothing committed. Returns the run id and
    the committed raw/encoded byte totals."""
    run_id = run_id or uuid.uuid4().hex[:12]
    src, dst = Snapshot.resolve(src_dir), _new_table(dst_dir)
    fs, pairs = src.fs, src.pairs
    touched = pa.array(list(codec_overrides), pa.string())

    def reencode(batches):
        for path, _ in frame_groups(batches):
            rows = _block_rows(fs, path)
            rows = rows.filter(pa.array([k in pairs for k in zip(
                rows["part_id"].to_pylist(), rows["run_id"].to_pylist())]))
            # stamp the rewrite's run_id on every row (copied AND
            # re-encoded): dst's lineage commits exactly these blocks
            rows = rows.set_column(
                rows.schema.get_field_index("run_id"), "run_id",
                pa.repeat(pa.scalar(run_id), rows.num_rows))
            hit = pc.is_in(rows["col"], value_set=touched)
            yield from rows.filter(pc.invert(hit)).to_batches()
            out = rows.filter(hit).to_pylist()
            for r in out:
                arr = C.decode_column_chunk(
                    r["payload"], r["codec"], r["params"], r["n"],
                    r["n_nulls"], r["ptype"],
                )
                codec, payload, params, _, _ = C.encode_column_chunk(
                    arr, r["ptype"], codec_overrides[r["col"]])
                r.update(codec=codec, params=params, payload=payload,
                         enc_bytes=len(payload))
            if out:
                yield pa.RecordBatch.from_pylist(out, schema=_BLOCKS_ARROW)

    if src.tombstones.num_rows:
        commit_tombstones(dst_dir, run_id, src.tombstones, time.time())
    # a block file goes whole to one task, which writes one file, so
    # each part stays in one file
    manifest = commit_blocks(
        group_frame(spark, src.file_groups).mapInArrow(
            block_writer(reencode, dst_dir, run_id), schema=STATS_SCHEMA),
        dst_dir, run_id)
    return {"run_id": run_id,
            "raw_bytes": sum(manifest["raw_bytes"].to_pylist()),
            "enc_bytes": sum(manifest["enc_bytes"].to_pylist())}


def vacuum(spark: SparkSession, out_dir: str) -> dict:
    """Garbage-collect what no reader trusts: block files no committed
    manifest row names (crashed or refused runs' files, and copies:
    ``Snapshot.all_block_files`` minus ``Snapshot.block_files``),
    the ``.inprogress-*`` files of block, manifest and lineage writers
    that failed mid-write (``Snapshot.leftover_files``), and the
    uncommitted ``Snapshot.delete_dirs`` (delete runs that crashed
    before their ``_SUCCESS``). Vacuum never rewrites a live file, so
    live chunks stay where they are and no Spark job runs.

    Returns ``rows_before`` and ``rows_after`` (block rows, from the
    parquet footers) and ``bytes_reclaimed`` (the deleted files'
    sizes).

    Do not run it concurrently with a writer of the same table: a run
    whose files are written but not yet committed looks exactly like a
    crashed one, and its files would be deleted."""
    snap = Snapshot.resolve(out_dir)
    live = {path for path, _ in snap.block_files}
    rows_before = rows_after = reclaimed = 0
    for path, size in snap.all_block_files:
        n = pq.read_metadata(path, filesystem=snap.fs).num_rows
        rows_before += n
        if path in live:
            rows_after += n
        else:
            snap.fs.delete_file(path)
            reclaimed += size
    for path, size in snap.leftover_files:
        snap.fs.delete_file(path)
        reclaimed += size
    for path, committed in snap.delete_dirs:
        if not committed:
            snap.fs.delete_dir(path)
    return {"rows_before": rows_before, "rows_after": rows_after,
            "bytes_reclaimed": reclaimed}


def table_stats(out_dir: str) -> dict:
    """Per-column value, null and byte counts, ratio and codec set of the
    committed table, summed on the driver over ``Snapshot.chunk_stats``
    (the manifest rows of committed runs only; no Spark job): the report
    ``cli stats`` prints, and what an operator reads before deciding a
    re-encode."""
    sums = {"n": "n_values", "n_nulls": "n_nulls", "raw_bytes": "raw_bytes",
            "enc_bytes": "enc_bytes"}
    g = Snapshot.resolve(out_dir).chunk_stats.group_by(
        ["col", "ptype"]).aggregate(
        [(k, "sum") for k in sums] + [("codec", "distinct")])
    columns = [
        {"col": r["col"], "ptype": r["ptype"],
         **{v: r[f"{k}_sum"] for k, v in sums.items()},
         "ratio": round(r["raw_bytes_sum"] / max(r["enc_bytes_sum"], 1), 4),
         "codecs": sorted(r["codec_distinct"])}
        for r in sorted(g.to_pylist(), key=lambda r: (r["col"], r["ptype"]))
    ]
    raw = sum(c["raw_bytes"] for c in columns)
    enc = sum(c["enc_bytes"] for c in columns)
    return {"columns": columns, "total_raw_bytes": raw,
            "total_enc_bytes": enc, "ratio": round(raw / max(enc, 1), 4)}


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
    whichever comes first. It runs on the decode transport: the
    Snapshot's file groups (one per block file, which holds its parts
    whole, so one task re-chunks each part) are LPT-packed into one task
    per core, each task reads its block files with pyarrow and rebuilds
    their chunks with ``decode.assemble_chunks``, and writes its block
    file. Block rows are
    never shuffled, and that write is the only Spark job.

    Merge-on-read tombstones (operators/deletes) are MATERIALIZED: the
    assembler drops the ``Snapshot.deleted_positions`` of each chunk, so
    deleted rows are physically gone and the compacted table starts with
    an empty delete set. Uncommitted rows are dropped too.

    ``sort_keys``: re-CLUSTER while compacting — each part's rows are
    sorted (one Arrow sort per part, no cross-part shuffle) before
    re-chunking, so zone maps over those keys stop overlapping across a
    part's chunks. Streaming ingest and merge/upsert appends interleave
    key ranges run by run; this is the Iceberg
    ``rewrite_data_files(sort order)`` analog that restores pruning —
    run it when pruning starts keeping most of the table.

    Returns {'chunks_before', 'chunks_after', ...}, counted from the
    source's and the output's Snapshots."""
    run_id = run_id or uuid.uuid4().hex[:12]
    snap = Snapshot.resolve(src_dir)
    _new_table(dst_dir)
    stats = snap.chunk_stats
    cols = snap.columns
    ordered = [c for c, _ in cols]
    # preserve Bloom-filter coverage across compaction: rebuild filters for
    # every column that carried one in the source
    bloom_cols = frozenset(pc.unique(
        stats.filter(pc.is_valid(stats["bloom"]))["col"]).to_pylist())
    fs, pairs = snap.fs, snap.pairs

    def recompact(batches):
        for path, deleted in frame_groups(batches):
            # chunks arrive in (part_id, chunk_id) order, so one part's
            # rows are decoded at a time
            for part_id, part in itertools.groupby(
                    assemble_chunks(read_group(fs, path), cols, pairs,
                                    deleted=deleted),
                    key=lambda chunk: chunk[0]):
                pieces = [arrays for *_, arrays in part]
                full = pa.table({
                    c: pa.concat_arrays([a[i] for a in pieces])
                    for i, c in enumerate(ordered)})
                if sort_keys:
                    full = full.take(pc.sort_indices(full, sort_keys=[
                        (k, "ascending") for k in sort_keys]))
                yield from encode_part(
                    full.to_batches(), part_id, chunk_rows, chunk_bytes,
                    {}, run_id=run_id, bloom_cols=bloom_cols)

    commit_blocks(
        group_frame(spark, snap.file_groups, snap.deleted_positions)
        .mapInArrow(block_writer(recompact, dst_dir, run_id),
                    schema=STATS_SCHEMA), dst_dir, run_id)
    return {
        "run_id": run_id,
        "chunks_before": _n_chunks(stats),
        "chunks_after": _n_chunks(Snapshot.resolve(dst_dir).chunk_stats),
    }
