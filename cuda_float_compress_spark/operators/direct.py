"""Direct-layout encode: distribute parquet row-group splits; each task reads
its split with pyarrow INSIDE the Python worker and writes its compressed
blocks itself.

Why this exists (the 100 TB argument): the shuffle-path encode
(operators/encode.py) re-clusters rows by url-host — correct when you want
host locality, but it ships the entire table twice (shuffle + JVM→Python
Arrow). For bulk encode of a table as laid out, the scale-aware plan is to
encode row groups IN PLACE: no shuffle and no JVM transfer of raw payloads
or of compressed blocks — only each block row's ~100 B of chunk stats
cross Arrow back to the JVM, for the commit. This is the same locality
argument as Iceberg/Spark storage-partitioned execution.

part_id = split index over the (deterministically sorted) file list, so
checkpoint-resume re-derives identical assignments from the same input.
Each split's batches go through ``encode.encode_part``, the chunk cutter
of every table writer; each task writes its block file through
``encode.block_writer`` and the run commits through
``encode.commit_blocks``, like the shuffle-path encode.

``decode_table_direct`` is another name for ``operators.decode.decode_table``,
the one Spark decode transport, kept for callers that import it from here.
"""

from __future__ import annotations

import time
import uuid

import pyarrow as pa
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import SparkSession

from cuda_float_compress_spark.metrics import EngineMetrics
from cuda_float_compress_spark.operators.decode import (  # noqa: F401
    decode_table as decode_table_direct,
)
from cuda_float_compress_spark.operators.encode import (
    STATS_SCHEMA,
    block_writer,
    commit_blocks,
    completed_parts,
    encode_part,
)
from cuda_float_compress_spark.session import lpt_frame
from cuda_float_compress_spark.snapshot import resolve_path

SPLITS_SCHEMA = pa.schema([
    ("part_id", pa.int32()), ("file", pa.string()),
    ("rg_start", pa.int32()), ("rg_end", pa.int32()),
    ("row_start", pa.int64()), ("row_end", pa.int64()),
    ("est_bytes", pa.int64()),
])


def _to_us_batch(rb: pa.RecordBatch) -> pa.RecordBatch:
    """Normalize timestamp columns to us precision at the direct-read
    boundary (parquet INT96 arrives as ns in pyarrow). safe=True raises if a
    value has sub-microsecond precision — the codec's bit-identity contract
    refuses silent truncation (chunks.ptype_of enforces the same)."""
    changed = False
    cols, fields = [], []
    for i, f in enumerate(rb.schema):
        if pa.types.is_timestamp(f.type) and f.type.unit != "us":
            t = pa.timestamp("us", f.type.tz)
            cols.append(rb.column(i).cast(t, safe=True))
            fields.append(pa.field(f.name, t, f.nullable))
            changed = True
        else:
            cols.append(rb.column(i))
            fields.append(f)
    if not changed:
        return rb
    return pa.RecordBatch.from_arrays(cols, schema=pa.schema(fields))


def plan_splits(fs: pafs.FileSystem, root: str,
                target_rows_per_split: int = 131_072,
                target_bytes_per_split: int | None = None) -> list[tuple]:
    """(part_id, file, rg_start, rg_end) over all parquet files, grouping
    consecutive row groups up to the target. Driver-side metadata only.

    Splits close on EITHER cap: rows, or uncompressed bytes (row-group
    ``total_byte_size`` from the parquet footers). Row-count-only splits
    skew when document lengths vary — the bench table showed 5x
    raw-byte spread across equal-row splits, which makes the straggler
    task 5x the median at decode too.

    Default byte cap: derived from the footers as
    ``max(192 MB, largest observed row group)``, so a table written by a
    normal parquet writer NEVER takes the sub-row-group path.  That path
    splits one row group into k row ranges, and each range's task must
    re-decode the row group from its start (parquet has no intra-row-group
    seek), i.e. ~k/2x read+decode amplification across the k tasks — only
    worth paying for a true straggler.  Round 5 defaulted the cap to 16 MB,
    which quintupled ordinary 67 MB row groups and tripled 1-core encode
    time; deriving the cap from the actual footer statistics removes the
    amplification entirely for uniform tables while an EXPLICIT
    ``target_bytes_per_split`` still subdivides pathological row groups
    (>1.5x the cap) for callers that know their table has one.

    ``fs, root`` is the input dir as ``resolve_path`` gives it; ``file``
    is the path within ``fs``. Raises ``ValueError`` when the dir holds
    no ``*.parquet`` file, missing dir included."""
    files = sorted(
        f.path for f in fs.get_file_info(
            pafs.FileSelector(root, allow_not_found=True))
        if f.type == pafs.FileType.File and f.base_name.endswith(".parquet")
        and not f.base_name.startswith("."))
    if not files:
        raise ValueError(f"no *.parquet file in {root!r}")
    metas = [pq.ParquetFile(f, filesystem=fs).metadata for f in files]
    if target_bytes_per_split is None:
        max_rg = max(
            (md.row_group(i).total_byte_size
             for md in metas for i in range(md.num_row_groups)),
            default=0,
        )
        target_bytes_per_split = max(192 << 20, max_rg)
    splits = []
    pid = 0
    for f, md in zip(files, metas):
        rg = 0
        while rg < md.num_row_groups:
            rg_rows = md.row_group(rg).num_rows
            rg_bytes = md.row_group(rg).total_byte_size
            if rg_bytes > target_bytes_per_split * 3 // 2 and rg_rows > 1:
                # one oversized row group (writers that never flushed):
                # subdivide by ROW RANGE — the encode task slices the
                # streamed batches, so no task carries k x the target
                k = min(-(-rg_bytes // target_bytes_per_split), rg_rows)
                per = -(-rg_rows // k)
                start_row = 0
                while start_row < rg_rows:
                    end_row = min(start_row + per, rg_rows)
                    splits.append((
                        pid, f, rg, rg + 1, start_row, end_row,
                        rg_bytes * (end_row - start_row) // rg_rows,
                    ))
                    pid += 1
                    start_row = end_row
                rg += 1
                continue
            rows = 0
            nbytes = 0
            start = rg
            while (rg < md.num_row_groups and rows < target_rows_per_split
                   and nbytes < target_bytes_per_split):
                rows += md.row_group(rg).num_rows
                nbytes += md.row_group(rg).total_byte_size
                rg += 1
                if (rg < md.num_row_groups
                        and md.row_group(rg).total_byte_size
                        > target_bytes_per_split * 3 // 2):
                    break  # let the oversized row group get its own splits
            splits.append((pid, f, start, rg, -1, -1, nbytes))
            pid += 1
    return splits


def encode_table_direct(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    columns: list[str] | None = None,
    chunk_rows: int = 32_768,
    chunk_bytes: int = 1 << 24,
    codec_overrides: dict | None = None,
    resume: bool = True,
    run_id: str | None = None,
    metrics: EngineMetrics | None = None,
    target_rows_per_split: int = 131_072,
    target_bytes_per_split: int | None = None,
    profile: str = "ratio",
) -> dict:
    run_id = run_id or uuid.uuid4().hex[:12]
    metrics = metrics or EngineMetrics(spark)
    overrides = codec_overrides or {}
    t_start = time.time()

    fs, root = resolve_path(input_dir)
    with metrics.stage("plan"):
        splits = plan_splits(fs, root, target_rows_per_split,
                             target_bytes_per_split)
        done = set(completed_parts(spark, out_dir)) if resume else set()
        todo = [s for s in splits if s[0] not in done]

    if todo:
        acc = metrics.acc

        def split_batches(row):
            # the split's rows as Arrow batches; a sub-row-group split
            # clips the streamed batches to its row range
            pf = pq.ParquetFile(row["file"], filesystem=fs)
            row_start, row_end = row["row_start"], row["row_end"]
            offset = 0  # rows streamed so far within the rg range
            for rb in pf.iter_batches(
                batch_size=chunk_rows,
                row_groups=range(row["rg_start"], row["rg_end"]),
                columns=columns,
            ):
                if row_start >= 0:
                    lo = max(row_start - offset, 0)
                    hi = min(row_end - offset, rb.num_rows)
                    offset += rb.num_rows
                    if offset >= row_end and hi <= lo:
                        break  # past our range: skip the tail decode
                    if hi <= lo:
                        continue
                    if (lo, hi) != (0, rb.num_rows):
                        rb = rb.slice(lo, hi - lo)
                yield _to_us_batch(rb)

        def encode_split(batches):
            for batch in batches:
                for row in batch.to_pylist():
                    yield from encode_part(
                        split_batches(row), row["part_id"], chunk_rows,
                        chunk_bytes, overrides, acc, run_id, profile,
                    )

        # LPT bin-packing into one task per core (lpt_frame):
        # document-length skew puts up to ~5x byte spread across equal-row
        # splits, and a table of many small files must not become one task
        # per split (at 100 TB a million small files would be a million
        # tasks). encode_split iterates every split row in its batch, and
        # each split keeps its own part_id, so (part, chunk) keys are
        # unaffected.
        splits_df, n_tasks = lpt_frame(
            spark, pa.Table.from_pylist(
                [dict(zip(SPLITS_SCHEMA.names, s)) for s in todo],
                schema=SPLITS_SCHEMA),
            [s[6] for s in todo])
        commit_blocks(splits_df.mapInArrow(
            block_writer(encode_split, out_dir, run_id), schema=STATS_SCHEMA),
            out_dir, run_id, metrics)

    snap = metrics.snapshot()
    snap["run_id"] = run_id
    snap["skipped_parts"] = len(done)
    snap["n_splits"] = len(todo)
    snap["n_tasks"] = n_tasks if todo else 0
    snap["wall_sec"] = time.time() - t_start
    return snap
