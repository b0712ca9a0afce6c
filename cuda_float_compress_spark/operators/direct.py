"""Direct-layout encode: distribute parquet row-group splits; each task reads
its split with pyarrow INSIDE the Python worker and emits compressed blocks.

Why this exists (the 100 TB argument): the shuffle-path encode
(operators/encode.py) re-clusters rows by url-host — correct when you want
host locality, but it ships the entire table twice (shuffle + JVM→Python
Arrow). For bulk encode of a table as laid out, the scale-aware plan is to
encode row groups IN PLACE: no shuffle, no JVM transfer of raw payloads —
only the ~5-6x smaller compressed blocks cross Arrow back to the JVM. This is
the same locality argument as Iceberg/Spark storage-partitioned execution.

part_id = split index over the (deterministically sorted) file list, so
checkpoint-resume re-derives identical assignments from the same input.

``decode_table_direct`` is another name for ``operators.decode.decode_table``,
the one Spark decode transport, kept for callers that import it from here.
"""

from __future__ import annotations

import glob
import json
import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession

from cuda_float_compress_spark.metrics import EngineMetrics
from cuda_float_compress_spark.operators.decode import (  # noqa: F401
    decode_table as decode_table_direct,
)
from cuda_float_compress_spark.operators.encode import (
    BLOCKS_SCHEMA,
    _encode_chunk_to_rows,
    completed_parts,
)
from cuda_float_compress_spark.session import lpt_frame
from cuda_float_compress_spark.snapshot import LINEAGE_SCHEMA, Snapshot

SPLITS_SCHEMA = ("part_id int, file string, rg_start int, rg_end int, "
                 "row_start bigint, row_end bigint, est_bytes bigint")


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


def plan_splits(input_dir: str, target_rows_per_split: int = 131_072,
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
    (>1.5x the cap) for callers that know their table has one."""
    files = sorted(glob.glob(os.path.join(input_dir, "*.parquet")))
    metas = [pq.ParquetFile(f).metadata for f in files]
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


_MANIFEST_ARROW = pa.schema([
    ("part_id", pa.int32()),
    ("col", pa.string()),
    ("col_idx", pa.int32()),
    ("ptype", pa.string()),
    ("n_chunks", pa.int64()),
    ("n_values", pa.int64()),
    ("n_nulls", pa.int64()),
    ("raw_bytes", pa.int64()),
    ("enc_bytes", pa.int64()),
    # element name + non-null mirror Spark's array<string> parquet layout
    ("codecs", pa.list_(pa.field("element", pa.string(), nullable=False))),
    ("vmin", pa.int64()),
    ("vmax", pa.int64()),
    ("run_id", pa.string()),
])

def _atomic_parquet_append(fs, dir_path: str, tbl: pa.Table,
                           name: str) -> None:
    """Append one parquet file to a dataset dir with atomic visibility:
    write under a dot-prefixed temp name (ignored by every parquet
    reader), then rename into place."""
    fs.create_dir(dir_path, recursive=True)
    tmp = f"{dir_path}/.inprogress-{name}"
    pq.write_table(tbl, tmp, filesystem=fs)
    fs.move(tmp, f"{dir_path}/{name}")


_MANIFEST_META_COLS = ["part_id", "col", "col_idx", "ptype", "n", "n_nulls",
                       "raw_bytes", "enc_bytes", "codec", "vmin", "vmax"]


def _manifest_rows_driver_side(fs, blk_files: list[str],
                               run_id: str) -> list[dict]:
    """build_manifest's aggregate computed on the driver from the block
    files' METADATA columns (payloads never read — parquet column
    projection): bit-identical semantics to the Spark groupBy (count,
    sums, sorted codec set, null-skipping min/max), pinned by the
    mixed-writer parity test."""
    import pyarrow.dataset as ds

    tbl = ds.dataset(blk_files, format="parquet", filesystem=fs).to_table(
        columns=_MANIFEST_META_COLS,
        filter=ds.field("run_id") == run_id,
    )
    cols = {c: tbl.column(c).to_pylist() for c in _MANIFEST_META_COLS}
    agg: dict[tuple, dict] = {}
    for i in range(tbl.num_rows):
        key = (cols["part_id"][i], cols["col"][i],
               cols["col_idx"][i], cols["ptype"][i])
        a = agg.get(key)
        if a is None:
            a = agg[key] = {
                "part_id": key[0], "col": key[1], "col_idx": key[2],
                "ptype": key[3], "n_chunks": 0, "n_values": 0,
                "n_nulls": 0, "raw_bytes": 0, "enc_bytes": 0,
                "codecs": set(), "vmin": None, "vmax": None,
                "run_id": run_id,
            }
        a["n_chunks"] += 1
        a["n_values"] += cols["n"][i]
        a["n_nulls"] += cols["n_nulls"][i]
        a["raw_bytes"] += cols["raw_bytes"][i]
        a["enc_bytes"] += cols["enc_bytes"][i]
        a["codecs"].add(cols["codec"][i])
        vmin, vmax = cols["vmin"][i], cols["vmax"][i]
        if vmin is not None and (a["vmin"] is None or vmin < a["vmin"]):
            a["vmin"] = vmin
        if vmax is not None and (a["vmax"] is None or vmax > a["vmax"]):
            a["vmax"] = vmax
    out = []
    for a in agg.values():
        a["codecs"] = sorted(a["codecs"])
        out.append(a)
    return out


def _commit_metadata_driver_side(out_dir: str, before: set[str],
                                 run_id: str,
                                 salts: dict | None = None) -> None:
    """Commit an encode run: its manifest is built from the block files its
    append added (every file not in ``before``), then the manifest and
    lineage appends are written driver-side with pyarrow instead of Spark
    jobs: the rows are metadata-scale (parts x cols), and each Spark job
    carries ~0.5 s of fixed driver latency in local mode — a serial tail
    that directly caps the N -> 4N scaling-efficiency quotient. Schemas
    mirror the Spark-written files EXACTLY (types checked by
    tests/test_direct.py mixed-writer round trip), so one table dir can
    carry appends from both writers. The lineage write lands LAST — it is
    the run's commit point (decode trusts only lineage-committed parts)."""
    snap = Snapshot.resolve(out_dir)
    added = [p for p, _ in snap.all_block_files if p not in before]
    man_rows = (_manifest_rows_driver_side(snap.fs, added, run_id)
                if added else [])
    man_cols = {f.name: [r[f.name] for r in man_rows]
                for f in _MANIFEST_ARROW}
    _atomic_parquet_append(
        snap.fs, f"{snap.root}/manifest",
        pa.Table.from_pydict(man_cols, schema=_MANIFEST_ARROW),
        f"part-direct-{run_id}.parquet",
    )
    per_part: dict[int, dict] = {}
    for r in man_rows:
        p = per_part.setdefault(
            r["part_id"],
            {"n_chunks": 0, "n_rows": 0, "raw_bytes": 0, "enc_bytes": 0},
        )
        p["n_chunks"] = max(p["n_chunks"], r["n_chunks"])
        p["n_rows"] = max(p["n_rows"], r["n_values"])
        p["raw_bytes"] += r["raw_bytes"]
        p["enc_bytes"] += r["enc_bytes"]
    now = time.time()
    lin_cols = {
        "part_id": list(per_part),
        "n_chunks": [p["n_chunks"] for p in per_part.values()],
        "n_rows": [p["n_rows"] for p in per_part.values()],
        "raw_bytes": [p["raw_bytes"] for p in per_part.values()],
        "enc_bytes": [p["enc_bytes"] for p in per_part.values()],
        "run_id": [run_id] * len(per_part),
        "status": ["done"] * len(per_part),
        "finished_at": [now] * len(per_part),
        "salts_json": [json.dumps(salts or {})] * len(per_part),
    }
    _atomic_parquet_append(
        snap.fs, f"{snap.root}/lineage",
        pa.Table.from_pydict(lin_cols, schema=LINEAGE_SCHEMA),
        f"part-direct-{run_id}.parquet",
    )


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

    with metrics.stage("plan"):
        splits = plan_splits(input_dir, target_rows_per_split,
                             target_bytes_per_split)
        done = set(completed_parts(spark, out_dir)) if resume else set()
        todo = [s for s in splits if s[0] not in done]

    if todo:
        acc = metrics.acc

        def encode_split(batches):
            for batch in batches:
                for row in batch.to_pylist():
                    pf = pq.ParquetFile(row["file"])
                    part_id = row["part_id"]
                    row_start, row_end = row["row_start"], row["row_end"]
                    chunk_id = 0
                    buf, buf_rows, buf_bytes = [], 0, 0
                    offset = 0  # rows streamed so far within the rg range
                    for rb in pf.iter_batches(
                        batch_size=chunk_rows,
                        row_groups=range(row["rg_start"], row["rg_end"]),
                        columns=columns,
                    ):
                        if row_start >= 0:  # sub-row-group split: clip the
                            lo = max(row_start - offset, 0)  # batch to the
                            hi = min(row_end - offset, rb.num_rows)  # range
                            offset += rb.num_rows
                            if offset >= row_end and hi <= lo:
                                break  # past our range: skip the tail decode
                            if hi <= lo:
                                continue
                            if (lo, hi) != (0, rb.num_rows):
                                rb = rb.slice(lo, hi - lo)
                        rb = _to_us_batch(rb)
                        buf.append(rb)
                        buf_rows += rb.num_rows
                        buf_bytes += rb.nbytes
                        if buf_rows >= chunk_rows or buf_bytes >= chunk_bytes:
                            yield _encode_chunk_to_rows(
                                pa.Table.from_batches(buf), part_id, chunk_id,
                                overrides, acc, run_id, profile,
                            )
                            chunk_id += 1
                            buf, buf_rows, buf_bytes = [], 0, 0
                    if buf:
                        yield _encode_chunk_to_rows(
                            pa.Table.from_batches(buf), part_id, chunk_id,
                            overrides, acc, run_id, profile,
                        )

        # LPT bin-packing into ~4x-slots tasks (lpt_frame): document-length
        # skew puts up to ~5x byte spread across equal-row splits, and a
        # table of many small files must not become one task per split (at
        # 100 TB a million small files would be a million tasks).
        # encode_split iterates every split row in its batch, and each
        # split keeps its own part_id, so (part, chunk) keys are unaffected.
        splits_df, n_tasks = lpt_frame(spark, todo, [s[6] for s in todo],
                                       SPLITS_SCHEMA, per_core=4)
        blocks = splits_df.mapInArrow(encode_split, schema=BLOCKS_SCHEMA)
        with metrics.stage("encode_write"):
            before = {p for p, _ in Snapshot.resolve(out_dir).all_block_files}
            # payload bytes are already entropy-coded: parquet-level snappy
            # on top is a wasted (re)compression pass on write AND a
            # decompression pass on every read (metadata columns are ~100 B)
            blocks.write.mode("append").option(
                "compression", "uncompressed"
            ).parquet(f"{out_dir}/blocks")

        with metrics.stage("manifest"):
            _commit_metadata_driver_side(out_dir, before, run_id)

    snap = metrics.snapshot()
    snap["run_id"] = run_id
    snap["skipped_parts"] = len(done)
    snap["n_splits"] = len(todo)
    snap["n_tasks"] = n_tasks if todo else 0
    snap["wall_sec"] = time.time() - t_start
    return snap
