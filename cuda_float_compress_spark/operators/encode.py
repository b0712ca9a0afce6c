"""The encode job: DataFrame -> compressed blocks + manifest + lineage.

Dataflow (SURVEY.md §3.4):

    read -> skewed_hosts (hash mode: one action over the key column)
         -> plan_partitions (the one shuffle: hash+salt part ids, placed
            whole, part p in task p mod min(n_parts, cores); or range)
         -> sortWithinPartitions(part_id, sort_keys)   (no extra shuffle)
         -> mapInArrow(block_writer: encode_part per part, parts back
            to back; each chunk's rows stably sorted by its
            low-cardinality string columns, then each column encoded;
            write_blocks writes the task's block file with pyarrow and
            returns only the block rows' metadata columns)
         -> commit_blocks: one action (toArrow) collects those stats;
            manifest and lineage built from them and written on the
            driver with pyarrow  (no listing or read of blocks/)

Every writer of an encoded table shares the three parts of this module:
:func:`encode_part` cuts one part's rows into chunks and encodes them,
:func:`block_writer` makes each task write its block rows to its own
file (:func:`write_blocks`), and :func:`commit_blocks` runs that job and
commits what it wrote. The encoders here and in ``operators/direct.py``,
``maintain.compact`` and ``maintain.reencode_columns`` (which keeps its
chunks and only writes and commits here) call them; no writer has a
chunk loop, a block write or a manifest of its own. So every writer but
``reencode_columns`` (which re-encodes single columns of kept chunks,
and must not reorder one column alone) stores each chunk's rows
clustered by its low-cardinality string columns (``_cluster_rows``; see
:func:`encode_part` for what stays unchanged).

Scale notes (100 TB, 1000 executors): every stage is embarrassingly parallel
after the single planned shuffle; block rows are ~chunk-sized (MBs) and
each task writes its own, so payloads never reach the JVM or the driver;
the commit collects ~100 B of metadata per block row and writes one row
per (part, column).
"""

from __future__ import annotations

import contextlib
import itertools
import json
import math
import time
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from cuda_float_compress_spark.metrics import EngineMetrics
from cuda_float_compress_spark.operators import chunks as C
from cuda_float_compress_spark.plans import plan_partitions, skewed_hosts
from cuda_float_compress_spark.snapshot import (
    LINEAGE_SCHEMA,
    MANIFEST_SCHEMA,
    Snapshot,
    _open,
)

#: one row per chunk x column: the payload beside its stats, as the task
#: writer (:func:`write_blocks`) stores it in ``blocks/``
_BLOCKS_ARROW = pa.schema(
    [
        ("part_id", pa.int32()),
        ("chunk_id", pa.int64()),
        ("col", pa.string()),
        ("col_idx", pa.int32()),
        ("ptype", pa.string()),
        ("codec", pa.string()),
        ("n", pa.int64()),
        ("n_nulls", pa.int64()),
        ("raw_bytes", pa.int64()),
        ("enc_bytes", pa.int64()),
        ("params", pa.string()),
        # zone-map stats (numeric/timestamp columns; null otherwise): enable
        # chunk pruning on the ENCODED table without touching payloads
        ("vmin", pa.int64()),
        ("vmax", pa.int64()),
        # exact per-chunk value sum for int32/int64 columns (null when the
        # sum leaves the int64 domain, and for other ptypes): lets
        # count/sum/min/max aggregate from METADATA alone
        # (operators/metadata_agg) — at 100 TB that is MBs instead of the
        # full decode
        ("vsum", pa.int64()),
        # provenance: which run wrote this block. decode/manifest only trust
        # blocks whose (part_id, run_id) is committed in lineage — a crash
        # between the blocks write and the lineage write leaves stale
        # partials that must never double-count or corrupt decode
        ("run_id", pa.string()),
        # optional per-(chunk, column) Bloom filter over distinct values
        # (operators/bloom.py): prunes equality/IN probes on columns whose
        # zone maps can't (high-cardinality, unsorted — e.g. url). Null
        # unless the encode opted the column in via ``bloom_cols``.
        ("bloom", pa.large_binary()),
        ("payload", pa.large_binary()),
    ]
)

#: what a writer's task returns for each block row it wrote: the metadata
#: columns the manifest aggregates (:func:`_manifest_rows`), never the
#: payload
_STATS_ARROW = pa.schema([_BLOCKS_ARROW.field(c) for c in (
    "part_id", "col", "col_idx", "ptype", "n", "n_nulls", "raw_bytes",
    "enc_bytes", "codec", "vmin", "vmax")])
STATS_SCHEMA = from_arrow_schema(_STATS_ARROW)

#: the task writer closes a row group at this many bytes of buffered block
#: rows: parquet-mr's ``parquet.block.size``, the row groups Spark's
#: parquet writer made of the same rows
_ROW_GROUP_BYTES = 128 << 20
# the payloads are unique and entropy-coded: a dictionary of them is a
# wasted hashing pass
_DICTIONARY_COLS = [f.name for f in _BLOCKS_ARROW
                    if not pa.types.is_large_binary(f.type)]


def _encode_chunk_to_rows(tbl: pa.Table, part_id: int, chunk_id: int,
                          overrides: dict, acc, run_id: str = "",
                          profile: str = "ratio",
                          bloom_cols: frozenset = frozenset()) -> pa.RecordBatch:
    cols = {name: [] for name in _BLOCKS_ARROW.names}
    data_cols = [c for c in tbl.column_names if c != "part_id"]
    for idx, name in enumerate(data_cols):
        col = tbl.column(name)
        # combine_chunks COPIES even when there is a single chunk (~60% of
        # the non-zstd encode time on web text); chunk(0) is zero-copy
        arr = col.chunk(0) if col.num_chunks == 1 else col.combine_chunks()
        ptype = C.ptype_of(arr.type)
        raw = C.raw_size_of(arr, ptype)
        codec, payload, params_json, n, n_nulls = C.encode_column_chunk(
            arr, ptype, overrides.get(name), profile
        )
        vmin = vmax = vsum = None
        if ptype in ("int64", "int32", "timestamp_us", "timestamp_ntz", "date32"):
            if n > n_nulls:
                nn = arr.drop_null() if n_nulls else arr
                np_vals = nn.to_numpy(zero_copy_only=False)
                if np_vals.dtype.kind == "M":
                    np_vals = np_vals.view("i8")
                vmin = int(np_vals.min())
                vmax = int(np_vals.max())
                if ptype in ("int64", "int32"):
                    # exact chunk sum for metadata-only aggregation; values
                    # summing past the int64 column domain store null
                    # (decode fallback). Fast path: when n * max|v| cannot
                    # reach 2^63, the int64 sum is provably overflow-free —
                    # the object-dtype sum (a per-value Python loop) is only
                    # needed for chunks that might actually wrap.
                    bound = max(abs(vmin), abs(vmax))
                    if len(np_vals) == 0:
                        vsum = 0
                    elif bound == 0 or len(np_vals) < (2 ** 63) // bound:
                        vsum = int(np_vals.sum(dtype=np.int64))
                    else:
                        s = int(np_vals.sum(dtype=object))
                        vsum = s if -(2 ** 63) <= s < 2 ** 63 else None
        elif ptype in ("float32", "float64") and n > n_nulls:
            # float zone maps: Spark-total-order int64 keys (NaN greatest,
            # -0.0 == 0.0 — chunks.float_key64). A chunk containing NaN
            # reports vmax = key(NaN) so ">= x" predicates never prune it.
            nn = arr.drop_null() if n_nulls else arr
            fv = nn.to_numpy(zero_copy_only=False).astype(np.float64)
            finite_or_inf = fv[~np.isnan(fv)]
            if len(finite_or_inf):
                vmin = C.float_key64(float(finite_or_inf.min()))
                vmax = (C.FLOAT_KEY_NAN if np.isnan(fv).any()
                        else C.float_key64(float(finite_or_inf.max())))
            elif len(fv):  # all-NaN chunk
                vmin = vmax = C.FLOAT_KEY_NAN
        elif ptype in ("string", "binary") and n > n_nulls:
            # string zone maps: order-preserving 7-byte big-endian prefixes
            # in the SAME int64 vmin/vmax columns (56 bits stays positive;
            # zero-pad preserves bytewise UTF8String order, the order Spark
            # compares strings with). min_max is one vectorized Arrow pass.
            mm = pc.min_max(arr)
            vmin = C.string_prefix64(mm["min"].as_py())
            vmax = C.string_prefix64(mm["max"].as_py())
        cols["part_id"].append(part_id)
        cols["chunk_id"].append(chunk_id)
        cols["col"].append(name)
        cols["col_idx"].append(idx)
        cols["ptype"].append(ptype)
        cols["codec"].append(codec)
        cols["n"].append(n)
        cols["n_nulls"].append(n_nulls)
        cols["raw_bytes"].append(raw)
        cols["enc_bytes"].append(len(payload))
        cols["params"].append(params_json)
        cols["vmin"].append(vmin)
        cols["vmax"].append(vmax)
        cols["vsum"].append(vsum)
        cols["run_id"].append(run_id)
        bloom = None
        if name in bloom_cols and n > n_nulls:
            from cuda_float_compress_spark.operators.bloom import bloom_build

            nn = arr.drop_null() if n_nulls else arr
            if ptype in ("string", "binary"):
                bloom = bloom_build(nn.to_pylist())
            elif ptype in ("float32", "float64"):
                # + 0.0 folds -0.0 into 0.0: the two compare equal
                bloom = bloom_build(v + 0.0 for v in nn.to_pylist())
            elif ptype != "list_float32":
                # int, date and timestamp columns hash the decimal text of
                # their zone-map int (days, micros) — the form
                # decode._bloom_literal gives a probe literal
                bloom = bloom_build(str(v) for v in np_vals.tolist())
        cols["bloom"].append(bloom)
        cols["payload"].append(payload)
        if acc is not None:
            acc["raw_bytes"].add(raw)
            acc["enc_bytes"].add(len(payload))
            acc["null_values"].add(n_nulls)
    if acc is not None:
        acc["rows"].add(tbl.num_rows)
        acc["chunks"].add(1)
    return pa.RecordBatch.from_pydict(cols, schema=_BLOCKS_ARROW)


# A clustering key is a string/binary column with at most one distinct
# value per 16 in a strided sample of at most 256: few enough groups that
# each run is long, sampled as select_bytes_codec samples, because a full
# count_distinct hashes every html/text value (~45x the sample's cost).
_KEY_SAMPLE = 256
_KEY_FRACTION = 16


def _cluster_rows(tbl: pa.Table) -> pa.Table:
    """``tbl``'s rows stably sorted by its clustering keys, fewest sampled
    distinct values first (ties in column order); ``tbl`` itself when it
    has none. The row-level analog of the reference bit-transposing each
    quant group before its zstd frame (src/cuszplus_f32.cu:18): rows of
    one ``lang`` side by side give zstd longer matches in every other
    column. Stable, so the caller's order survives in each key group."""
    n = tbl.num_rows
    at = pa.array(np.arange(0, n, max(1, -(-n // _KEY_SAMPLE))))
    keys = []
    for i, name in enumerate(tbl.column_names):
        col = tbl.column(name)
        if name == "part_id" or C.ptype_of(col.type) not in (
                "string", "binary"):
            continue
        sample = col.take(at)
        distinct = pc.count_distinct(sample, mode="all").as_py()
        if distinct <= len(sample) // _KEY_FRACTION:
            keys.append((distinct, i, name))
    if not keys:
        return tbl
    return tbl.take(pc.sort_indices(
        tbl, sort_keys=[(name, "ascending") for _, _, name in sorted(keys)]))


def encode_part(batches, part_id: int, chunk_rows: int, chunk_bytes: int,
                overrides: dict, acc=None, run_id: str = "",
                profile: str = "ratio", bloom_cols: frozenset = frozenset()):
    """Cut one part's Arrow batches into chunks and yield each chunk's
    block rows. A chunk closes at ``chunk_rows`` rows or ``chunk_bytes``
    bytes, whichever comes first: the Spark analog of the reference's
    fixed 32,768-float block (src/cuszplus_f32.cu:21-28), byte-capped
    because web-page rows are variable-width. A batch bigger than the
    chunk's remaining budget is sliced, by rows exactly and by bytes at
    the batch's mean row width, so the caps hold however the caller
    batches its rows. The one chunk cutter of every table writer.

    Each chunk's rows are permuted by :func:`_cluster_rows` before they
    are encoded: stably sorted by the string/binary columns (never
    ``part_id``) whose strided sample has few distinct values. Rows never
    move between chunks, so chunk membership, ``chunk_id``, ``n``,
    ``n_nulls``, ``vmin``/``vmax``/``vsum`` and the Bloom filters are
    what the unpermuted chunk would give, and pruning is unchanged. Only
    the payloads, ``enc_bytes``, the codec choice and the stored row
    order inside a chunk differ; a row's ``_pos`` is its stored
    position."""
    buf: list[pa.RecordBatch] = []
    buf_rows, buf_bytes, chunk_id = 0, 0.0, 0

    def cut() -> pa.RecordBatch:
        return _encode_chunk_to_rows(
            _cluster_rows(pa.Table.from_batches(buf)), part_id, chunk_id,
            overrides, acc, run_id, profile, bloom_cols,
        )

    for batch in batches:
        n = batch.num_rows
        width = batch.nbytes / n if n else 0.0
        off = 0
        while off < n:
            room = chunk_rows - buf_rows
            if width:
                room = min(room, max(1, math.ceil(
                    (chunk_bytes - buf_bytes) / width)))
            take = min(n - off, room)
            buf.append(batch.slice(off, take))
            buf_rows += take
            buf_bytes += take * width
            off += take
            if take == room:  # a cap is reached
                yield cut()
                buf, buf_rows, buf_bytes = [], 0, 0.0
                chunk_id += 1
    if buf:
        yield cut()


def _atomic_parquet_append(fs, dir_path: str, tbl: pa.Table,
                           name: str) -> None:
    """Append one parquet file to a dataset dir with atomic visibility:
    write under a dot-prefixed temp name (ignored by every parquet
    reader), then rename into place."""
    fs.create_dir(dir_path, recursive=True)
    tmp = f"{dir_path}/.inprogress-{name}"
    pq.write_table(tbl, tmp, filesystem=fs)
    fs.move(tmp, f"{dir_path}/{name}")


def _row_groups(blocks):
    """The non-empty batches of ``blocks`` gathered into tables of at
    least ``_ROW_GROUP_BYTES`` (the last one: what is left)."""
    buf, size = [], 0
    for batch in blocks:
        if batch.num_rows:
            buf.append(batch)
            size += batch.nbytes
            if size >= _ROW_GROUP_BYTES:
                yield pa.Table.from_batches(buf, _BLOCKS_ARROW)
                buf, size = [], 0
    if buf:
        yield pa.Table.from_batches(buf, _BLOCKS_ARROW)


def write_blocks(blocks, fs, root: str, run_id: str, partition: int):
    """Write one task's block rows (``blocks``: Arrow batches in
    ``_BLOCKS_ARROW``) to ``blocks/part-<run_id>-<partition>.parquet``
    under ``root`` on ``fs``, then yield their metadata columns
    (``STATS_SCHEMA``). The one writer of block files.

    The file is written under a dot-prefixed temp name, which every
    reader ignores, and renamed into place once complete, as
    :func:`_atomic_parquet_append` does. Its name depends only on the run
    and the task's partition, so a retried attempt replaces its
    predecessor's file instead of leaving a second copy of its rows. A
    row group closes at ``_ROW_GROUP_BYTES`` of buffered rows, so a task
    holds what Spark's parquet writer held. The file is uncompressed (the
    payloads are entropy-coded already) and carries no column statistics:
    readers prune by the block rows' own zone maps. A task without rows
    writes no file."""
    name = f"part-{run_id}-{partition:05d}.parquet"
    tmp = f"{root}/blocks/.inprogress-{name}"
    stats, writer = [], None
    try:
        for group in _row_groups(blocks):
            if writer is None:
                fs.create_dir(f"{root}/blocks", recursive=True)
                writer = pq.ParquetWriter(
                    tmp, _BLOCKS_ARROW, filesystem=fs, compression="none",
                    use_dictionary=_DICTIONARY_COLS, write_statistics=False,
                    store_schema=False)
            writer.write_table(group, row_group_size=group.num_rows)
            stats += group.select(_STATS_ARROW.names).to_batches()
    finally:
        if writer is not None:
            writer.close()
    if writer is not None:
        fs.move(tmp, f"{root}/blocks/{name}")
    yield from stats


def block_writer(rows_of, out_dir: str, run_id: str):
    """The ``mapInArrow`` function (output schema ``STATS_SCHEMA``) of a
    table writer whose tasks make their block rows with ``rows_of`` (a
    task's input batches -> block-row batches): each task writes its rows
    with :func:`write_blocks` and returns their metadata columns, the
    stats frame :func:`commit_blocks` commits. ``out_dir`` is resolved
    here, on the driver, so a scheme pyarrow cannot open raises before
    any Spark job runs."""
    fs, root = _open(out_dir)

    def write(batches):
        return write_blocks(rows_of(batches), fs, root, run_id,
                            TaskContext.get().partitionId())

    return write


def _manifest_rows(stats: pa.Table, run_id: str) -> pa.Table:
    """One manifest row per (part, col) of ``stats``, the metadata columns
    of run ``run_id``'s block rows: chunk count, value/null/byte sums,
    the sorted codec set, and the part-level zone-map rollups
    (null-skipping min vmin / max vmax) that ``decode.qualifying_parts``
    prunes whole parts by."""
    keys = ["part_id", "col", "col_idx", "ptype"]
    g = stats.group_by(keys).aggregate([
        ("n", "count"), ("n", "sum"), ("n_nulls", "sum"),
        ("raw_bytes", "sum"), ("enc_bytes", "sum"), ("codec", "distinct"),
        ("vmin", "min"), ("vmax", "max")])
    return pa.table({
        **{k: g[k] for k in keys},
        "n_chunks": g["n_count"], "n_values": g["n_sum"],
        "n_nulls": g["n_nulls_sum"], "raw_bytes": g["raw_bytes_sum"],
        "enc_bytes": g["enc_bytes_sum"],
        "codecs": pa.array([sorted(c) for c in g["codec_distinct"].to_pylist()],
                           MANIFEST_SCHEMA.field("codecs").type),
        "vmin": g["vmin_min"], "vmax": g["vmax_max"],
        "run_id": pa.repeat(pa.scalar(run_id), g.num_rows),
    }).cast(MANIFEST_SCHEMA)


def commit_blocks(stats: DataFrame, out_dir: str, run_id: str,
                  metrics: EngineMetrics | None = None,
                  salts: dict | None = None) -> pa.Table:
    """Run ``stats``, a frame of :func:`block_writer` tasks, and commit the
    block files they write as run ``run_id``; return the manifest rows
    written. The one commit of every table writer.

    The job is one action, ``toArrow``: each task writes its own block
    file and returns only the metadata columns of its block rows, so no
    payload crosses back into the JVM. The manifest is aggregated on the
    driver from those rows: ``blocks/`` is neither listed nor read, and
    stale files of a crashed earlier run never count. Manifest and
    lineage are appended on the driver with pyarrow: the rows are
    metadata-scale (parts x cols), and a Spark job costs ~0.5 s of fixed
    driver latency in local mode. The lineage append lands LAST: it is
    the run's commit point (readers trust only lineage-committed parts).
    Parts another run committed are refused before either append (two
    runs of one part make the table unreadable); ``maintain.vacuum``
    reclaims the refused block files."""
    stage = (metrics.stage if metrics is not None
             else lambda _: contextlib.nullcontext())
    with stage("encode_write"):
        written = stats.toArrow()

    with stage("manifest"):
        snap = Snapshot.resolve(out_dir)
        man = _manifest_rows(written, run_id)
        done = snap.committed_rows
        others = set(done.filter(pc.not_equal(
            done["run_id"], run_id))["part_id"].to_pylist())
        taken = sorted(others & set(man["part_id"].to_pylist()))
        if taken:
            raise ValueError(f"parts {taken} of {out_dir} are already "
                             "committed by another run; use part_offset")
        _atomic_parquet_append(snap.fs, f"{snap.root}/manifest", man,
                               f"part-direct-{run_id}.parquet")
        per = man.group_by("part_id").aggregate([
            ("n_chunks", "max"), ("n_values", "max"), ("raw_bytes", "sum"),
            ("enc_bytes", "sum")])
        n = per.num_rows
        _atomic_parquet_append(
            snap.fs, f"{snap.root}/lineage",
            pa.table({
                "part_id": per["part_id"], "n_chunks": per["n_chunks_max"],
                "n_rows": per["n_values_max"],
                "raw_bytes": per["raw_bytes_sum"],
                "enc_bytes": per["enc_bytes_sum"],
                "run_id": pa.repeat(pa.scalar(run_id), n),
                "status": pa.repeat(pa.scalar("done"), n),
                "finished_at": pa.repeat(pa.scalar(time.time()), n),
                "salts_json": pa.repeat(pa.scalar(json.dumps(salts or {})), n),
            }).cast(LINEAGE_SCHEMA),
            f"part-direct-{run_id}.parquet",
        )
    return man


def completed_parts(
    spark: SparkSession,
    out_dir: str,
    lo: int | None = None,
    hi: int | None = None,
) -> list[int]:
    """part_ids with a 'done' lineage record (checkpoint-resume source).
    ``lo``/``hi`` bound the scan to one part-id range — essential for
    streaming replay, where each epoch owns [epoch*n_parts, +n_parts) and
    collecting EVERY epoch's ids would grow the driver list and the isin()
    predicate without bound over the stream's lifetime."""
    rows = Snapshot.resolve(out_dir).committed_rows
    return sorted(
        p for p in set(rows["part_id"].to_pylist())
        if (lo is None or p >= lo) and (hi is None or p < hi)
    )


def salts_from_lineage(spark: SparkSession, out_dir: str) -> dict | None:
    """The most recent run's persisted salt map, or None if the table has no
    lineage yet. Reusing it (``encode_table(salts=...)``) makes the plan
    stage metadata-only — no input scan — which is the right call for
    periodic re-encodes and streaming epochs where the host distribution
    drifts slowly."""
    rows = Snapshot.resolve(out_dir).committed_rows
    if rows.num_rows == 0:
        return None
    latest = rows.sort_by([("finished_at", "descending")])["salts_json"][0]
    return None if latest.as_py() is None else json.loads(latest.as_py())


def encode_table(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    url_col: str = "url",
    n_parts: int = 32,
    mode: str = "hash",
    chunk_rows: int = 32_768,
    chunk_bytes: int = 1 << 24,
    sort_keys: list[str] | None = None,
    codec_overrides: dict | None = None,
    resume: bool = True,
    detect_skew: bool = True,
    salts: dict | None = None,
    skew_sample_fraction: float | None = None,
    run_id: str | None = None,
    metrics: EngineMetrics | None = None,
    part_offset: int = 0,
    profile: str = "ratio",
    pre_partitioned: bool = False,
    bloom_cols: list[str] | None = None,
) -> dict:
    """Encode ``df`` into ``out_dir``/{blocks,manifest,lineage}. Returns a
    metrics dict. Resumable: parts already marked done in lineage are skipped
    (left-anti semantics via a broadcast-sized NOT IN — the part list is
    metadata, not data).

    ``profile``: 'ratio' (default) or 'throughput' — see codecs/select.py;
    decode reads codec names from the manifest, so either profile's output
    (or a mix, e.g. after resume under a different profile) decodes
    bit-identically.

    ``part_offset`` shifts this run's part ids (streaming ingest gives each
    epoch a disjoint part range so block keys stay globally unique).
    Crash safety: blocks carry ``run_id``; manifest aggregates ONLY this
    run's blocks, and decode trusts only (part_id, run_id) pairs committed
    in lineage — stale partials from a crashed run are inert.

    ``pre_partitioned``: the caller already shuffled ``df`` and attached a
    ``part_id`` column (e.g. ``zorder.cluster_by_zorder``) — skip the
    internal hash/range plan and skew detection and encode as-is.

    ``bloom_cols``: columns to attach per-chunk Bloom filters to (see
    operators/bloom.py) — pay ~10 bits/distinct-value of metadata at encode
    time to prune equality/IN probes that zone maps can't."""
    run_id = run_id or uuid.uuid4().hex[:12]
    metrics = metrics or EngineMetrics(spark)
    overrides = codec_overrides or {}
    t_start = time.time()
    acc, blooms = metrics.acc, frozenset(bloom_cols or ())

    def encode_partition(batches):
        # parts arrive contiguous (sorted): split the stream at part_id
        # boundaries and cut each part's pieces into chunks
        def pieces():
            for batch in batches:
                if not batch.num_rows:
                    continue
                parts = batch.column("part_id").to_numpy(zero_copy_only=False)
                bounds = [0, *(np.flatnonzero(parts[1:] != parts[:-1]) + 1),
                          len(parts)]
                for lo, hi in zip(bounds, bounds[1:]):
                    yield int(parts[lo]), batch.slice(lo, hi - lo)

        for part_id, group in itertools.groupby(pieces(), key=lambda p: p[0]):
            yield from encode_part(
                (piece for _, piece in group), part_id, chunk_rows,
                chunk_bytes, overrides, acc, run_id, profile, blooms,
            )

    # built first: it resolves out_dir, so a scheme pyarrow cannot open
    # raises before the skew scan's Spark job
    write = block_writer(encode_partition, out_dir, run_id)

    with metrics.stage("plan"):
        # skew plan, cheapest-available source first: an explicit ``salts``
        # map (e.g. reused from a prior run's lineage via salts_from_lineage
        # — zero input scans) > a fresh scan, one action over the key
        # column (optionally sampled via ``skew_sample_fraction``: the same
        # plan over a ~0.1-1% sample — the right default at 100 TB)
        if pre_partitioned:
            if "part_id" not in df.columns:
                raise ValueError(
                    "pre_partitioned=True requires a part_id column "
                    "(see zorder.cluster_by_zorder)"
                )
            salts = {}
        elif salts is None:
            salts = (
                skewed_hosts(
                    df, url_col, n_parts, sample_fraction=skew_sample_fraction
                )
                if (detect_skew and mode == "hash")
                else {}
            )
        planned = (
            df if pre_partitioned
            else plan_partitions(df, url_col, n_parts, mode=mode, salts=salts)
        )
        if part_offset:
            planned = planned.withColumn(
                "part_id", (F.col("part_id") + F.lit(part_offset)).cast("int")
            )

    # this run's parts all lie in [part_offset, part_offset + n_parts), so
    # the resume filter only needs done ids from that range (constant-sized
    # even at streaming epoch 10^5)
    done = (
        completed_parts(spark, out_dir, part_offset, part_offset + n_parts)
        if resume
        else []
    )
    if done:
        planned = planned.filter(~F.col("part_id").isin(done))

    sort_cols = ["part_id"] + (sort_keys or [url_col])
    planned = planned.sortWithinPartitions(*sort_cols)

    commit_blocks(planned.mapInArrow(write, schema=STATS_SCHEMA), out_dir,
                  run_id, metrics, salts=salts)

    snap = metrics.snapshot()
    snap["run_id"] = run_id
    snap["skipped_parts"] = len(done)
    snap["salted_hosts"] = len(salts)
    snap["salts"] = dict(salts)  # reusable by the next epoch/run (salts=)
    snap["wall_sec"] = time.time() - t_start
    return snap
