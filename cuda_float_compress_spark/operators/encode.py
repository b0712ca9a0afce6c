"""The encode job: DataFrame -> compressed blocks + manifest + lineage.

Dataflow (SURVEY.md §3.4):

    read -> plan_partitions (explicit shuffle #1, hash+salt or range)
         -> sortWithinPartitions(part_id, sort_keys)   (no extra shuffle)
         -> mapInArrow(encode_part per part)            (shuffle-free)
         -> commit_blocks: append blocks parquet, then manifest and
            lineage written on the driver with pyarrow  (no Spark job)

Every writer of an encoded table shares the two halves of this module:
:func:`encode_part` cuts one part's rows into chunks and encodes them,
and :func:`commit_blocks` appends the block rows and commits them. The
encoders here and in ``operators/direct.py``, ``maintain.compact`` and
``maintain.reencode_columns`` (which keeps its chunks and only commits
here) call them; no writer has a chunk loop or a manifest of its own.

Scale notes (100 TB, 1000 executors): every stage is embarrassingly parallel
after the single planned shuffle; block rows are ~chunk-sized (MBs), so the
blocks write streams without driver involvement; the commit reads only the
new block files' metadata columns and writes one row per (part, column).
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
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cuda_float_compress_spark.metrics import EngineMetrics
from cuda_float_compress_spark.operators import chunks as C
from cuda_float_compress_spark.plans import plan_partitions, skewed_hosts
from cuda_float_compress_spark.snapshot import LINEAGE_SCHEMA, Snapshot

BLOCKS_SCHEMA = T.StructType(
    [
        T.StructField("part_id", T.IntegerType(), False),
        T.StructField("chunk_id", T.LongType(), False),
        T.StructField("col", T.StringType(), False),
        T.StructField("col_idx", T.IntegerType(), False),
        T.StructField("ptype", T.StringType(), False),
        T.StructField("codec", T.StringType(), False),
        T.StructField("n", T.LongType(), False),
        T.StructField("n_nulls", T.LongType(), False),
        T.StructField("raw_bytes", T.LongType(), False),
        T.StructField("enc_bytes", T.LongType(), False),
        T.StructField("params", T.StringType(), False),
        # zone-map stats (numeric/timestamp columns; null otherwise): enable
        # chunk pruning on the ENCODED table without touching payloads
        T.StructField("vmin", T.LongType(), True),
        T.StructField("vmax", T.LongType(), True),
        # exact per-chunk value sum for int32/int64 columns (null when the
        # sum leaves the int64 domain, for other ptypes, or in pre-r6
        # layouts): lets count/sum/min/max aggregate from METADATA alone
        # (operators/metadata_agg) — at 100 TB that is MBs instead of the
        # full decode
        T.StructField("vsum", T.LongType(), True),
        # provenance: which run wrote this block. decode/manifest only trust
        # blocks whose (part_id, run_id) is committed in lineage — a crash
        # between the blocks append and the lineage write leaves stale
        # partials that must never double-count or corrupt decode
        T.StructField("run_id", T.StringType(), False),
        # optional per-(chunk, column) Bloom filter over distinct values
        # (operators/bloom.py): prunes equality/IN probes on columns whose
        # zone maps can't (high-cardinality, unsorted — e.g. url). Null
        # unless the encode opted the column in via ``bloom_cols``.
        T.StructField("bloom", T.BinaryType(), True),
        T.StructField("payload", T.BinaryType(), False),
    ]
)

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
        ("vmin", pa.int64()),
        ("vmax", pa.int64()),
        ("vsum", pa.int64()),
        ("run_id", pa.string()),
        ("bloom", pa.large_binary()),
        ("payload", pa.large_binary()),
    ]
)


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
    batches its rows. The one chunk cutter of every table writer."""
    buf: list[pa.RecordBatch] = []
    buf_rows, buf_bytes, chunk_id = 0, 0.0, 0

    def cut() -> pa.RecordBatch:
        return _encode_chunk_to_rows(
            pa.Table.from_batches(buf), part_id, chunk_id, overrides, acc,
            run_id, profile, bloom_cols,
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

_MANIFEST_META_COLS = ["part_id", "col", "col_idx", "ptype", "n", "n_nulls",
                       "raw_bytes", "enc_bytes", "codec", "vmin", "vmax"]


def _atomic_parquet_append(fs, dir_path: str, tbl: pa.Table,
                           name: str) -> None:
    """Append one parquet file to a dataset dir with atomic visibility:
    write under a dot-prefixed temp name (ignored by every parquet
    reader), then rename into place."""
    fs.create_dir(dir_path, recursive=True)
    tmp = f"{dir_path}/.inprogress-{name}"
    pq.write_table(tbl, tmp, filesystem=fs)
    fs.move(tmp, f"{dir_path}/{name}")


def _manifest_rows(fs, blk_files: list[str], run_id: str) -> list[dict]:
    """One manifest row per (part, col) of run ``run_id``, aggregated from
    the block files' METADATA columns (payloads are never read): chunk
    count, value/null/byte sums, the sorted codec set, and the part-level
    zone-map rollups (null-skipping min vmin / max vmax) that
    ``decode.qualifying_parts`` prunes whole parts by."""
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


def commit_blocks(blocks: DataFrame, out_dir: str, run_id: str,
                  metrics: EngineMetrics | None = None,
                  salts: dict | None = None) -> list[dict]:
    """Append ``blocks`` to ``out_dir/blocks`` and commit them as run
    ``run_id``; return the manifest rows written. The one write-and-commit
    of every table writer.

    Blocks are written ``uncompressed``: the payloads are already
    entropy-coded, so parquet-level snappy would be a wasted pass on the
    write and on every read (the metadata columns are ~100 B). The
    manifest aggregates only the block files this append added (every
    file not listed before it), so stale partials of a crashed earlier
    run never count. Manifest and lineage are appended on the driver with
    pyarrow: the rows are metadata-scale (parts x cols), and a Spark job
    costs ~0.5 s of fixed driver latency in local mode. The lineage
    append lands LAST: it is the run's commit point (readers trust only
    lineage-committed parts)."""
    stage = (metrics.stage if metrics is not None
             else lambda _: contextlib.nullcontext())
    with stage("encode_write"):
        before = {p for p, _ in Snapshot.resolve(out_dir).all_block_files}
        blocks.write.mode("append").option(
            "compression", "uncompressed"
        ).parquet(f"{out_dir}/blocks")

    with stage("manifest"):
        snap = Snapshot.resolve(out_dir)
        added = [p for p, _ in snap.all_block_files if p not in before]
        man_rows = _manifest_rows(snap.fs, added, run_id) if added else []
        _atomic_parquet_append(
            snap.fs, f"{snap.root}/manifest",
            pa.Table.from_pylist(man_rows, schema=_MANIFEST_ARROW),
            f"part-direct-{run_id}.parquet",
        )
        per_part: dict[int, dict] = {}
        for r in man_rows:
            p = per_part.setdefault(r["part_id"], {
                "part_id": r["part_id"], "n_chunks": 0, "n_rows": 0,
                "raw_bytes": 0, "enc_bytes": 0, "run_id": run_id,
                "status": "done", "salts_json": json.dumps(salts or {}),
            })
            p["n_chunks"] = max(p["n_chunks"], r["n_chunks"])
            p["n_rows"] = max(p["n_rows"], r["n_values"])
            p["raw_bytes"] += r["raw_bytes"]
            p["enc_bytes"] += r["enc_bytes"]
        now = time.time()
        _atomic_parquet_append(
            snap.fs, f"{snap.root}/lineage",
            pa.Table.from_pylist([dict(p, finished_at=now)
                                  for p in per_part.values()],
                                 schema=LINEAGE_SCHEMA),
            f"part-direct-{run_id}.parquet",
        )
    return man_rows


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
    if rows is None:
        return []
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
    if rows is None or rows.num_rows == 0:
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

    with metrics.stage("plan"):
        # skew plan, cheapest-available source first: an explicit ``salts``
        # map (e.g. reused from a prior run's lineage via salts_from_lineage
        # — zero input scans) > a fresh scan (optionally sampled via
        # ``skew_sample_fraction``: one job over a ~0.1-1% sample instead of
        # two exact passes — the right default at 100 TB)
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

    blocks = planned.mapInArrow(encode_partition, schema=BLOCKS_SCHEMA)
    commit_blocks(blocks, out_dir, run_id, metrics, salts=salts)

    snap = metrics.snapshot()
    snap["run_id"] = run_id
    snap["skipped_parts"] = len(done)
    snap["salted_hosts"] = len(salts)
    snap["salts"] = dict(salts)  # reusable by the next epoch/run (salts=)
    snap["wall_sec"] = time.time() - t_start
    return snap
