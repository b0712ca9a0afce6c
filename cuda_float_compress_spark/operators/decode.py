"""The decode job: blocks parquet -> the original DataFrame, bit-identical.

One chunk assembler, :func:`assemble_chunks`, rebuilds chunks from block
rows for every reader: the Spark transport (:func:`decode_table`), the
Spark-free ``localio.read_table_local`` and ``maintain.compact``, which
runs on the same transport. It keeps the rows of committed ``(part_id,
run_id)`` pairs and of kept chunks, refuses a ``(part_id, chunk_id,
col)`` seen twice, null-fills columns a chunk predates and casts to the
standard Arrow types.

It is also the one row filter: it drops each chunk's tombstoned rows
and the rows :func:`exact_mask` (Spark SQL semantics over the decoded
Arrow arrays) rejects, so every reader returns the same rows for the
same predicate, and no join or filter runs after the decode.

The Spark transport reads block files inside the Python workers. Chunk
pruning (:func:`prune`) runs on the driver over ``Snapshot.chunk_stats``;
only the block files holding a kept chunk (``Snapshot.file_groups``,
one entry per file) are LPT-packed into one task per core. Each task
reads its files with pyarrow, one at a time, so block rows are never
shuffled and decoded rows cross into the JVM once, after the row
filter. Columns a read does not want are never decoded.
"""

from __future__ import annotations

import functools

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cuda_float_compress_spark.operators import chunks as C
from cuda_float_compress_spark.operators.bloom import bloom_contains
from cuda_float_compress_spark.session import lpt_frame
from cuda_float_compress_spark.snapshot import Snapshot

_SPARK_TYPE = {
    "string": "string",
    "binary": "binary",
    "timestamp_us": "timestamp",
    "timestamp_ntz": "timestamp_ntz",
    "int64": "long",
    "int32": "int",
    "float32": "float",
    "float64": "double",
    "date32": "date",
    "list_float32": "array<float>",
}

_STD_ARROW = {
    "string": pa.string(),
    "binary": pa.binary(),
    "timestamp_us": pa.timestamp("us", tz="UTC"),
    "timestamp_ntz": pa.timestamp("us"),
    "int64": pa.int64(),
    "int32": pa.int32(),
    "float32": pa.float32(),
    "float64": pa.float64(),
    "date32": pa.date32(),
    "list_float32": pa.list_(pa.float32()),
}


def snapshots(spark: SparkSession, out_dir: str) -> DataFrame:
    """Commit history of an encoded dir (Iceberg-style snapshot listing):
    one row per committed run with its finish time, parts, and sizes."""
    lin = spark.createDataFrame(Snapshot.resolve(out_dir).committed_rows)
    return (
        lin.groupBy("run_id")
        .agg(
            F.max("finished_at").alias("committed_at"),
            F.count("*").alias("n_parts"),
            F.sum("n_rows").alias("n_rows"),
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("enc_bytes").alias("enc_bytes"),
        )
        .orderBy("committed_at")
    )


def committed_blocks(
    spark: SparkSession, out_dir: str, as_of: float | None = None,
    since: float | None = None,
) -> DataFrame:
    """Block rows, as a Spark DataFrame, whose ``(part_id, run_id)`` is
    committed in the ``as_of``/``since`` window of ``snapshot.Snapshot``
    (a broadcast semi-join on its pairs). A public view for tools and
    probes: the engine's readers and writers read block files through the
    Snapshot's file groups."""
    snap = Snapshot.resolve(out_dir, as_of=as_of, since=since)
    blocks = spark.read.parquet(f"{snap.out_dir}/blocks")
    pairs = sorted(snap.pairs)
    lin = spark.createDataFrame(pa.table({
        "part_id": pa.array([p for p, _ in pairs], pa.int32()),
        "run_id": pa.array([r for _, r in pairs], pa.string())}))
    return blocks.join(F.broadcast(lin), ["part_id", "run_id"], "left_semi")


_TS_PTYPES = ("timestamp_us", "timestamp_ntz")


def _predicate_value(v, ptype: str) -> int:
    """Normalize a predicate literal to the engine's int64 domain for the
    column's ptype: DAYS for date32 (zone-map vmin/vmax of date columns are
    stored in days), MICROSECONDS for timestamps, order-preserving 7-byte
    prefixes for string/binary (see chunks.string_prefix64)."""
    import datetime as _dt

    if ptype in ("string", "binary"):
        from cuda_float_compress_spark.operators.chunks import string_prefix64

        return string_prefix64(v)
    if ptype in ("float32", "float64"):
        import math

        from cuda_float_compress_spark.operators.chunks import float_key64

        if math.isnan(float(v)):
            raise ValueError(
                "NaN predicate literals are not supported (Spark's NaN "
                "equality semantics differ from SQL; filter explicitly)"
            )
        return float_key64(v)
    if ptype == "date32":
        if isinstance(v, _dt.datetime):
            v = v.date()
        if isinstance(v, _dt.date):
            return (v - _dt.date(1970, 1, 1)).days
        return int(v)  # already days-since-epoch
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return int((v - _dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    if isinstance(v, _dt.date):
        return int(
            (_dt.datetime(v.year, v.month, v.day) - _dt.datetime(1970, 1, 1))
            .total_seconds() * 1_000_000
        )
    return int(v)


def _bloom_literal(v, ptype: str):
    """A probe literal in the form the encoder hashed the column's values
    (bloom_hashes hashes ``str(value)``; see the bloom build in
    encode.py). Probing another form — ``123`` against a float column
    hashes ``b"123"`` where the build side hashed ``b"123.0"`` — yields a
    false "definitely absent" and silently prunes matching chunks.
    Int literals that are not integral stay as-is: no int equals them."""
    if ptype in ("int64", "int32"):
        try:
            iv = int(v)
            if iv == v:
                return iv
        except (TypeError, ValueError):
            pass
        return v
    if ptype in ("date32",) + _TS_PTYPES:
        return _predicate_value(v, ptype)
    if ptype == "float32":
        import numpy as np

        return float(np.float32(v)) + 0.0
    if ptype == "float64":
        return float(v) + 0.0
    return v


_EXACT_STAT_PTYPES = (
    "int64", "int32", "timestamp_us", "timestamp_ntz", "date32",
    "float32", "float64",
)


# the range ops, each with its Arrow comparison
_CMP = {"<": pc.less, "<=": pc.less_equal, ">": pc.greater,
        ">=": pc.greater_equal}


def _literal(op: str, value, ptype: str) -> tuple[str, list, list]:
    """How a predicate is read, by the pruner and the row filter alike:
    its op (``=`` is ``==``), its non-null members (one unless ``in``; a
    null literal matches no row) and their :func:`_predicate_value`
    keys."""
    if op not in ("==", "=", "in", *_CMP):
        raise ValueError(f"unsupported predicate op: {op!r}")
    members = [m for m in (value if op == "in" else [value])
               if m is not None]
    return (("==" if op == "=" else op), members,
            [_predicate_value(m, ptype) for m in members])


def _keep_mask(rows: pa.Table, op: str, value, ptype: str,
               covered: bool) -> pa.Array:
    """Per stats row of one predicate's column: might the predicate hold
    for some row of the chunk (``covered``: provably for every row)?"""
    vmin, vmax = rows["vmin"], rows["vmax"]
    op, members, keys = _literal(op, value, ptype)
    if not members:
        return pa.array([False] * rows.num_rows)
    if covered:
        # nulls fail every predicate, so a chunk holding any is never
        # covered; only exact stats can prove a bound
        if op in _CMP:
            hit = _CMP[op](vmax if op[0] == "<" else vmin, keys[0])
        else:
            hit = pa.array([False] * rows.num_rows)
            for k in keys:
                hit = pc.or_kleene(hit, pc.and_kleene(pc.equal(vmin, k),
                                                      pc.equal(vmax, k)))
        exact = pc.and_(pc.and_(pc.is_valid(vmin), pc.is_valid(vmax)),
                        pc.equal(rows["n_nulls"], 0))
        return pc.fill_null(pc.and_kleene(exact, hit), False)
    # null stats were never measured: keep
    if op in (">=", ">"):
        return pc.fill_null(pc.greater_equal(vmax, keys[0]), True)
    if op in ("<=", "<"):
        return pc.fill_null(pc.less_equal(vmin, keys[0]), True)
    blooms = (rows["bloom"].to_pylist() if "bloom" in rows.column_names
              else [None] * rows.num_rows)
    hit = pa.array([False] * rows.num_rows)
    for m, k in zip(members, keys):
        # equality probes: the zone map must span the literal, and a Bloom
        # filter's "definitely absent" prunes (probed with the literal in
        # the form the encoder hashed)
        lit = _bloom_literal(m, ptype)
        maybe = pa.array([b is None or bloom_contains(b, lit)
                          for b in blooms])
        span = pc.or_kleene(pc.is_null(vmin), pc.and_kleene(
            pc.less_equal(vmin, k), pc.greater_equal(vmax, k)))
        hit = pc.or_kleene(hit, pc.and_kleene(span, maybe))
    return pc.fill_null(hit, False)


def prune(stats: pa.Table, predicates: list[tuple], covered: bool = False,
          keys: tuple = ("part_id", "chunk_id")) -> set[tuple]:
    """The keys (default ``(part_id, chunk_id)``) of ``stats`` rows whose
    zone maps and Bloom filters MIGHT satisfy all ``predicates``; with
    ``covered``, those where every row provably does. The one chunk
    pruner: every reader calls it on the driver over
    ``Snapshot.chunk_stats`` (:func:`qualifying_parts` keyed by part).

    ``stats`` holds ``col, ptype, vmin, vmax`` and optionally ``n_nulls``
    and ``bloom`` per key and column. Null stats keep a key. A key with
    no stats row for a predicate's column is dropped: its rows predate
    the column and decode it as null, which no predicate matches. Only
    exact stats cover: string zone maps are prefixes, so a string
    predicate covers nothing."""
    out = set(zip(*(stats[k].to_pylist() for k in keys)))
    for col, op, value in predicates:
        rows = stats.filter(pc.equal(stats["col"], col))
        ptype = rows["ptype"][0].as_py() if rows.num_rows else None
        if covered and ptype not in _EXACT_STAT_PTYPES:
            return set()
        if rows.num_rows:
            rows = rows.filter(_keep_mask(rows, op, value, ptype, covered))
        out &= set(zip(*(rows[k].to_pylist() for k in keys)))
    return out


def pruned_keys(stats: pa.Table, predicates: list[tuple] | None,
                any_of: list[list[tuple]] | None) -> set[tuple] | None:
    """``(part_id, chunk_id)`` keys a read with ``predicates`` (AND) and
    ``any_of`` (OR of conjunctions) must decode; None keeps every chunk."""
    keep = prune(stats, predicates) if predicates else None
    if any_of:
        union = set().union(*(prune(stats, conj) for conj in any_of))
        keep = union if keep is None else keep & union
    return keep


def qualifying_chunks(blocks: DataFrame, predicates: list[tuple]) -> DataFrame:
    """``(part_id, chunk_id)`` keys of the block rows in ``blocks`` whose
    stats MIGHT satisfy all predicates: :func:`prune` over the collected
    stat columns (the payload column is never read)."""
    stats = blocks.select(*(c for c in ("part_id", "chunk_id", "col",
                                        "ptype", "vmin", "vmax", "bloom")
                            if c in blocks.columns)).toArrow()
    keys = sorted(prune(stats, predicates))
    return blocks.sparkSession.createDataFrame(pa.table({
        "part_id": pa.array([p for p, _ in keys], pa.int32()),
        "chunk_id": pa.array([c for _, c in keys], pa.int64())}))


def qualifying_parts(
    spark: SparkSession, out_dir: str, predicates: list[tuple]
) -> list[int]:
    """Part ids that, for each of ``predicates``, hold a chunk whose stats
    might satisfy it: :func:`prune` over ``Snapshot.chunk_stats`` keyed
    by part. Conservative by construction: null stats keep the part, and a
    column no committed run knows keeps every part."""
    stats = Snapshot.resolve(out_dir).chunk_stats
    known = set(stats["col"].to_pylist())
    return sorted(p for (p,) in prune(
        stats, [pr for pr in predicates if pr[0] in known],
        keys=("part_id",)))


def _row_match(arr: pa.Array, ptype: str, op: str, value) -> pa.Array:
    """Per row of one decoded column: does ``(op, value)`` hold?"""
    op, members, keys = _literal(op, value, ptype)
    if not members:
        return pa.repeat(pa.scalar(False), len(arr))
    if ptype in ("date32",) + _TS_PTYPES:
        arr = arr.cast(pa.int32() if ptype == "date32" else pa.int64())
        members = keys
    elif ptype in ("float32", "float64"):
        # adding 0.0 folds -0.0 into 0.0 (``keys`` refused a NaN literal)
        arr = pc.add(arr.cast(pa.float64()), 0.0)
        members = [float(m) + 0.0 for m in members]
    if op in _CMP:
        hit = _CMP[op](arr, members[0])
        if op[0] == ">" and ptype in ("float32", "float64"):
            hit = pc.or_(hit, pc.is_nan(arr))  # NaN is above every value
    else:
        hit = pc.is_in(arr, value_set=pa.array(members))
    return pc.fill_null(hit, False)


def exact_mask(cols: list[tuple[str, str]], arrays: list[pa.Array],
               predicates: list[tuple] | None = None,
               any_of: list[list[tuple]] | None = None) -> pa.Array:
    """Per row of one decoded chunk (``arrays``, one per ``cols`` entry,
    holding every predicate column): does it satisfy all ``predicates``
    and one conjunction of ``any_of``? The one exact row filter;
    :func:`assemble_chunks` calls it for every reader. It follows Spark
    SQL, in the order the zone maps encode: nulls match nothing, ``in``
    is ``==`` to any of its non-null members, NaN is greater than every
    value (a NaN literal is refused), -0.0 equals 0.0, float32 compares
    as float64, and date and timestamp literals compare as
    :func:`_predicate_value` days and microseconds."""
    by_name, ptypes = dict(zip((c for c, _ in cols), arrays)), dict(cols)
    true = pa.repeat(pa.scalar(True), len(arrays[0]))

    def conj(preds):
        hit = true
        for col, op, value in preds:
            hit = pc.and_(hit, _row_match(by_name[col], ptypes[col], op,
                                          value))
        return hit

    mask = conj(predicates or [])
    if any_of:
        mask = pc.and_(mask, functools.reduce(pc.or_, map(conj, any_of)))
    return mask


_BLOCK_COLS = ["part_id", "chunk_id", "col", "codec", "n", "n_nulls",
               "params", "run_id", "payload"]


def read_group(fs, path: str) -> pa.Table:
    """The block rows of one block file (a ``Snapshot.file_groups``
    entry; mmap, single-threaded: decode tasks already fill the
    cores)."""
    return pq.ParquetFile(path, filesystem=fs).read(columns=_BLOCK_COLS,
                                                    use_threads=False)


def kept_groups(snap: Snapshot, keep: set | None) -> list[tuple]:
    """The ``(path, size, keys)`` file groups of ``snap`` holding a chunk
    of ``keep`` (every group when None)."""
    return [(path, size, keys) for path, size, keys in snap.file_groups
            if keep is None or not keys.isdisjoint(keep)]


def _offsets(lists: list) -> pa.Array:
    """Arrow list offsets of ``lists``: the running sum of their lengths."""
    return pa.array(np.cumsum([0, *map(len, lists)]), pa.int32())


def group_frame(spark: SparkSession, groups: list[tuple],
                deleted: dict | None = None) -> DataFrame:
    """One row per file group (``(path, size, keys)``, as
    ``Snapshot.file_groups``), LPT-packed by bytes into one task per
    core: the task plan of the decode transport and of the maintenance
    jobs that run on it. A row carries its path and the ``deleted``
    positions of its own chunks, so a task receives the tombstones of
    its files, never the table's whole set. Read the rows back with
    :func:`frame_groups`."""
    deleted = deleted or {}
    dels = [[k for k in keys if k in deleted] for *_, keys in groups]
    keys = [k for ks in dels for k in ks]
    pos = [deleted[k] for k in keys]
    chunk_dels = pa.StructArray.from_arrays([
        pa.array([p for p, _ in keys], pa.int32()),
        pa.array([c for _, c in keys], pa.int64()),
        pa.ListArray.from_arrays(_offsets(pos), pa.array(
            np.concatenate([np.empty(0, np.int64), *pos]))),
    ], names=["part_id", "chunk_id", "pos"])
    rows = pa.table({
        "file": pa.array([path for path, *_ in groups], pa.string()),
        "deleted": pa.ListArray.from_arrays(_offsets(dels), chunk_dels),
    })
    return lpt_frame(spark, rows, [size for _, size, _ in groups])[0]


def frame_groups(batches):
    """``(path, deleted)`` per :func:`group_frame` row of a task's Arrow
    batches; ``deleted`` is the ``deleted`` argument of
    :func:`assemble_chunks`."""
    for batch in batches:
        for path, dels in zip(batch.column("file").to_pylist(),
                              batch.column("deleted")):
            d = dels.values
            yield path, {k: p.values.to_numpy() for k, p in zip(
                zip(d.field("part_id").to_pylist(),
                    d.field("chunk_id").to_pylist()), d.field("pos"))}


def assemble_chunks(blocks: pa.Table, cols: list[tuple[str, str]],
                    pairs: frozenset, keep: set | None = None,
                    deleted: dict | None = None, verify: bool = True,
                    predicates: list[tuple] | None = None,
                    any_of: list[list[tuple]] | None = None):
    """Decode the chunks of ``blocks``, the block rows of one block file,
    in ``(part_id, chunk_id)`` order. Yields ``(part_id,
    chunk_id, pos, arrays)``: one array per ``cols`` entry holding the
    chunk's kept rows, and ``pos``, each kept row's int64 position in the
    chunk as written (the ``_pos`` address, before any delete).

    Rows outside the committed ``pairs`` or the ``keep`` chunk keys (None:
    every chunk) are skipped. A ``(part_id, chunk_id, col)`` seen twice
    raises ``ValueError``: one of the rows would silently win. A column
    the chunk predates decodes as nulls, so a chunk holding no wanted
    column still yields its rows. ``deleted`` maps a chunk key to the
    row positions its tombstones drop; ``predicates`` (AND) and
    ``any_of`` (OR of conjunctions) keep only the rows
    :func:`exact_mask` passes, so their columns must be in ``cols``. A
    chunk with neither is yielded as decoded."""
    part, chunk, names, codecs, ns, nnulls, params, runs = (
        blocks[c].to_pylist() for c in _BLOCK_COLS[:-1])
    payloads = blocks["payload"]
    rows: dict[tuple, dict] = {}
    for i, key in enumerate(zip(part, chunk)):
        if ((key[0], runs[i]) not in pairs
                or (keep is not None and key not in keep)):
            continue
        colmap = rows.setdefault(key, {})
        if names[i] in colmap:
            raise ValueError(
                f"duplicate block for part={key[0]} chunk={key[1]} "
                f"col={names[i]}: conflicting rows in one block file"
            )
        colmap[names[i]] = i
    for key in sorted(rows):
        colmap = rows[key]
        n_rows = ns[next(iter(colmap.values()))]
        arrays = []
        for c, ptype in cols:
            i = colmap.get(c)
            if i is None:
                arrays.append(pa.nulls(n_rows, _STD_ARROW[ptype]))
                continue
            arr = C.decode_column_chunk(payloads[i].as_py(), codecs[i],
                                        params[i], ns[i], nnulls[i], ptype,
                                        verify=verify)
            if not arr.type.equals(_STD_ARROW[ptype]):
                arr = arr.cast(_STD_ARROW[ptype])
            arrays.append(arr)
        live = (exact_mask(cols, arrays, predicates, any_of).to_numpy(
            zero_copy_only=False) if predicates or any_of else None)
        gone = (deleted or {}).get(key)
        if gone is not None:
            live = np.ones(n_rows, dtype=bool) if live is None else live
            live[gone[gone < n_rows]] = False
        if live is None:
            yield key[0], key[1], np.arange(n_rows), arrays
        else:
            kept = pa.array(live)
            yield (key[0], key[1], np.flatnonzero(live),
                   [a.filter(kept) for a in arrays])


def read_columns(table_cols: list[tuple[str, str]],
                 columns: list[str] | None,
                 predicates: list[tuple] | None = None,
                 any_of: list[list[tuple]] | None = None,
                 ) -> tuple[list[tuple[str, str]], list[int]]:
    """The ``(col, ptype)`` of ``table_cols`` a read decodes: those it
    returns and those its predicates test. Also returns the index in
    them of each returned column, in ``columns`` order (every column in
    table order when None). A column the table lacks raises
    ``ValueError``."""
    if columns is None:
        return table_cols, list(range(len(table_cols)))
    names = [c for c, _ in table_cols]
    missing = [c for c in columns if c not in names]
    if missing:
        raise ValueError(f"unknown column(s) {missing}; the table has "
                         f"{names}")
    want = set(columns) | {c for c, _, _ in (predicates or [])} | {
        c for conj in (any_of or []) for c, _, _ in conj}
    cols = [(c, p) for c, p in table_cols if c in want]
    names = [c for c, _ in cols]
    return cols, [names.index(c) for c in columns]


def decode_table(
    spark: SparkSession,
    out_dir: str,
    columns: list[str] | None = None,
    predicates: list[tuple] | None = None,
    as_of: float | None = None,
    parts: list[int] | None = None,
    apply_deletes: bool = True,
    any_of: list[list[tuple]] | None = None,
    since: float | None = None,
    with_row_address: bool = False,
    chunk_keys: set | None = None,
) -> DataFrame:
    """Decode the encoded table (also importable as
    ``operators.direct.decode_table_direct``).

    ``predicates``: [(col, op, literal)] with op in <, <=, ==, =, >=, >,
    in (AND). Zone maps and Bloom filters prune whole chunks on the driver
    before any payload is read (the encoded format's analog of parquet
    predicate pushdown); the exact row filter, :func:`exact_mask`, then
    runs in the decode task on each decoded chunk.
    ``any_of``: a DISJUNCTION of conjunctions, [[...], [...]] meaning
    (conj1 OR conj2): chunk pruning keeps the UNION of each
    conjunction's chunks and the row filter is the matching OR.
    Composes with ``predicates`` as a further AND.
    ``as_of`` / ``since`` (epoch seconds): lineage-timestamp snapshot and
    incremental windows (see ``snapshot.Snapshot``).
    ``parts``: decode only these part ids (incremental consumers: the
    part_id is the unit of progress).
    ``chunk_keys``: decode only these ``(part_id << 32 | chunk_id)`` keys
    (metadata_agg decodes only its BOUNDARY chunks this way).
    ``parts``, ``chunk_keys`` and predicate pruning intersect.
    ``apply_deletes``: drop the rows of committed tombstones
    (operators/deletes) in the decode task, on by default so
    merge-on-read deletes are never resurrected.
    ``columns``: the columns returned, in this order (every column in
    table order when None); a column the table lacks raises
    ``ValueError``.
    ``with_row_address``: emit the stable (_part_id, _chunk_id, _pos)
    address columns last (delete_rows computes tombstones from them);
    ``_pos`` is the row's position as stored in its chunk.

    The returned DataFrame is the decode task's output as it is: no
    join, filter or projection runs after it. Each chunk's rows come in
    stored order, which is not the source order: ``encode.encode_part``
    clusters a chunk's rows before encoding them."""
    snap = Snapshot.resolve(out_dir, as_of=as_of, since=since)
    cols, out = read_columns(snap.columns, columns, predicates, any_of)
    keep = pruned_keys(snap.chunk_stats, predicates, any_of)
    restrict = []
    if chunk_keys is not None:
        restrict.append({(k >> 32, k & 0xFFFFFFFF) for k in chunk_keys})
    if parts is not None:
        ps = {int(p) for p in parts}
        restrict.append({k for *_, keys in snap.file_groups for k in keys
                         if k[0] in ps})
    for r in restrict:
        keep = r if keep is None else keep & r

    emit = [cols[i] for i in out] + (
        [("_part_id", "int32"), ("_chunk_id", "int64"), ("_pos", "int64")]
        if with_row_address else [])
    arrow_schema = pa.schema([pa.field(c, _STD_ARROW[p]) for c, p in emit])
    out_schema = ", ".join(f"`{c}` {_SPARK_TYPE[p]}" for c, p in emit)

    # the workers read block files directly with pyarrow, so the lineage
    # trust filter and the kept keys ship as closure sets
    # (metadata-scale); each group's deleted positions ride in its row
    groups_df = group_frame(spark, kept_groups(snap, keep),
                            snap.deleted_positions if apply_deletes else None)
    fs, pairs = snap.fs, snap.pairs

    def decode_groups(batches):
        for path, deleted in frame_groups(batches):
            for part_id, chunk_id, pos, arrays in assemble_chunks(
                    read_group(fs, path), cols, pairs, keep, deleted,
                    predicates=predicates, any_of=any_of):
                arrays = [arrays[i] for i in out]
                if with_row_address:
                    n = len(pos)
                    arrays += [
                        pa.array(np.full(n, part_id, dtype=np.int32)),
                        pa.array(np.full(n, chunk_id, dtype=np.int64)),
                        pa.array(pos)]
                yield pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)

    return groups_df.mapInArrow(decode_groups, schema=out_schema)
