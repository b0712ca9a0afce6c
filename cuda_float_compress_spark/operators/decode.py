"""The decode job: blocks parquet -> the original DataFrame, bit-identical.

One chunk assembler, :func:`assemble_chunks`, rebuilds chunks from block
rows for every reader: the Spark transport (:func:`decode_table`), the
Spark-free ``localio.read_table_local`` and ``maintain.compact``. It keeps
the rows of committed ``(part_id, run_id)`` pairs and of kept chunks,
refuses a ``(part_id, chunk_id, col)`` seen twice, null-fills columns a
chunk predates and casts to the standard Arrow types.

The Spark transport reads block files inside the Python workers. Chunk
pruning (:func:`prune`) runs on the driver over ``Snapshot.chunk_stats``;
``Snapshot.file_groups`` splits the block files into groups that share
no chunk, and only the groups holding a kept chunk are LPT-packed into
one task per core. Each task reads its groups with pyarrow, so block
rows are never shuffled and decoded rows cross into the JVM once.
Columns a read does not want are never decoded.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
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


def blocks_of(spark: SparkSession, out_dir: str) -> DataFrame:
    # mergeSchema: appends across engine versions mix block layouts in one
    # dir (bloom + vsum columns added r6); the default single-footer schema
    # sample could silently drop — or fail on — the newer columns
    return spark.read.option("mergeSchema", "true").parquet(
        f"{out_dir}/blocks"
    )


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


def _committed_blocks(spark: SparkSession, snap: Snapshot) -> DataFrame:
    blocks = blocks_of(spark, snap.out_dir)
    if snap.pairs is None:
        return blocks
    lin = spark.createDataFrame(sorted(snap.pairs),
                                "part_id int, run_id string")
    return blocks.join(F.broadcast(lin), ["part_id", "run_id"], "left_semi")


def committed_blocks(
    spark: SparkSession, out_dir: str, as_of: float | None = None,
    since: float | None = None,
) -> DataFrame:
    """Blocks whose (part_id, run_id) is committed ('done') in lineage.
    Stale partials from a crashed run — blocks appended, lineage never
    written — are filtered out here (metadata-scale broadcast semi-join).
    Dirs without lineage (externally assembled blocks) are trusted as-is.

    ``as_of`` (epoch seconds): TIME TRAVEL for the append-only table — trust
    only runs committed at or before that instant, reproducing the table
    exactly as a reader at that time saw it (Iceberg-snapshot semantics on
    the lineage metadata).

    ``since`` (epoch seconds, exclusive): the INCREMENTAL complement —
    only runs committed strictly after that instant. A consumer that
    remembers the last lineage timestamp it processed reads exactly the
    appended-since-then slice (CDC-style over the append-only table);
    ``since=t1, as_of=t2`` brackets a window. See ``snapshot.Snapshot``
    for the trust rules."""
    return _committed_blocks(
        spark, Snapshot.resolve(out_dir, as_of=as_of, since=since)
    )


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


def _keep_mask(rows: pa.Table, op: str, value, ptype: str,
               covered: bool) -> pa.Array:
    """Per stats row of one predicate's column: might the predicate hold
    for some row of the chunk (``covered``: provably for every row)?"""
    vmin, vmax = rows["vmin"], rows["vmax"]
    if op == "=":
        op = "=="
    if op not in ("==", "<", "<=", ">", ">=", "in"):
        raise ValueError(f"unsupported predicate op: {op}")
    members = value if op == "in" else [value]
    keys = [_predicate_value(m, ptype) for m in members]
    if covered:
        # nulls fail every predicate, so a chunk holding any is never
        # covered; only exact stats can prove a bound
        cmp = {">=": pc.greater_equal, ">": pc.greater,
               "<=": pc.less_equal, "<": pc.less}
        if op in cmp:
            hit = cmp[op](vmax if op[0] == "<" else vmin, keys[0])
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
    ``Snapshot.chunk_stats`` (``qualifying_parts`` over the manifest's
    per-part rollups).

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
    return blocks.sparkSession.createDataFrame(
        sorted(prune(stats, predicates)), "part_id int, chunk_id bigint")


def qualifying_parts(
    spark: SparkSession, out_dir: str, predicates: list[tuple]
) -> list[int] | None:
    """Part ids whose MANIFEST rollup stats (per-part min vmin / max vmax,
    written by encode.commit_blocks) might satisfy all predicates:
    :func:`prune` over the rollups, read with pyarrow. Returns None when
    the manifest predates the rollup columns. Conservative by construction: null
    stats keep the part, a column the manifest does not know keeps every
    part, stale extra manifest rows only WIDEN ranges, and Bloom filters
    don't roll up."""
    snap = Snapshot.resolve(out_dir)
    try:
        files = ds.dataset(f"{snap.root}/manifest", filesystem=snap.fs,
                           format="parquet").files
    except FileNotFoundError:
        return None
    # runs of different engine versions mix manifest layouts
    schema = pa.unify_schemas(
        [pq.read_schema(f, filesystem=snap.fs) for f in files])
    if "vmin" not in schema.names:
        return None
    man = ds.dataset(files, schema=schema, filesystem=snap.fs,
                     format="parquet").to_table(
        columns=["part_id", "col", "ptype", "vmin", "vmax"])
    known = set(man["col"].to_pylist())
    return sorted(p for (p,) in prune(
        man, [pr for pr in predicates if pr[0] in known], keys=("part_id",)))


def _exact_condition(predicates: list[tuple], ptypes: dict):
    """AND-of-predicates as one boolean Column (the row-exact twin of the
    zone-map prune)."""
    import datetime as _dt

    def conv(col, value):
        """Normalize one literal + the column expression for comparison."""
        if ptypes.get(col) in _TS_PTYPES:
            return (F.unix_micros(F.col(col).cast("timestamp")),
                    _predicate_value(value, ptypes[col]))
        if ptypes.get(col) == "date32":
            if isinstance(value, _dt.datetime):
                value = value.date()
            elif isinstance(value, int):  # days-since-epoch literal
                value = _dt.date(1970, 1, 1) + _dt.timedelta(days=value)
            return F.col(col), value
        return F.col(col), value

    cond = F.lit(True)
    for col, op, value in predicates:
        if op == "in":
            pairs = [conv(col, member) for member in value]
            c = pairs[0][0] if pairs else F.col(col)
            cond = cond & c.isin([v for _, v in pairs])
            continue
        c, value = conv(col, value)
        cond = cond & (
            {"<": c < value, "<=": c <= value, ">": c > value,
             ">=": c >= value, "==": c == value, "=": c == value}[op]
        )
    return cond


def _exact_filter(df: DataFrame, predicates: list[tuple], ptypes: dict) -> DataFrame:
    return df.filter(_exact_condition(predicates, ptypes))


_BLOCK_COLS = ["part_id", "chunk_id", "col", "codec", "n", "n_nulls",
               "params", "run_id", "payload"]


def read_group(fs, files: list[str]) -> pa.Table:
    """The block rows of one file group (``Snapshot.file_groups``), read
    from all of its files together (mmap, single-threaded: decode tasks
    already fill the cores)."""
    tbls = [pq.ParquetFile(f, filesystem=fs).read(columns=_BLOCK_COLS,
                                                  use_threads=False)
            for f in files]
    return (tbls[0] if len(tbls) == 1
            else pa.concat_tables(tbls, promote_options="permissive"))


def kept_groups(snap: Snapshot, keep: set | None) -> list[list[tuple]]:
    """The ``[(path, size)]`` file lists of the groups holding a chunk of
    ``keep`` (every group when None)."""
    return [files for files, keys in snap.file_groups
            if keep is None or not keys.isdisjoint(keep)]


def assemble_chunks(blocks: pa.Table, cols: list[tuple[str, str]],
                    pairs: frozenset | None = None, keep: set | None = None,
                    deleted: dict | None = None, verify: bool = True):
    """Decode the chunks of ``blocks``, the block rows of one file group
    (or one part), in ``(part_id, chunk_id)`` order. Yields ``(part_id,
    chunk_id, n_rows, arrays)`` with one array per ``cols`` entry.

    Rows outside the committed ``pairs`` or the ``keep`` chunk keys (None:
    no filter) are skipped. A ``(part_id, chunk_id, col)`` seen twice
    raises ``ValueError``: one of the rows would silently win. A column
    the chunk predates decodes as nulls, so a chunk holding no wanted
    column still yields its rows. ``deleted`` maps a chunk key to row
    positions to drop (tombstones applied in place)."""
    part, chunk, names, codecs, ns, nnulls, params, runs = (
        blocks[c].to_pylist() for c in _BLOCK_COLS[:-1])
    payloads = blocks["payload"]
    rows: dict[tuple, dict] = {}
    for i, key in enumerate(zip(part, chunk)):
        if ((pairs is not None and (key[0], runs[i]) not in pairs)
                or (keep is not None and key not in keep)):
            continue
        colmap = rows.setdefault(key, {})
        if names[i] in colmap:
            raise ValueError(
                f"duplicate block for part={key[0]} chunk={key[1]} "
                f"col={names[i]}: conflicting rows in one file group"
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
        gone = (deleted or {}).get(key)
        if gone:
            mask = np.ones(n_rows, dtype=bool)
            mask[[g for g in gone if g < n_rows]] = False
            n_rows = int(mask.sum())
            arrays = [a.filter(pa.array(mask)) for a in arrays]
        yield key[0], key[1], n_rows, arrays


def decode_table(
    spark: SparkSession,
    out_dir: str,
    columns: list[str] | None = None,
    keep_part_id: bool = False,
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

    ``predicates``: [(col, op, literal)] with op in <, <=, ==, >=, >, in
    (AND). Zone maps and Bloom filters prune whole chunks on the driver
    before any payload is read (the encoded format's analog of parquet
    predicate pushdown); the exact filter then runs on the decoded rows.
    ``any_of``: a DISJUNCTION of conjunctions, [[...], [...]] meaning
    (conj1 OR conj2): chunk pruning keeps the UNION of each
    conjunction's chunks and the exact row filter is the matching OR.
    Composes with ``predicates`` as a further AND.
    ``as_of`` / ``since`` (epoch seconds): lineage-timestamp snapshot and
    incremental windows (see committed_blocks).
    ``parts``: decode only these part ids (incremental consumers: the
    part_id is the unit of progress). ``keep_part_id``: emit ``part_id``
    as the first column.
    ``chunk_keys``: decode only these ``(part_id << 32 | chunk_id)`` keys
    (metadata_agg decodes only its BOUNDARY chunks this way).
    ``parts``, ``chunk_keys`` and predicate pruning intersect.
    ``apply_deletes``: anti-join committed tombstones (operators/deletes),
    on by default so merge-on-read deletes are never resurrected.
    ``with_row_address``: emit the stable (_part_id, _chunk_id, _pos)
    address columns last (delete_rows computes tombstones from them)."""
    from cuda_float_compress_spark.operators.deletes import (
        ADDRESS_COLS,
        _tombstones,
        anti_join_tombstones,
    )

    snap = Snapshot.resolve(out_dir, as_of=as_of, since=since)
    all_ptypes = dict(snap.columns)
    cols = snap.columns
    if columns is not None:
        want = set(columns) | {c for c, _, _ in (predicates or [])} | {
            c for conj in (any_of or []) for c, _, _ in conj
        }
        cols = [(c, p) for c, p in cols if c in want]
    keep = pruned_keys(snap.chunk_stats, predicates, any_of)
    restrict = []
    if chunk_keys is not None:
        restrict.append({(k >> 32, k & 0xFFFFFFFF) for k in chunk_keys})
    if parts is not None:
        ps = {int(p) for p in parts}
        restrict.append({k for _, keys in snap.file_groups for k in keys
                         if k[0] in ps})
    for r in restrict:
        keep = r if keep is None else keep & r
    tombs = _tombstones(spark, snap) if apply_deletes else None
    address = with_row_address or tombs is not None

    fields = [pa.field(c, _STD_ARROW[p]) for c, p in cols]
    if keep_part_id:
        fields.insert(0, pa.field("part_id", pa.int32()))
    if address:
        fields += [pa.field("_part_id", pa.int32()),
                   pa.field("_chunk_id", pa.int64()),
                   pa.field("_pos", pa.int64())]
    arrow_schema = pa.schema(fields)
    out_schema = ", ".join(
        ([] if not keep_part_id else ["part_id int"])
        + [f"`{c}` {_SPARK_TYPE[p]}" for c, p in cols]
        + ([] if not address
           else ["_part_id int", "_chunk_id bigint", "_pos bigint"]))

    # the workers read block files directly with pyarrow, so the lineage
    # trust filter and the kept keys ship as closure sets (metadata-scale)
    groups = kept_groups(snap, keep)
    groups_df, _ = lpt_frame(
        spark, [([p for p, _ in files],) for files in groups],
        [sum(size for _, size in files) for files in groups],
        "files array<string>", per_core=1)
    fs, pairs = snap.fs, snap.pairs

    def decode_groups(batches):
        for batch in batches:
            for files in batch.column("files").to_pylist():
                for part_id, chunk_id, n, arrays in assemble_chunks(
                        read_group(fs, files), cols, pairs, keep):
                    if keep_part_id:
                        arrays.insert(0, pa.array(
                            np.full(n, part_id, dtype=np.int32)))
                    if address:
                        arrays += [
                            pa.array(np.full(n, part_id, dtype=np.int32)),
                            pa.array(np.full(n, chunk_id, dtype=np.int64)),
                            pa.array(np.arange(n, dtype=np.int64))]
                    yield pa.RecordBatch.from_arrays(arrays,
                                                     schema=arrow_schema)

    decoded = groups_df.mapInArrow(decode_groups, schema=out_schema)
    if tombs is not None:
        decoded = anti_join_tombstones(decoded, tombs)
    if predicates:
        decoded = _exact_filter(decoded, predicates, all_ptypes)
    if any_of:
        disj = F.lit(False)
        for conj in any_of:
            disj = disj | _exact_condition(conj, all_ptypes)
        decoded = decoded.filter(disj)
    out = ((["part_id"] if keep_part_id else [])
           + [c for c, _ in cols if columns is None or c in set(columns)]
           + (list(ADDRESS_COLS) if with_row_address else []))
    if out != decoded.columns:
        decoded = decoded.select(*out)
    return decoded
