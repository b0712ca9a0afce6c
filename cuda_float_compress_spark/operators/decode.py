"""The decode job: blocks parquet -> the original DataFrame, bit-identical.

Column-pruned by construction: requesting a subset of columns filters block
rows BEFORE the shuffle and decodes only those payloads — the engine-level
analog of parquet column pruning (a scan that decodes all columns for a
2-column projection would be wrong at 100 TB).

Reconstruction groups block rows by (part_id, chunk_id) with
``applyInArrow`` — one group == one chunk == a few MB, so groups are
uniformly sized regardless of host skew (the encode-side salting already
flattened data skew into uniform chunks).
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cuda_float_compress_spark.operators import chunks as C
from cuda_float_compress_spark.operators.bloom import bloom_contains
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
    written by build_manifest) might satisfy all predicates: :func:`prune`
    over the rollups, read with pyarrow. Returns None when the manifest
    predates the rollup columns. Conservative by construction: null
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
) -> DataFrame:
    """Decode the encoded table. ``predicates`` — [(col, op, literal)] with op
    in <, <=, ==, >=, > — prune whole chunks via zone-map stats BEFORE any
    payload is read (the encoded format's analog of parquet predicate
    pushdown), then apply the exact filter to the decoded rows. ``as_of``
    (epoch seconds) time-travels the append-only table to a past snapshot
    (see committed_blocks). ``parts`` restricts the decode to a part-id
    subset (incremental consumers: the part_id is the unit of progress).
    ``apply_deletes``: anti-join committed tombstones (operators/deletes) —
    on by default; both decode paths agree on merge-on-read semantics.
    ``any_of``: OR-of-conjunctions — chunk pruning via the UNION of each
    conjunction's qualifying set, exact OR filter after decode (parity
    with decode_table_direct).
    ``since`` (exclusive): decode only runs committed after that instant —
    the incremental-consumer read (see committed_blocks)."""
    from cuda_float_compress_spark.operators.deletes import (
        _tombstones,
        anti_join_tombstones,
    )

    snap = Snapshot.resolve(out_dir, as_of=as_of, since=since)
    tombs = _tombstones(spark, snap) if apply_deletes else None
    blocks = _committed_blocks(spark, snap)
    if parts is not None:
        blocks = blocks.filter(F.col("part_id").isin([int(p) for p in parts]))
    cols = snap.columns
    keep = pruned_keys(snap.chunk_stats, predicates, any_of)
    if keep is not None:
        keys = spark.createDataFrame(sorted(keep),
                                     "part_id int, chunk_id bigint")
        blocks = blocks.join(F.broadcast(keys), ["part_id", "chunk_id"],
                             "left_semi")
    if columns is not None:
        want = set(columns) | {c for c, _, _ in (predicates or [])} | {
            c for conj in (any_of or []) for c, _, _ in conj
        }
        cols = [(c, p) for c, p in cols if c in want]
        # prune PAYLOADS, not metadata rows: a chunk written before a
        # wanted column existed (schema evolution) must still reach its
        # decode group so its rows come back (wanted column = nulls) —
        # the null payload keeps the shuffle metadata-sized for unwanted
        # columns while the `n` field carries the chunk's row count
        blocks = blocks.withColumn(
            "payload",
            F.when(F.col("col").isin(list(want)), F.col("payload")),
        )

    out_fields = [f"`{c}` {_SPARK_TYPE[p]}" for c, p in cols]
    if keep_part_id:
        out_fields = ["part_id int"] + out_fields
    arrow_fields = [pa.field(c, _STD_ARROW[p]) for c, p in cols]
    if keep_part_id:
        arrow_fields = [pa.field("part_id", pa.int32())] + arrow_fields
    if tombs is not None:
        out_fields += ["_part_id int", "_chunk_id bigint", "_pos bigint"]
        arrow_fields += [pa.field("_part_id", pa.int32()),
                         pa.field("_chunk_id", pa.int64()),
                         pa.field("_pos", pa.int64())]
    out_schema = ", ".join(out_fields)
    arrow_schema = pa.schema(arrow_fields)
    col_ptypes = dict(cols)
    with_address = tombs is not None

    def decode_chunk(key: tuple, tbl: pa.Table) -> pa.Table:
        # applyInArrow passes grouping keys as pyarrow scalars
        part_id = key[0].as_py() if hasattr(key[0], "as_py") else int(key[0])
        by_col = {}
        n_rows = None
        payloads = tbl.column("payload").to_pylist()
        names = tbl.column("col").to_pylist()
        codecs = tbl.column("codec").to_pylist()
        params = tbl.column("params").to_pylist()
        ns = tbl.column("n").to_pylist()
        n_nulls = tbl.column("n_nulls").to_pylist()
        for i, name in enumerate(names):
            if payloads[i] is None:
                # projection-pruned metadata row: contributes the chunk's
                # row count only (see the payload-nulling in decode_table)
                n_rows = int(ns[i])
                continue
            ptype = col_ptypes[name]
            if name in by_col:
                # duplicate (part_id, chunk_id, col) would silently overwrite
                # a column with rows from a different run/epoch — corruption,
                # fail loudly (committed_blocks should have prevented this)
                raise ValueError(
                    f"duplicate block for part={key[0]} chunk={key[1]} "
                    f"col={name}: conflicting runs in {out_dir}/blocks"
                )
            arr = C.decode_column_chunk(
                payloads[i], codecs[i], params[i], int(ns[i]), int(n_nulls[i]), ptype
            )
            if not arr.type.equals(_STD_ARROW[ptype]):
                arr = arr.cast(_STD_ARROW[ptype])
            by_col[name] = arr
            n_rows = int(ns[i])
        out = {}
        if keep_part_id:
            out["part_id"] = pa.array([int(part_id)] * n_rows, type=pa.int32())
        for c, ptype_ in cols:
            if c not in by_col:  # column added after this chunk was written
                by_col[c] = pa.nulls(n_rows, _STD_ARROW[ptype_])
            out[c] = by_col[c]
        if with_address:
            chunk_id = key[1].as_py() if hasattr(key[1], "as_py") else int(key[1])
            out["_part_id"] = pa.array([int(part_id)] * n_rows,
                                       type=pa.int32())
            out["_chunk_id"] = pa.array([int(chunk_id)] * n_rows,
                                        type=pa.int64())
            out["_pos"] = pa.array(range(n_rows), type=pa.int64())
        return pa.table(out, schema=arrow_schema)

    decoded = (
        blocks.groupBy("part_id", "chunk_id").applyInArrow(decode_chunk, out_schema)
    )
    if tombs is not None:
        decoded = anti_join_tombstones(decoded, tombs)
        keep = (["part_id"] if keep_part_id else []) + [c for c, _ in cols]
        decoded = decoded.select(*keep)
    if predicates:
        decoded = _exact_filter(decoded, predicates, dict(cols))
    if any_of:
        disj = F.lit(False)
        for conj in any_of:
            disj = disj | _exact_condition(conj, dict(cols))
        decoded = decoded.filter(disj)
    if (predicates or any_of) and columns is not None:
        decoded = decoded.select(*[c for c, _ in cols if c in set(columns)])
    return decoded
