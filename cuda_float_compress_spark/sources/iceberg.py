"""Pure-Python Apache Iceberg READ path — no jars, no catalog service.

The north rule targets "Iceberg tables of Common-Crawl-style web pages";
this container has no iceberg-spark-runtime, so the catalog gateway
(`sources.read_iceberg`) used to be an honest stub. This module removes the
container limit for the read path by walking the Iceberg spec's on-disk
metadata directly (public spec: iceberg.apache.org/spec/):

    table/metadata/vN.metadata.json  -> snapshots (JSON)
    snapshot.manifest-list (avro)    -> manifest files
    manifest (avro)                  -> live parquet data files
    spark.read.parquet(*files)       -> DataFrame

Supports format-version 1 and 2, snapshot selection by id or timestamp
(time travel), deleted-entry filtering (status=2), relocated tables
(paths re-rooted when the recorded absolute locations do not exist), and
v2 MERGE-ON-READ deletes: position deletes anti-join on the parquet
reader's native (_metadata.file_path, _metadata.row_index), equality
deletes anti-join null-safely on their field-id-mapped columns, both with
the spec's sequence-number scoping (see ``read_iceberg_dir``). The
path-only view (``data_files``) refuses tables carrying deletes rather
than resurrect deleted rows.

``write_iceberg_fixture`` is the test twin (the encode_png/encode_wav
playbook): it writes a real two-snapshot Iceberg v2 table — parquet data
files, deflate-compressed Avro manifests + manifest lists, metadata JSON,
version-hint. Written tables carry every v2-spec-REQUIRED field (schemas
derived from the parquet files with column ids + last-column-id,
default-spec-id / last-partition-id, sequence numbers, manifest-list
file/row counts, the empty ``partition`` struct per data file, and the
manifest Avro file-metadata keys) — validated in-repo by a
spec-conformance test plus this reader; external-runtime interop is
untested in this container (no Iceberg jars / pyiceberg wheel).
"""

from __future__ import annotations

import glob
import json
import os
import re
import uuid

from pyspark.sql import DataFrame, SparkSession

from cuda_float_compress_spark.sources.avro import read_avro, write_avro


def _strip_scheme(path: str) -> str:
    """Strip the ``file:`` scheme in all its spellings: Hadoop writes
    ``file:///p`` (and ``file://host/p``), Java URI.toString writes
    ``file:/p`` (single slash) — all must resolve to the local path, not
    fall through to the basename re-rooting fallback (which could silently
    pick a different same-named file)."""
    if not path.startswith("file:"):
        return path
    rest = path[5:]
    if rest.startswith("//"):
        rest = rest[2:]
        if not rest.startswith("/"):  # authority (host) present: drop it
            slash = rest.find("/")
            rest = rest[slash:] if slash >= 0 else rest
    return rest


def _resolve(path: str, table_dir: str) -> str:
    """Recorded path -> existing local path (re-root relocated tables)."""
    p = _strip_scheme(path)
    if os.path.exists(p):
        return p
    base = os.path.basename(p)
    for sub in ("metadata", "data"):
        cand = os.path.join(table_dir, sub, base)
        if os.path.exists(cand):
            return cand
    raise FileNotFoundError(f"iceberg file not found: {path}")


def load_table_metadata(table_dir: str) -> dict:
    """Parse the current vN.metadata.json (version-hint.text when present,
    else the highest version on disk)."""
    mdir = os.path.join(table_dir, "metadata")
    hint = os.path.join(mdir, "version-hint.text")
    path = None
    if os.path.exists(hint):
        with open(hint) as f:
            v = f.read().strip()
        for cand in (f"v{v}.metadata.json", f"{v}.metadata.json"):
            c = os.path.join(mdir, cand)
            if os.path.exists(c):
                path = c
                break
    if path is None:
        versions = []
        for c in glob.glob(os.path.join(mdir, "*.metadata.json")):
            m = re.search(r"v?(\d+)\.metadata\.json$", os.path.basename(c))
            versions.append((int(m.group(1)) if m else -1, c))
        if not versions:
            raise FileNotFoundError(f"no metadata json under {mdir}")
        path = max(versions)[1]
    with open(path) as f:
        return json.load(f)


def snapshots(table_dir: str) -> list[dict]:
    """[{snapshot_id, timestamp_ms, is_current}] oldest-first."""
    meta = load_table_metadata(table_dir)
    cur = meta.get("current-snapshot-id")
    return [
        {
            "snapshot_id": s["snapshot-id"],
            "timestamp_ms": s["timestamp-ms"],
            "is_current": s["snapshot-id"] == cur,
        }
        for s in sorted(
            meta.get("snapshots", []), key=lambda s: s["timestamp-ms"]
        )
    ]


def _select_snapshot(meta: dict, snapshot_id=None, as_of_ms=None) -> dict:
    snaps = meta.get("snapshots", [])
    if not snaps:
        raise ValueError("iceberg table has no snapshots")
    if snapshot_id is not None:
        for s in snaps:
            if s["snapshot-id"] == snapshot_id:
                return s
        raise ValueError(f"snapshot {snapshot_id} not found")
    if as_of_ms is not None:
        older = [s for s in snaps if s["timestamp-ms"] <= as_of_ms]
        if not older:
            raise ValueError(f"no snapshot at or before {as_of_ms}")
        return max(older, key=lambda s: s["timestamp-ms"])
    cur = meta.get("current-snapshot-id")
    for s in snaps:
        if s["snapshot-id"] == cur:
            return s
    return max(snaps, key=lambda s: s["timestamp-ms"])


def data_files(table_dir: str, snapshot_id=None, as_of_ms=None) -> list[str]:
    """Live parquet data-file paths of the selected snapshot."""
    meta = load_table_metadata(table_dir)
    return data_files_from_metadata(meta, table_dir, snapshot_id, as_of_ms)


def scan_plan_from_metadata(meta: dict, table_dir: str, snapshot_id=None,
                            as_of_ms=None) -> dict:
    """Full v2 scan plan for a snapshot: live data files AND merge-on-read
    delete files, each with its data sequence number (the spec's scoping
    rule: a position delete applies to data files with seq <= the delete's;
    an equality delete applies STRICTLY before, seq < the delete's).

    Returns {'data': [...], 'pos_deletes': [...], 'eq_deletes': [...]},
    entries {'recorded': path-as-written, 'path': resolved local path,
    'seq': int} (+ 'equality_ids' for eq_deletes). Sequence-number
    inheritance: a null entry seq inherits the manifest-list value
    (v2 spec); format-version 1 tables have no deletes and seq 0."""
    snap = _select_snapshot(meta, snapshot_id, as_of_ms)
    if "manifest-list" in snap:
        manifest_files = read_avro(_resolve(snap["manifest-list"], table_dir))
    else:  # format-version 1 inline manifests
        manifest_files = [{"manifest_path": p, "content": 0,
                           "sequence_number": 0}
                          for p in snap.get("manifests", [])]
    plan = {"data": [], "pos_deletes": [], "eq_deletes": []}
    for mf in manifest_files:
        mseq = int(mf.get("sequence_number") or 0)
        entries = read_avro(_resolve(mf["manifest_path"], table_dir))
        for e in entries:
            if e.get("status", 0) == 2:  # DELETED entry
                continue
            df = e["data_file"]
            fmt = str(df.get("file_format", "PARQUET")).upper()
            if fmt != "PARQUET":
                raise NotImplementedError(f"iceberg {fmt} data files")
            seq = e.get("sequence_number")
            rec = {
                "recorded": df["file_path"],
                "path": _resolve(df["file_path"], table_dir),
                "seq": int(seq) if seq is not None else mseq,
            }
            content = int(df.get("content", 0))
            if content == 0:
                plan["data"].append(rec)
            elif content == 1:
                plan["pos_deletes"].append(rec)
            elif content == 2:
                rec["equality_ids"] = list(df.get("equality_ids") or [])
                if not rec["equality_ids"]:
                    raise ValueError(
                        "iceberg equality delete file without equality_ids"
                    )
                plan["eq_deletes"].append(rec)
            else:
                raise ValueError(f"unknown iceberg file content {content}")
    return plan


def data_files_from_metadata(meta: dict, table_dir: str, snapshot_id=None,
                             as_of_ms=None) -> list[str]:
    """Like :func:`data_files`, from an in-memory TableMetadata dict (the
    shape a REST catalog's LoadTableResult carries — sources/iceberg_rest).
    Path-only view: raises on tables carrying merge-on-read deletes, where
    a bare file list would return deleted rows — use
    :func:`read_iceberg_dir`, which applies them."""
    plan = scan_plan_from_metadata(meta, table_dir, snapshot_id, as_of_ms)
    if plan["pos_deletes"] or plan["eq_deletes"]:
        raise ValueError(
            "snapshot carries merge-on-read delete files; a path-only scan "
            "would resurrect deleted rows — read via read_iceberg_dir"
        )
    return sorted({d["path"] for d in plan["data"]})


def _norm_path_col(col):
    """JVM-side twin of _strip_scheme for the common local spellings:
    file:///p and file:/p both -> /p (matches _metadata.file_path and
    recorded delete-file paths against the plan's resolved paths)."""
    from pyspark.sql import functions as F

    return F.regexp_replace(col, "^file:/+", "/")


def _field_id_names(meta: dict) -> dict[int, str]:
    sid = meta.get("current-schema-id", 0)
    for s in meta.get("schemas", []):
        if s.get("schema-id", 0) == sid:
            return {f["id"]: f["name"] for f in s.get("fields", [])}
    return {}


def read_iceberg_dir(
    spark: SparkSession,
    table_dir: str,
    snapshot_id: int | None = None,
    as_of_ms: int | None = None,
) -> DataFrame:
    """Read an on-disk Iceberg table (v1/v2) without the Iceberg runtime:
    metadata JSON -> manifest-list avro -> manifest avro -> parquet scan.
    ``snapshot_id`` / ``as_of_ms`` select history (time travel).
    Merge-on-read deletes are APPLIED — see :func:`read_scan_plan`."""
    meta = load_table_metadata(table_dir)
    plan = scan_plan_from_metadata(meta, table_dir, snapshot_id, as_of_ms)
    return read_scan_plan(spark, meta, plan)


def read_scan_plan(spark: SparkSession, meta: dict, plan: dict) -> DataFrame:
    """Scan a :func:`scan_plan_from_metadata` plan, applying merge-on-read
    deletes: position deletes anti-join on the parquet reader's native
    (_metadata.file_path, _metadata.row_index) — exactly the (file, pos)
    key the spec defines, no synthetic row ids — and equality deletes
    anti-join null-safely on their id-mapped columns. Sequence-number
    scoping per spec: pos deletes hit files with data_seq <= delete_seq,
    eq deletes STRICTLY data_seq < delete_seq (a file added in the same
    snapshot as an eq delete is not affected by it). Scale: file/seq maps
    are metadata-sized broadcasts; delete parquet is scanned distributed;
    the anti-joins shuffle on (path, pos) / the equality key only."""
    from pyspark.sql import functions as F

    by_path: dict[str, int] = {}
    for d in plan["data"]:
        by_path[d["path"]] = max(by_path.get(d["path"], 0), d["seq"])
    if not by_path:
        raise ValueError("snapshot has no data files")
    df = spark.read.parquet(*sorted(by_path))
    if not plan["pos_deletes"] and not plan["eq_deletes"]:
        return df
    out_cols = df.columns
    df = df.withColumns({
        "__dpath": _norm_path_col(F.col("_metadata.file_path")),
        "__dpos": F.col("_metadata.row_index"),
    })
    seq_df = spark.createDataFrame(
        [(p, s) for p, s in by_path.items()], "__dpath: string, __dseq: long"
    )
    df = df.join(F.broadcast(seq_df), "__dpath", "left")

    if plan["pos_deletes"]:
        # recorded-path -> resolved-path map (relocated tables keep working:
        # delete rows reference the path AS WRITTEN, the scan uses resolved)
        rec_map = sorted({(_strip_scheme(d["recorded"]), d["path"])
                          for d in plan["data"]})
        rec_df = spark.createDataFrame(
            rec_map, "__rec: string, __pd_path: string"
        )
        del_seq = spark.createDataFrame(
            sorted({(d["path"], d["seq"]) for d in plan["pos_deletes"]}),
            "__delfile: string, __pd_seq: long",
        )
        dels = (
            spark.read.parquet(*sorted({d["path"]
                                        for d in plan["pos_deletes"]}))
            .select(
                _norm_path_col(F.col("file_path")).alias("__rec"),
                F.col("pos").alias("__pd_pos"),
                _norm_path_col(F.col("_metadata.file_path"))
                .alias("__delfile"),
            )
            .join(F.broadcast(del_seq), "__delfile")
            .join(F.broadcast(rec_df), "__rec")
            .select("__pd_path", "__pd_pos", "__pd_seq")
        )
        df = df.join(
            dels,
            (df["__dpath"] == dels["__pd_path"])
            & (df["__dpos"] == dels["__pd_pos"])
            & (dels["__pd_seq"] >= df["__dseq"]),
            "left_anti",
        )

    if plan["eq_deletes"]:
        id_names = _field_id_names(meta)
        groups: dict[tuple, list] = {}
        for d in plan["eq_deletes"]:
            groups.setdefault(tuple(d["equality_ids"]), []).append(d)
        for ids, dlist in sorted(groups.items()):
            try:
                cols = [id_names[i] for i in ids]
            except KeyError as e:
                raise ValueError(
                    f"equality delete references unknown field id {e}"
                ) from None
            del_seq = spark.createDataFrame(
                sorted({(d["path"], d["seq"]) for d in dlist}),
                "__delfile: string, __eq_seq: long",
            )
            eq = (
                spark.read.parquet(*sorted({d["path"] for d in dlist}))
                .select(
                    *[F.col(c).alias(f"__eq_{c}") for c in cols],
                    _norm_path_col(F.col("_metadata.file_path"))
                    .alias("__delfile"),
                )
                .join(F.broadcast(del_seq), "__delfile")
                .drop("__delfile")
            )
            cond = eq["__eq_seq"] > df["__dseq"]  # strictly-before scoping
            for c in cols:
                cond = cond & df[c].eqNullSafe(eq[f"__eq_{c}"])
            df = df.join(eq, cond, "left_anti")

    return df.select(*out_cols)


# ---------------------------------------------------------------------------
# Fixture writer (test twin) — a real two-snapshot Iceberg v2 table
# ---------------------------------------------------------------------------

_MANIFEST_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"], "default": None,
         "field-id": 1},
        # v2 inheritance fields: null means "inherit from the manifest list"
        {"name": "sequence_number", "type": ["null", "long"],
         "default": None, "field-id": 3},
        {"name": "file_sequence_number", "type": ["null", "long"],
         "default": None, "field-id": 4},
        {
            "name": "data_file",
            "field-id": 2,
            "type": {
                "type": "record",
                "name": "r2",
                "fields": [
                    {"name": "content", "type": "int", "field-id": 134},
                    {"name": "file_path", "type": "string", "field-id": 100},
                    {"name": "file_format", "type": "string", "field-id": 101},
                    # spec-REQUIRED even for unpartitioned tables: an empty
                    # struct matching partition spec 0
                    {"name": "partition", "field-id": 102,
                     "type": {"type": "record", "name": "r102",
                              "fields": []}},
                    {"name": "record_count", "type": "long", "field-id": 103},
                    {"name": "file_size_in_bytes", "type": "long",
                     "field-id": 104},
                ],
            },
        },
    ],
}

# delete manifests carry the same entry shape plus equality_ids (field 135)
_DELETE_MANIFEST_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        *[f for f in _MANIFEST_SCHEMA["fields"] if f["name"] != "data_file"],
        {
            "name": "data_file",
            "field-id": 2,
            "type": {
                "type": "record",
                "name": "r2",
                "fields": [
                    *_MANIFEST_SCHEMA["fields"][-1]["type"]["fields"],
                    {"name": "equality_ids",
                     "type": ["null", {"type": "array", "items": "int"}],
                     "default": None, "field-id": 135},
                ],
            },
        },
    ],
}

_MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        # v2-required sequence numbers and file/row counts (Java Iceberg's
        # ManifestFile parser rejects lists without them)
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    ],
}


def _iceberg_type(t) -> str:
    """Arrow type -> Iceberg primitive type string (v2 spec table)."""
    import pyarrow as pa

    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_int64(t):
        return "long"
    if pa.types.is_int32(t) or pa.types.is_int16(t) or pa.types.is_int8(t):
        return "int"
    if pa.types.is_float64(t):
        return "double"
    if pa.types.is_float32(t):
        return "float"
    if pa.types.is_boolean(t):
        return "boolean"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_date32(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "timestamptz" if t.tz else "timestamp"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision}, {t.scale})"
    raise ValueError(f"no iceberg mapping for arrow type {t}")


def _schema_from_parquet(path: str) -> tuple[dict, int]:
    """Derive the Iceberg schema JSON (+ last-column-id) from a data file.
    Field ids are assigned 1..N in file order (fresh table semantics)."""
    import pyarrow.parquet as pq

    arrow = pq.read_schema(path)
    fields = []
    for i, f in enumerate(arrow):
        fields.append({
            "id": i + 1,
            "name": f.name,
            "required": False,
            "type": _iceberg_type(f.type),
        })
    return (
        {"type": "struct", "schema-id": 0, "fields": fields},
        len(fields),
    )


def _manifest_avro_meta(schema_json: dict) -> dict:
    """Spec-required Avro file-metadata keys for a v2 data manifest."""
    return {
        "schema": json.dumps(schema_json),
        "schema-id": "0",
        "partition-spec": "[]",
        "partition-spec-id": "0",
        "format-version": "2",
        "content": "data",
    }


def export_iceberg_metadata(
    table_dir: str,
    data_paths: list[str],
    timestamp_ms: int,
) -> dict:
    """Publish an Iceberg v2 snapshot over EXISTING parquet files (no data
    copy): writes a manifest + manifest list + metadata JSON under
    ``table_dir``/metadata, appending to the table's snapshot history when
    metadata already exists. Each snapshot lists the FULL current file set
    (overwrite semantics — the engine's lineage commits decide what is
    current; this export just republishes it for Iceberg readers).

    ``sources.publish_blocks_iceberg`` publishes an encoded table this way:
    the encoded blocks dir stays where it is, and any Iceberg-capable
    engine (or :func:`read_iceberg_dir`) reads it with time travel across
    exports. Data paths are recorded absolute, so the table reads in place;
    relocation re-rooting only covers files under table_dir/{data,metadata}.

    ``timestamp_ms`` is caller-provided (deterministic exports for tests;
    production passes wall-clock). Returns {'snapshot_id', 'version'}."""
    import pyarrow.parquet as pq

    mdir = os.path.join(table_dir, "metadata")
    os.makedirs(mdir, exist_ok=True)
    try:
        meta = load_table_metadata(table_dir)
    except FileNotFoundError:
        meta = {
            "format-version": 2,
            "table-uuid": str(uuid.uuid4()),
            "location": table_dir,
            "last-sequence-number": 0,
            "snapshots": [],
            "schemas": [],
            "partition-specs": [{"spec-id": 0, "fields": []}],
            "default-spec-id": 0,
            # spec: partition field ids start at 1000; with no partition
            # fields assigned yet, last-partition-id is 999
            "last-partition-id": 999,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "default-sort-order-id": 0,
        }
    prior = meta.get("snapshots", [])
    snap_id = max((s["snapshot-id"] for s in prior), default=999) + 1
    seq = int(meta.get("last-sequence-number", 0)) + 1
    entries = []
    total_rows = 0
    for p in sorted(data_paths):
        p = os.path.abspath(p)
        nrows = pq.read_metadata(p).num_rows
        total_rows += nrows
        entries.append(
            {
                "status": 1,
                "snapshot_id": snap_id,
                "sequence_number": None,       # inherited from the list
                "file_sequence_number": None,  # inherited from the list
                "data_file": {
                    "content": 0,
                    "file_path": p,
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": nrows,
                    "file_size_in_bytes": os.path.getsize(p),
                },
            }
        )
    # derive the table schema from the data files (fresh assignment only:
    # appends to an existing table keep its recorded schema/column ids)
    if not meta.get("schemas") and data_paths:
        schema_json, last_col = _schema_from_parquet(
            os.path.abspath(sorted(data_paths)[0])
        )
        meta["schemas"] = [schema_json]
        meta["current-schema-id"] = 0
        meta["last-column-id"] = last_col
    man_path = os.path.join(mdir, f"manifest-{snap_id}.avro")
    man_meta = _manifest_avro_meta(
        meta["schemas"][0] if meta.get("schemas") else
        {"type": "struct", "schema-id": 0, "fields": []}
    )
    write_avro(man_path, _MANIFEST_SCHEMA, entries, extra_meta=man_meta)
    ml_path = os.path.join(mdir, f"snap-{snap_id}.avro")
    write_avro(
        ml_path,
        _MANIFEST_LIST_SCHEMA,
        [
            {
                "manifest_path": man_path,
                "manifest_length": os.path.getsize(man_path),
                "partition_spec_id": 0,
                "content": 0,
                "sequence_number": seq,
                "min_sequence_number": seq,
                "added_snapshot_id": snap_id,
                "added_files_count": len(entries),
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "added_rows_count": total_rows,
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
            }
        ],
        extra_meta={"format-version": "2"},
    )
    meta["snapshots"] = prior + [
        {
            "snapshot-id": snap_id,
            "sequence-number": seq,
            "timestamp-ms": timestamp_ms,
            "manifest-list": ml_path,
            "schema-id": int(meta.get("current-schema-id", 0)),
            "summary": {
                "operation": "overwrite",
                "added-data-files": str(len(entries)),
                "added-records": str(total_rows),
                "total-data-files": str(len(entries)),
                "total-records": str(total_rows),
            },
        }
    ]
    meta["current-snapshot-id"] = snap_id
    meta["last-updated-ms"] = timestamp_ms
    meta["last-sequence-number"] = seq
    version = len(meta["snapshots"])
    with open(os.path.join(mdir, f"v{version}.metadata.json"), "w") as f:
        json.dump(meta, f)
    with open(os.path.join(mdir, "version-hint.text"), "w") as f:
        f.write(str(version))
    return {"snapshot_id": snap_id, "version": version}


def write_iceberg_fixture(table_dir: str, snapshots_rows: list) -> dict:
    """Write a real Iceberg v2 table: one snapshot per entry of
    ``snapshots_rows``. Each entry is either

    * a list of pandas DataFrames — an APPEND snapshot, one parquet data
      file per frame (snapshot N carries every file of snapshots 1..N), or
    * a dict — a MERGE-ON-READ delete snapshot:
      ``{"pos_deletes": [(data_file_ordinal, row_pos), ...]}`` writes a
      position-delete parquet (file_path, pos) + a content=1 delete
      manifest; ``{"eq_deletes": {"rows": DataFrame, "ids": [field_ids]}}``
      writes an equality-delete parquet over the id-mapped columns.

    Returns {'snapshot_ids': [...], 'timestamps_ms': [...]}."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ddir = os.path.join(table_dir, "data")
    mdir = os.path.join(table_dir, "metadata")
    os.makedirs(ddir, exist_ok=True)
    os.makedirs(mdir, exist_ok=True)
    all_entries: list[dict] = []
    delete_ml_rows: list[dict] = []  # delete-manifest list rows, carried
    data_paths: list[str] = []  # ordinal -> recorded path (for pos deletes)
    snap_meta = []
    snapshot_ids = []
    timestamps = []
    base_ts = 1_700_000_000_000
    schema_json = None
    last_col = 0
    snap_seq: dict[int, int] = {}  # snapshot id -> its sequence number
    for si, dfs in enumerate(snapshots_rows):
        snap_id = 1000 + si
        seq = si + 1
        snap_seq[snap_id] = seq
        ts = base_ts + si * 60_000
        added_files = 0
        added_rows = 0
        if isinstance(dfs, dict):
            # --- merge-on-read delete snapshot ---------------------------
            fname = f"{uuid.uuid4().hex[:12]}-deletes.parquet"
            dpath = os.path.join(ddir, fname)
            if "pos_deletes" in dfs:
                content = 1
                eq_ids = None
                pq.write_table(
                    pa.table({
                        "file_path": pa.array(
                            [data_paths[i] for i, _ in dfs["pos_deletes"]],
                            pa.string(),
                        ),
                        "pos": pa.array(
                            [int(p) for _, p in dfs["pos_deletes"]],
                            pa.int64(),
                        ),
                    }),
                    dpath,
                )
                n_del = len(dfs["pos_deletes"])
            else:
                content = 2
                eq_ids = [int(i) for i in dfs["eq_deletes"]["ids"]]
                id_names = {f["id"]: f["name"]
                            for f in schema_json["fields"]}
                cols = [id_names[i] for i in eq_ids]
                rows = dfs["eq_deletes"]["rows"]
                pq.write_table(
                    pa.Table.from_pandas(rows[cols], preserve_index=False),
                    dpath,
                )
                n_del = len(rows)
            del_entry = {
                "status": 1,
                "snapshot_id": snap_id,
                "sequence_number": None,  # inherit the manifest-list seq
                "file_sequence_number": None,
                "data_file": {
                    "content": content,
                    "file_path": dpath,
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": n_del,
                    "file_size_in_bytes": os.path.getsize(dpath),
                    "equality_ids": eq_ids,
                },
            }
            dman_path = os.path.join(mdir, f"delete-manifest-{snap_id}.avro")
            write_avro(dman_path, _DELETE_MANIFEST_SCHEMA, [del_entry],
                       extra_meta=_manifest_avro_meta(schema_json))
            delete_ml_rows.append(
                {
                    "manifest_path": dman_path,
                    "manifest_length": os.path.getsize(dman_path),
                    "partition_spec_id": 0,
                    "content": 1,  # manifest-list: 1 = delete manifest
                    "sequence_number": seq,
                    "min_sequence_number": seq,
                    "added_snapshot_id": snap_id,
                    "added_files_count": 1,
                    "existing_files_count": 0,
                    "deleted_files_count": 0,
                    "added_rows_count": n_del,
                    "existing_rows_count": 0,
                    "deleted_rows_count": 0,
                }
            )
            # the data manifest: every data file carried over as EXISTING
            entries = [
                dict(e, status=0,
                     sequence_number=snap_seq[e["snapshot_id"]],
                     file_sequence_number=snap_seq[e["snapshot_id"]])
                for e in all_entries
            ]
            man_path = os.path.join(mdir, f"manifest-{snap_id}.avro")
            write_avro(man_path, _MANIFEST_SCHEMA, entries,
                       extra_meta=_manifest_avro_meta(schema_json))
            ml_path = os.path.join(mdir, f"snap-{snap_id}.avro")
            write_avro(
                ml_path,
                _MANIFEST_LIST_SCHEMA,
                [
                    {
                        "manifest_path": man_path,
                        "manifest_length": os.path.getsize(man_path),
                        "partition_spec_id": 0,
                        "content": 0,
                        "sequence_number": seq,
                        "min_sequence_number": 1,
                        "added_snapshot_id": snap_id,
                        "added_files_count": 0,
                        "existing_files_count": len(entries),
                        "deleted_files_count": 0,
                        "added_rows_count": 0,
                        "existing_rows_count": sum(
                            e["data_file"]["record_count"] for e in entries
                        ),
                        "deleted_rows_count": 0,
                    },
                    *delete_ml_rows,
                ],
                extra_meta={"format-version": "2"},
            )
            snap_meta.append(
                {
                    "snapshot-id": snap_id,
                    "sequence-number": seq,
                    "timestamp-ms": ts,
                    "manifest-list": ml_path,
                    "schema-id": 0,
                    "summary": {"operation": "delete"},
                }
            )
            snapshot_ids.append(snap_id)
            timestamps.append(ts)
            continue
        for df in dfs:
            fname = f"{uuid.uuid4().hex[:12]}.parquet"
            fpath = os.path.join(ddir, fname)
            tbl = pa.Table.from_pandas(df, preserve_index=False)
            pq.write_table(tbl, fpath)
            if schema_json is None:
                schema_json, last_col = _schema_from_parquet(fpath)
            added_files += 1
            added_rows += len(df)
            data_paths.append(fpath)
            all_entries.append(
                {
                    "status": 1,
                    "snapshot_id": snap_id,
                    "sequence_number": None,
                    "file_sequence_number": None,
                    "data_file": {
                        "content": 0,
                        "file_path": fpath,
                        "file_format": "PARQUET",
                        "partition": {},
                        "record_count": len(df),
                        "file_size_in_bytes": os.path.getsize(fpath),
                    },
                }
            )
        # files carried over from earlier snapshots are EXISTING (status 0)
        # in this snapshot's manifest, not re-added. v2 sequence-number
        # inheritance (null -> manifest-list value) applies ONLY to ADDED
        # entries; EXISTING entries must carry the sequence number of the
        # snapshot that added them explicitly (Java's ManifestReader
        # rejects status-0 entries with null sequence numbers).
        entries = [
            dict(e, status=1) if e["snapshot_id"] == snap_id else dict(
                e, status=0,
                sequence_number=snap_seq[e["snapshot_id"]],
                file_sequence_number=snap_seq[e["snapshot_id"]],
            )
            for e in all_entries
        ]
        existing_files = len(entries) - added_files
        existing_rows = sum(
            e["data_file"]["record_count"] for e in entries if not e["status"]
        )
        man_path = os.path.join(mdir, f"manifest-{snap_id}.avro")
        write_avro(man_path, _MANIFEST_SCHEMA, entries,
                   extra_meta=_manifest_avro_meta(schema_json))
        ml_path = os.path.join(mdir, f"snap-{snap_id}.avro")
        write_avro(
            ml_path,
            _MANIFEST_LIST_SCHEMA,
            [
                {
                    "manifest_path": man_path,
                    "manifest_length": os.path.getsize(man_path),
                    "partition_spec_id": 0,
                    "content": 0,
                    "sequence_number": seq,
                    "min_sequence_number": 1,
                    "added_snapshot_id": snap_id,
                    "added_files_count": added_files,
                    "existing_files_count": existing_files,
                    "deleted_files_count": 0,
                    "added_rows_count": added_rows,
                    "existing_rows_count": existing_rows,
                    "deleted_rows_count": 0,
                },
                # deletes from earlier snapshots stay in force
                *delete_ml_rows,
            ],
            extra_meta={"format-version": "2"},
        )
        snap_meta.append(
            {
                "snapshot-id": snap_id,
                "sequence-number": seq,
                "timestamp-ms": ts,
                "manifest-list": ml_path,
                "schema-id": 0,
                "summary": {"operation": "append"},
            }
        )
        snapshot_ids.append(snap_id)
        timestamps.append(ts)
    meta = {
        "format-version": 2,
        "table-uuid": str(uuid.uuid4()),
        "location": table_dir,
        "last-sequence-number": len(snapshots_rows),
        "last-updated-ms": timestamps[-1],
        "current-snapshot-id": snapshot_ids[-1],
        "snapshots": snap_meta,
        "schemas": [schema_json] if schema_json else [],
        "current-schema-id": 0,
        "last-column-id": last_col,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0,
        "last-partition-id": 999,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "default-sort-order-id": 0,
    }
    version = len(snapshots_rows)
    with open(os.path.join(mdir, f"v{version}.metadata.json"), "w") as f:
        json.dump(meta, f)
    with open(os.path.join(mdir, "version-hint.text"), "w") as f:
        f.write(str(version))
    return {"snapshot_ids": snapshot_ids, "timestamps_ms": timestamps}
