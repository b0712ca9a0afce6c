"""Delta Lake table reads without the Delta runtime (no jars).

Second open-table source beside Iceberg (sources/iceberg.py): the Delta
transaction log is newline-delimited JSON under ``_delta_log/`` (public
protocol: github.com/delta-io/delta PROTOCOL.md), so the read path is a
pure-Python log replay:

* ``NNNNNNNNNNNNNNNNNNNN.json`` commit files, one action per line:
  ``protocol`` / ``metaData`` / ``add`` / ``remove`` / ``commitInfo``
* snapshot state at version V = replay commits 0..V; the live file set is
  the ``add`` actions whose paths were not later ``remove``d (last action
  per path wins)
* ``_last_checkpoint`` + ``*.checkpoint.parquet``: a parquet-compacted
  snapshot of the replay state; when present, reading starts from the
  checkpoint and replays only later JSON commits (the 100 TB path: a
  million-commit log is NOT re-read per query)
* time travel: by version (replay stops early) or by timestamp (last
  commit whose ``commitInfo.timestamp`` / file mtime is <= the bound)

Scope: parquet data files, reader protocol versions 1-3 where version
>= 2 requires only column mapping in 'name' mode (physical parquet
column names from schemaString field metadata, normalized to logical
names at the replay boundary — partitionValues and stats keys
included); deletion vectors, 'id'-mode mapping, and other v3 reader
features raise NotImplementedError naming the feature. Partitioned
tables are reconstructed from the
log's ``partitionValues`` (the files do NOT contain those columns):
when every live file sits under the standard hive layout
(``col=value/``) the read is ONE parquet scan with Spark partition
discovery — the 100 TB path, a single scan node regardless of
partition count, and Catalyst partition pruning applies to any filter;
otherwise files are grouped by partition tuple and unioned with
literal columns (correct for arbitrary layouts, plan size O(distinct
partitions)). ``write_delta_fixture`` is the test/oracle twin,
mirroring ``write_iceberg_fixture``.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from cuda_float_compress_spark.sources.iceberg import _strip_scheme


def _log_versions(log_dir: str) -> list[tuple[int, str]]:
    out = []
    for name in os.listdir(log_dir):
        base, ext = os.path.splitext(name)
        if ext == ".json" and base.isdigit():
            out.append((int(base), os.path.join(log_dir, name)))
    return sorted(out)


def _check_protocol(p: dict) -> None:
    """Reader-protocol gate, applied to EVERY protocol action seen —
    whether replayed from a JSON commit or recovered from at/before a
    checkpoint (a checkpointed DV table must refuse, not read silently)."""
    rv = int(p.get("minReaderVersion", 1))
    if rv == 3:
        # table-features era: readable iff every required reader feature
        # is one we implement
        feats = set(p.get("readerFeatures") or [])
        unsupported = feats - {"columnMapping"}
        if unsupported:
            raise NotImplementedError(
                "Delta reader features not supported: "
                f"{sorted(unsupported)}"
            )
    elif rv > 3:
        raise NotImplementedError(
            f"Delta minReaderVersion={rv} not supported"
        )
    # rv == 2 gates exactly one feature: column mapping — the metaData
    # configuration decides the mode


def _check_add(a: dict) -> dict:
    """An add entry carrying a live deletion vector must refuse: reading
    the file without applying the DV resurrects its deleted rows."""
    if a.get("deletionVector"):
        raise NotImplementedError(
            "Delta deletion vectors not supported "
            f"(add entry {a.get('path')!r} carries one)"
        )
    return a


def _read_checkpoint(
    log_dir: str,
) -> tuple[int, list[dict], dict | None, dict | None] | None:
    """(checkpoint_version, live add actions, protocol action or None,
    metaData action or None) from _last_checkpoint, or None when the table
    has no checkpoint yet."""
    lc_path = os.path.join(log_dir, "_last_checkpoint")
    if not os.path.exists(lc_path):
        return None
    import pyarrow.parquet as pq

    with open(lc_path) as f:
        lc = json.load(f)
    version = int(lc["version"])
    cp_path = os.path.join(log_dir, f"{version:020d}.checkpoint.parquet")
    if not os.path.exists(cp_path):
        raise ValueError(
            f"_last_checkpoint names version {version} but "
            f"{os.path.basename(cp_path)} is missing"
        )
    tbl = pq.read_table(cp_path)
    adds = []
    proto = meta = None
    for row in tbl.to_pylist():
        add = row.get("add")
        if add and add.get("path"):
            adds.append(_action(add))
        # checkpoints may carry remove tombstones for vacuum bookkeeping;
        # they are NOT part of the live file set and are skipped here
        p = row.get("protocol")
        if p and p.get("minReaderVersion") is not None:
            proto = _action(p)
        m = row.get("metaData")
        if m and m.get("schemaString") is not None:
            meta = _action(m)
    return version, adds, proto, meta


def _action(row: dict) -> dict:
    """A checkpoint row's action in the shape the JSON log gives it: null
    fields dropped, map columns (``configuration``, ``partitionValues``;
    read as lists of key/value tuples) as dicts."""
    def plain(v):
        if isinstance(v, dict):
            return _action(v)
        if isinstance(v, list) and v and all(isinstance(x, tuple) for x in v):
            return dict(v)
        return v

    return {k: plain(v) for k, v in row.items() if v is not None}


def _replay(table_dir: str, version: int | None = None,
            as_of_ms: int | None = None) -> tuple[dict, list[dict]]:
    """Replay the transaction log; returns (metaData action, live adds)."""
    log_dir = os.path.join(table_dir, "_delta_log")
    if not os.path.isdir(log_dir):
        raise ValueError(f"not a Delta table (no _delta_log): {table_dir}")
    commits = _log_versions(log_dir)
    if not commits:
        raise ValueError(f"empty _delta_log in {table_dir}")

    if as_of_ms is not None:
        # last version whose commit timestamp <= bound (commitInfo
        # timestamp preferred; file mtime as the protocol-sanctioned
        # fallback)
        chosen = None
        for v, path in commits:
            ts = None
            with open(path) as f:
                for line in f:
                    act = json.loads(line)
                    if "commitInfo" in act:
                        ts = act["commitInfo"].get("timestamp")
                        break
            if ts is None:
                ts = int(os.path.getmtime(path) * 1000)
            if ts <= as_of_ms:
                chosen = v
        if chosen is None:
            raise ValueError(
                f"no Delta commit at or before timestamp {as_of_ms}"
            )
        version = chosen

    if version is not None and (
        version < 0 or version > commits[-1][0]
    ):
        raise ValueError(f"Delta version {version} does not exist")

    live: dict[str, dict] = {}
    meta: dict | None = None
    start = 0
    cp = _read_checkpoint(log_dir)
    if cp is not None and (version is None or cp[0] <= version):
        start = cp[0] + 1
        for add in cp[1]:
            live[add["path"]] = _check_add(add)
        # metaData and protocol come from the checkpoint rows; when a
        # checkpoint lacks either, from the JSON replay below plus a
        # backward scan for the latest of each at or before the
        # checkpoint (the protocol recorded there still gates THIS read:
        # a DV-era table with a checkpoint must refuse, not read)
        proto, meta = cp[2], cp[3]
        for v, path in reversed(commits):
            if v > cp[0]:
                continue
            if meta is not None and proto is not None:
                break
            with open(path) as f:
                for line in f:
                    act = json.loads(line)
                    if meta is None and "metaData" in act:
                        meta = act["metaData"]
                    elif proto is None and "protocol" in act:
                        proto = act["protocol"]
        if proto is not None:
            _check_protocol(proto)

    for v, path in commits:
        if v < start:
            continue
        if version is not None and v > version:
            break
        with open(path) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                act = json.loads(line)
                if "protocol" in act:
                    _check_protocol(act["protocol"])
                elif "metaData" in act:
                    meta = act["metaData"]
                elif "add" in act:
                    a = _check_add(act["add"])
                    live[a["path"]] = a
                elif "remove" in act:
                    live.pop(act["remove"]["path"], None)
    if meta is None:
        raise ValueError("Delta log has no metaData action")
    fmt = (meta.get("format") or {}).get("provider", "parquet")
    if fmt != "parquet":
        raise NotImplementedError(f"Delta data format '{fmt}' != parquet")
    adds = sorted(live.values(), key=lambda a: a["path"])
    phys2log = _column_mapping(meta)
    if phys2log:
        # normalize the log to LOGICAL names once, at the boundary:
        # partitionValues and stats keys are physical in column-mapping
        # tables; every downstream consumer (pruning, partition schema)
        # then reasons in logical names only
        adds = [_remap_add(a, phys2log) for a in adds]
    return meta, adds


def _column_mapping(meta: dict) -> dict[str, str] | None:
    """{physical name -> logical name} when the table uses column mapping
    (PROTOCOL.md 'Column Mapping', mode 'name': parquet files store
    columns under delta.columnMapping.physicalName), else None. Mode 'id'
    (match by parquet field id instead of name) is refused — Spark's
    parquet source resolves by name here."""
    mode = (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none")
    if mode in ("none", ""):
        return None
    if mode != "name":
        raise NotImplementedError(
            f"Delta columnMapping mode {mode!r}: only 'name' is supported "
            "('id' needs parquet field-id resolution)"
        )
    out = {}
    for f in json.loads(meta["schemaString"])["fields"]:
        md = f.get("metadata") or {}
        phys = md.get("delta.columnMapping.physicalName")
        if phys:
            out[phys] = f["name"]
    return out or None


def _remap_add(add: dict, phys2log: dict[str, str]) -> dict:
    a = dict(add)
    pv = a.get("partitionValues")
    if pv:
        a["partitionValues"] = {
            phys2log.get(k, k): v for k, v in pv.items()
        }
    st = a.get("stats")
    if st:
        s = json.loads(st)
        for key in ("minValues", "maxValues", "nullCount"):
            if isinstance(s.get(key), dict):
                s[key] = {phys2log.get(k, k): v for k, v in s[key].items()}
        a["stats"] = json.dumps(s)
    return a


# Delta logical type -> Spark SQL cast target (partition columns only;
# data columns keep their parquet physical types untouched)
_SPARK_CAST = {
    "long": "bigint", "integer": "int", "short": "smallint",
    "byte": "tinyint", "double": "double", "float": "float",
    "string": "string", "boolean": "boolean", "date": "date",
    "timestamp": "timestamp",
}


def _partition_schema(meta: dict) -> dict[str, str]:
    """{partition column -> Delta logical type} in partitionColumns order."""
    pcols = meta.get("partitionColumns") or []
    if not pcols:
        return {}
    fields = json.loads(meta["schemaString"])["fields"]
    types = {f["name"]: f["type"] for f in fields
             if isinstance(f["type"], str)}
    return {c: types.get(c, "string") for c in pcols}


def _typed_part_value(raw: str | None, dtype: str):
    """Partition value string from the log -> comparable Python value
    (Delta partition-value serialization: PROTOCOL.md 'Partition Value
    Serialization'). None (null partition) stays None."""
    if raw is None:
        return None
    if dtype in ("long", "integer", "short", "byte"):
        return int(raw)
    if dtype in ("double", "float"):
        return float(raw)
    if dtype == "boolean":
        return raw == "true"
    # string / date(yyyy-MM-dd) / timestamp: ISO text ordering is the
    # value ordering, compare as strings
    return raw


_SKIP_OPS = {"=", "<", "<=", ">", ">="}


def _file_may_match(add: dict, col: str, op: str, val,
                    pschema: dict[str, str] | None = None) -> bool:
    """Data skipping: can a file's [minValues, maxValues] stats interval
    contain a row satisfying (col op val)? Missing stats => must read.
    Partition columns compare against the file's single log value —
    exact pruning, not an interval."""
    if pschema and col in pschema:
        pv = _typed_part_value(
            (add.get("partitionValues") or {}).get(col), pschema[col])
        if pv is None:
            return False  # null never satisfies a comparison
        return {"=": pv == val, "<": pv < val, "<=": pv <= val,
                ">": pv > val, ">=": pv >= val}[op]
    stats = add.get("stats")
    if not stats:
        return True
    stats = json.loads(stats)
    mins = (stats.get("minValues") or {})
    maxs = (stats.get("maxValues") or {})
    lo, hi = mins.get(col), maxs.get(col)
    if lo is None or hi is None:
        return True
    if op == "=":
        return lo <= val <= hi
    if op == "<":
        return lo < val
    if op == "<=":
        return lo <= val
    if op == ">":
        return hi > val
    if op == ">=":
        return hi >= val
    return True


def read_delta_dir(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    as_of_ms: int | None = None,
    predicates: list[tuple] | None = None,
) -> DataFrame:
    """Read a Delta table directory: log replay -> parquet scan, with
    version / timestamp time travel. Column pruning and row-group pushdown
    stay with Spark's parquet source; ``predicates`` — [(col, op, value)]
    with op in =,<,<=,>,>= — additionally prunes FILES from the add
    actions' minValues/maxValues stats before the scan even lists them
    (Delta data skipping: at 100 TB the log prune is what keeps a selective
    query from opening a million files). The predicate is re-applied
    exactly as a Spark filter, so pruning is a pure I/O optimization."""
    table_dir = _strip_scheme(table_dir)
    meta, adds = _replay(table_dir, version, as_of_ms)
    if not adds:
        raise ValueError("Delta snapshot has no live data files")
    pschema = _partition_schema(meta)
    rename = _column_mapping(meta)
    if predicates:
        for col, op, val in predicates:
            if op not in _SKIP_OPS:
                raise ValueError(
                    f"unsupported skip predicate op {op!r}; "
                    f"one of {sorted(_SKIP_OPS)}"
                )
        adds = [
            a for a in adds
            if all(_file_may_match(a, c, o, v, pschema)
                   for c, o, v in predicates)
        ]
        if not adds:
            # preserve schema: empty frame over the full file set's schema
            all_adds = _replay(table_dir, version, as_of_ms)[1]
            df = _scan(spark, table_dir, all_adds, pschema,
                        rename).limit(0)
        else:
            df = _scan(spark, table_dir, adds, pschema, rename)
        from pyspark.sql import functions as _F

        cond = None
        for c, o, v in predicates:
            piece = {
                "=": _F.col(c) == v, "<": _F.col(c) < v,
                "<=": _F.col(c) <= v, ">": _F.col(c) > v,
                ">=": _F.col(c) >= v,
            }[o]
            cond = piece if cond is None else cond & piece
        return df.filter(cond)
    return _scan(spark, table_dir, adds, pschema, rename)


_HIVE_SAFE = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789._-"
)


def _hive_prefix(add: dict, pschema: dict[str, str]) -> str | None:
    """'p=3/q=x/' if the add's partition values are hive-encodable with
    no escaping (conservative: plain [A-Za-z0-9._-] values only), else
    None (caller falls back to the union plan)."""
    parts = []
    pv = add.get("partitionValues") or {}
    for c in pschema:
        v = pv.get(c)
        if v is None or v == "" or not set(v) <= _HIVE_SAFE:
            return None
        parts.append(f"{c}={v}")
    return "/".join(parts) + "/"


def _rename_physical(df: DataFrame,
                     rename: dict[str, str] | None) -> DataFrame:
    """Physical parquet column names -> logical names (column mapping).
    A pure projection — Catalyst collapses it into the scan."""
    if rename:
        for phys, logical in rename.items():
            if phys != logical and phys in df.columns:
                df = df.withColumnRenamed(phys, logical)
    return df


def _scan(spark: SparkSession, table_dir: str, adds: list[dict],
          pschema: dict[str, str] | None = None,
          rename: dict[str, str] | None = None) -> DataFrame:
    paths = [
        a["path"] if os.path.isabs(a["path"])
        else os.path.join(table_dir, a["path"])
        for a in adds
    ]
    if not pschema:
        return _rename_physical(spark.read.parquet(*paths), rename)

    from pyspark.sql import functions as F

    # Fast path: every live file under hive layout consistent with its
    # log partitionValues -> ONE scan with Spark partition discovery.
    # The log stays authoritative (we verify path==values agreement);
    # partition columns are cast to the schemaString types because
    # discovery infers its own (e.g. int where the schema says long).
    if all(
        (pre := _hive_prefix(a, pschema)) is not None
        and a["path"].startswith(pre)
        for a in adds
    ):
        df = _rename_physical(
            spark.read.option("basePath", table_dir).parquet(*paths), rename)
        for c, t in pschema.items():
            df = df.withColumn(c, F.col(c).cast(_SPARK_CAST.get(t, "string")))
        return df

    # General path: group files by partition tuple, attach literal
    # columns, union. Plan size = distinct partition combinations.
    groups: dict[tuple, list[int]] = {}
    for i, a in enumerate(adds):
        pv = a.get("partitionValues") or {}
        key = tuple(pv.get(c) for c in pschema)
        groups.setdefault(key, []).append(i)
    out = None
    for key, idxs in groups.items():
        part = _rename_physical(
            spark.read.parquet(*[paths[i] for i in idxs]), rename)
        for c, raw in zip(pschema, key):
            cast_t = _SPARK_CAST.get(pschema[c], "string")
            part = part.withColumn(
                c,
                F.lit(None).cast(cast_t) if raw is None
                else F.lit(raw).cast(cast_t),
            )
        out = part if out is None else out.unionByName(part)
    return out


def delta_snapshot_info(table_dir: str) -> list[dict]:
    """[{'version', 'n_files', 'n_records'}] per version — driver-side
    metadata only (record counts from the add actions' stats)."""
    table_dir = _strip_scheme(table_dir)
    log_dir = os.path.join(table_dir, "_delta_log")
    out = []
    for v, _ in _log_versions(log_dir):
        _, adds = _replay(table_dir, version=v)
        n_records = 0
        for a in adds:
            stats = a.get("stats")
            if stats:
                n_records += int(json.loads(stats).get("numRecords", 0))
        out.append({"version": v, "n_files": len(adds),
                    "n_records": n_records})
    return out


def _part_value_str(x) -> str | None:
    """Python value -> Delta partition-value string (PROTOCOL.md)."""
    if x is None or x != x:  # None / NaN
        return None
    if isinstance(x, bool):
        return "true" if x else "false"
    return str(x)


def write_delta_fixture(table_dir: str, commits: list[dict],
                        checkpoint_at: int | None = None,
                        partition_by: list[str] | None = None,
                        hive_layout: bool = True,
                        column_mapping: bool = False) -> dict:
    """Write a real (minimal, protocol-v1) Delta table for tests/oracles —
    the fixture twin of the reader, mirroring write_iceberg_fixture.

    ``commits``: list of {'add': [DataFrame, ...], 'remove': [path, ...]}.
    Each add DataFrame becomes one parquet file per distinct partition
    tuple (one file when unpartitioned). ``partition_by``: those columns
    are dropped from the data files and recorded only in the adds'
    ``partitionValues`` (and in the path when ``hive_layout``, the
    layout real writers produce; ``hive_layout=False`` exercises the
    reader's union fallback for log-only layouts). ``checkpoint_at``:
    also write a checkpoint parquet + _last_checkpoint at that version.
    ``column_mapping``: name-mode column mapping (protocol reader v2) —
    parquet files store physical ``col-N`` names, schemaString fields
    carry the id/physicalName metadata, and partitionValues/stats are
    keyed by physical name as real writers do (forces the flat layout).
    Returns {'versions': [...], 'timestamps_ms': [...], 'paths': [[...]]}.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    ddir = table_dir
    pby = partition_by or []
    phys: dict[str, str] = {}  # logical -> physical (column mapping)
    if column_mapping:
        hive_layout = False
    log_dir = os.path.join(table_dir, "_delta_log")
    os.makedirs(log_dir, exist_ok=True)
    base_ts = 1_700_000_000_000
    versions, timestamps, all_paths = [], [], []
    live: dict[str, dict] = {}
    schema_string = None
    for v, commit in enumerate(commits):
        ts = base_ts + v * 60_000
        actions = []
        if v == 0:
            actions.append({"protocol": {
                "minReaderVersion": 2 if column_mapping else 1,
                "minWriterVersion": 5 if column_mapping else 2}})
        paths = []
        file_no = 0
        for df in commit.get("add", []):
            if schema_string is None:
                full = pa.Table.from_pandas(df, preserve_index=False)
                if column_mapping:
                    phys.update({
                        n: f"col-{i + 1}"
                        for i, n in enumerate(full.schema.names)
                    })
                schema_string = json.dumps({
                    "type": "struct",
                    "fields": [
                        {"name": n, "type": _delta_type(full.schema.field(n)),
                         "nullable": True,
                         "metadata": {
                             "delta.columnMapping.id": i + 1,
                             "delta.columnMapping.physicalName": phys[n],
                         } if column_mapping else {}}
                        for i, n in enumerate(full.schema.names)
                    ],
                })
                conf = {}
                if column_mapping:
                    conf = {"delta.columnMapping.mode": "name",
                            "delta.columnMapping.maxColumnId":
                                str(len(full.schema.names))}
                actions.append({"metaData": {
                    "id": "fixture-table",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema_string,
                    "partitionColumns": list(pby),
                    "configuration": conf,
                    "createdTime": ts,
                }})
            if pby:
                pieces = [
                    (dict(zip(pby, key if isinstance(key, tuple) else (key,))),
                     grp.drop(columns=pby))
                    for key, grp in df.groupby(pby, dropna=False, sort=True)
                ]
            else:
                pieces = [({}, df)]
            for pvals, data in pieces:
                pstr = {phys.get(c, c): _part_value_str(x)
                        for c, x in pvals.items()}
                base = f"part-{v:05d}-{file_no:05d}.parquet"
                file_no += 1
                if pby and hive_layout:
                    segs = "/".join(
                        f"{c}={pstr[c]}" if pstr[c] is not None
                        else f"{c}=__HIVE_DEFAULT_PARTITION__"
                        for c in pby
                    )
                    rel = f"{segs}/{base}"
                    os.makedirs(os.path.join(ddir, segs), exist_ok=True)
                else:
                    rel = base
                fpath = os.path.join(ddir, rel)
                if phys:
                    data = data.rename(columns=phys)
                tbl = pa.Table.from_pandas(data, preserve_index=False)
                pq.write_table(tbl, fpath)
                stats = {"numRecords": len(data)}
                if len(data):
                    mins, maxs = {}, {}
                    for c in data.columns:
                        s = data[c]
                        if s.dtype.kind in "iuf":
                            mins[c] = s.min().item()
                            maxs[c] = s.max().item()
                        elif s.dtype == object and all(
                            isinstance(x, str) for x in s
                        ):
                            mins[c] = min(s)
                            maxs[c] = max(s)
                    if mins:
                        stats["minValues"] = mins
                        stats["maxValues"] = maxs
                add = {
                    "path": rel,
                    "partitionValues": pstr,
                    "size": os.path.getsize(fpath),
                    "modificationTime": ts,
                    "dataChange": True,
                    "stats": json.dumps(stats),
                }
                actions.append({"add": add})
                live[rel] = add
                paths.append(rel)
        for rel in commit.get("remove", []):
            actions.append({"remove": {
                "path": rel, "deletionTimestamp": ts, "dataChange": True}})
            live.pop(rel, None)
        actions.append({"commitInfo": {
            "timestamp": ts, "operation": "WRITE"}})
        with open(os.path.join(log_dir, f"{v:020d}.json"), "w") as f:
            for act in actions:
                f.write(json.dumps(act) + "\n")
        if checkpoint_at == v:
            # real checkpoints store partitionValues as map<string,string>;
            # arrow infers an unwritable empty struct from {} — drop the
            # empty map (the reader tolerates the absent key)
            rows = [
                {"add": {k: x for k, x in a.items()
                         if not (k == "partitionValues" and not x)}}
                for a in live.values()
            ]
            cp_tbl = pa.Table.from_pylist(rows)
            pq.write_table(
                cp_tbl,
                os.path.join(log_dir, f"{v:020d}.checkpoint.parquet"),
            )
            with open(os.path.join(log_dir, "_last_checkpoint"), "w") as f:
                json.dump({"version": v, "size": len(rows)}, f)
        versions.append(v)
        timestamps.append(ts)
        all_paths.append(paths)
    return {"versions": versions, "timestamps_ms": timestamps,
            "paths": all_paths}


def _delta_type(field) -> str:
    import pyarrow as pa

    t = field.type
    if pa.types.is_int64(t):
        return "long"
    if pa.types.is_int32(t):
        return "integer"
    if pa.types.is_float64(t):
        return "double"
    if pa.types.is_float32(t):
        return "float"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_boolean(t):
        return "boolean"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date32(t):
        return "date"
    return "string"
