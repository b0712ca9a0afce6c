"""Pure-Python Iceberg read path: avro container round-trip, metadata walk,
snapshot selection / time travel, delete-file refusal, relocated tables."""

from __future__ import annotations

import json
import shutil

import pandas as pd
import pytest

from cuda_float_compress_spark.sources import read_iceberg
from cuda_float_compress_spark.sources.avro import read_avro, write_avro
from cuda_float_compress_spark.sources.iceberg import (
    data_files,
    read_iceberg_dir,
    snapshots,
    write_iceberg_fixture,
)


def test_avro_container_roundtrip(tmp_path):
    """The from-scratch avro reader/writer round-trips every type the
    Iceberg manifest schemas use, under both codecs."""
    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "s", "type": "string"},
            {"name": "i", "type": "int"},
            {"name": "l", "type": "long"},
            {"name": "d", "type": "double"},
            {"name": "fl", "type": "float"},
            {"name": "b", "type": "boolean"},
            {"name": "by", "type": "bytes"},
            {"name": "u", "type": ["null", "long"]},
            {"name": "arr", "type": {"type": "array", "items": "string"}},
            {"name": "m", "type": {"type": "map", "values": "long"}},
            {
                "name": "nested",
                "type": {
                    "type": "record",
                    "name": "inner",
                    "fields": [{"name": "x", "type": "long"}],
                },
            },
        ],
    }
    records = [
        {"s": "héllo", "i": -7, "l": 1 << 40, "d": 2.5, "fl": 0.25,
         "b": True, "by": b"\x00\xff", "u": None, "arr": ["a", "b"],
         "m": {"k1": 1, "k2": -2}, "nested": {"x": 9}},
        {"s": "", "i": 0, "l": -(1 << 40), "d": -0.0, "fl": -1.5,
         "b": False, "by": b"", "u": 42, "arr": [], "m": {},
         "nested": {"x": -9}},
    ]
    for codec in ("null", "deflate"):
        path = str(tmp_path / f"t_{codec}.avro")
        write_avro(path, schema, records, codec=codec)
        assert read_avro(path) == records, codec


def test_avro_named_type_behind_untaken_union_branch(tmp_path):
    """A named type whose only DEFINITION sits behind a union branch not
    taken by the first record must still resolve for later by-name
    references (pre-walk registration; lazy-during-decode failed here).
    Real Iceberg manifests from other writers hit this shape."""
    schema = {
        "type": "record",
        "name": "outer",
        "fields": [
            {"name": "maybe", "type": ["null", {
                "type": "record",
                "name": "com.example.Inner",
                "fields": [{"name": "x", "type": "long"}],
            }]},
            {"name": "again", "type": ["null", "com.example.Inner"]},
            {"name": "short_ref", "type": ["null", "Inner"]},
        ],
    }
    records = [
        # first record: definition branch NOT taken, reference branch taken
        {"maybe": None, "again": {"x": 7}, "short_ref": None},
        {"maybe": {"x": 1}, "again": None, "short_ref": {"x": 2}},
    ]
    path = str(tmp_path / "named.avro")
    write_avro(path, schema, records, codec="null")
    assert read_avro(path) == records


def _fixture(tmp_path):
    tdir = str(tmp_path / "ice_table")
    info = write_iceberg_fixture(
        tdir,
        [
            [pd.DataFrame({"id": [1, 2], "v": ["a", "b"]})],
            [pd.DataFrame({"id": [3], "v": ["c"]}),
             pd.DataFrame({"id": [4, 5], "v": ["d", "e"]})],
        ],
    )
    return tdir, info


def test_iceberg_read_current_and_time_travel(spark, tmp_path):
    tdir, info = _fixture(tmp_path)
    snaps = snapshots(tdir)
    assert [s["snapshot_id"] for s in snaps] == info["snapshot_ids"]
    assert snaps[-1]["is_current"]

    cur = read_iceberg_dir(spark, tdir)
    assert sorted(r["id"] for r in cur.collect()) == [1, 2, 3, 4, 5]
    # snapshot-id time travel: first snapshot has only the first file
    old = read_iceberg_dir(spark, tdir, snapshot_id=info["snapshot_ids"][0])
    assert sorted(r["id"] for r in old.collect()) == [1, 2]
    # timestamp time travel
    ts = read_iceberg_dir(spark, tdir, as_of_ms=info["timestamps_ms"][0])
    assert sorted(r["id"] for r in ts.collect()) == [1, 2]
    with pytest.raises(ValueError, match="no snapshot at or before"):
        read_iceberg_dir(spark, tdir, as_of_ms=info["timestamps_ms"][0] - 1)
    # the public gateway dispatches paths to the no-jars reader
    via_gateway = read_iceberg(spark, tdir)
    assert via_gateway.count() == 5


def test_iceberg_relocated_table(spark, tmp_path):
    """Absolute paths recorded in metadata re-root when the table moves —
    the common copy-the-directory scenario."""
    tdir, _ = _fixture(tmp_path)
    moved = str(tmp_path / "moved_table")
    shutil.move(tdir, moved)
    out = read_iceberg_dir(spark, moved)
    assert sorted(r["id"] for r in out.collect()) == [1, 2, 3, 4, 5]


def test_iceberg_position_deletes(spark, tmp_path):
    """v2 merge-on-read position deletes: anti-join on the parquet reader's
    native (_metadata.file_path, _metadata.row_index); path-only scans
    refuse the table instead of resurrecting deleted rows; time travel to a
    pre-delete snapshot still sees everything."""
    tdir = str(tmp_path / "ice_posdel")
    info = write_iceberg_fixture(
        tdir,
        [
            [pd.DataFrame({"id": [1, 2], "v": ["a", "b"]}),
             pd.DataFrame({"id": [3, 4, 5], "v": ["c", "d", "e"]})],
            # delete file-0 pos 0 (id=1) and file-1 pos 2 (id=5)
            {"pos_deletes": [(0, 0), (1, 2)]},
        ],
    )
    cur = read_iceberg_dir(spark, tdir)
    assert sorted(r["id"] for r in cur.collect()) == [2, 3, 4]
    pre = read_iceberg_dir(spark, tdir, snapshot_id=info["snapshot_ids"][0])
    assert sorted(r["id"] for r in pre.collect()) == [1, 2, 3, 4, 5]
    with pytest.raises(ValueError, match="merge-on-read"):
        data_files(tdir)


def test_iceberg_position_deletes_survive_relocation(spark, tmp_path):
    """Deletes reference data files by RECORDED path; after the table
    directory moves, the recorded->resolved map must still line them up
    with the scan's _metadata paths."""
    tdir = str(tmp_path / "ice_mv")
    write_iceberg_fixture(
        tdir,
        [
            [pd.DataFrame({"id": [1, 2, 3], "v": ["a", "b", "c"]})],
            {"pos_deletes": [(0, 1)]},  # id=2
        ],
    )
    moved = str(tmp_path / "ice_mv2")
    shutil.move(tdir, moved)
    out = read_iceberg_dir(spark, moved)
    assert sorted(r["id"] for r in out.collect()) == [1, 3]


def test_iceberg_equality_deletes_strict_sequence_scope(spark, tmp_path):
    """Equality deletes remove matching rows from files with data seq
    STRICTLY below the delete's — a row re-inserted AFTER the delete
    survives while the older copy dies. Null-safe matching: an eq-delete
    row with a null value removes rows whose column IS null."""
    tdir = str(tmp_path / "ice_eqdel")
    write_iceberg_fixture(
        tdir,
        [
            [pd.DataFrame({"id": [1, 2, 3], "v": ["a", "b", None]})],
            # delete by equality on v (field id 2): v='b' and v IS NULL
            {"eq_deletes": {"rows": pd.DataFrame({"v": ["b", None]}),
                            "ids": [2]}},
            # re-insert a v='b' row AFTER the delete: must survive
            [pd.DataFrame({"id": [9], "v": ["b"]})],
        ],
    )
    cur = read_iceberg_dir(spark, tdir)
    got = sorted((r["id"], r["v"]) for r in cur.collect())
    assert got == [(1, "a"), (9, "b")]
    # deletes persist into later append snapshots' scans (carried manifest)
    deleted_ids = {2, 3}
    assert not deleted_ids & {i for i, _ in got}


def test_iceberg_pos_and_eq_deletes_combined(spark, tmp_path):
    tdir = str(tmp_path / "ice_both")
    write_iceberg_fixture(
        tdir,
        [
            [pd.DataFrame({"id": [1, 2, 3, 4], "v": ["a", "b", "c", "d"]})],
            {"pos_deletes": [(0, 0)]},                      # id=1
            {"eq_deletes": {"rows": pd.DataFrame({"v": ["c"]}),
                            "ids": [2]}},                   # id=3
        ],
    )
    cur = read_iceberg_dir(spark, tdir)
    assert sorted(r["id"] for r in cur.collect()) == [2, 4]


def test_publish_blocks_iceberg_over_encoded_table(spark, tmp_path):
    """An encoded table's blocks publish as an Iceberg snapshot in place
    (no copy); repeated publishes append snapshots with time travel, and
    the Iceberg view equals the parquet view byte-for-byte."""
    from cuda_float_compress_spark.operators.direct import encode_table_direct
    from cuda_float_compress_spark.operators.encode import encode_table
    from cuda_float_compress_spark.sources import publish_blocks_iceberg
    from cuda_float_compress_spark.table import generate_webpages_df

    src = str(tmp_path / "pub_src")
    out = str(tmp_path / "pub_enc")
    generate_webpages_df(spark, 400, partitions=2).write.parquet(src)
    encode_table_direct(spark, src, out, resume=False,
                        target_rows_per_split=200)
    r1 = publish_blocks_iceberg(out, timestamp_ms=1_700_000_000_000)
    via_ice = read_iceberg(spark, out)
    via_pq = spark.read.parquet(f"{out}/blocks")
    assert via_ice.count() == via_pq.count()
    assert via_ice.select("part_id", "chunk_id", "col").exceptAll(
        via_pq.select("part_id", "chunk_id", "col")
    ).count() == 0

    # second encode run (disjoint parts) + republish -> new snapshot; old
    # snapshot still reads the old file set
    encode_table(spark, generate_webpages_df(spark, 200, partitions=1), out,
                 n_parts=1, detect_skew=False, part_offset=100)
    r2 = publish_blocks_iceberg(out, timestamp_ms=1_700_000_060_000)
    assert r2["snapshot_id"] > r1["snapshot_id"]
    assert read_iceberg(spark, out).count() == spark.read.parquet(
        f"{out}/blocks"
    ).count()
    old = read_iceberg(spark, out, snapshot_id=r1["snapshot_id"])
    assert old.count() == via_pq.count()  # time travel to the first publish
    snaps = snapshots(out)
    assert len(snaps) == 2 and snaps[-1]["is_current"]

    # an orphan block file (its run never committed: a crashed writer's
    # leftover) is not published; the lineage commits decide what is current
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    committed = data_files(out)
    blk = pq.read_table(sorted(glob.glob(f"{out}/blocks/*.parquet"))[0])
    orphan = f"{out}/blocks/part-orphan.parquet"
    pq.write_table(blk.set_column(
        blk.schema.get_field_index("run_id"), "run_id",
        pa.array(["never-committed"] * blk.num_rows)), orphan)
    publish_blocks_iceberg(out, timestamp_ms=1_700_000_120_000)
    assert sorted(data_files(out)) == sorted(committed)
    assert read_iceberg(spark, out).count() == read_iceberg(
        spark, out, snapshot_id=r2["snapshot_id"]).count()


def test_iceberg_deleted_entries_and_missing(spark, tmp_path):
    from cuda_float_compress_spark.sources.iceberg import _MANIFEST_SCHEMA

    tdir, info = _fixture(tmp_path)
    meta = json.load(open(f"{tdir}/metadata/v2.metadata.json"))
    ml = read_avro(meta["snapshots"][-1]["manifest-list"])
    man_path = ml[0]["manifest_path"]
    man = read_avro(man_path)
    # mark the first data file DELETED (status=2): current view drops ids 1,2
    man[0]["status"] = 2
    write_avro(man_path, _MANIFEST_SCHEMA, man)
    out = read_iceberg_dir(spark, tdir)
    assert sorted(r["id"] for r in out.collect()) == [3, 4, 5]
    with pytest.raises(ValueError, match="snapshot .* not found"):
        data_files(tdir, snapshot_id=999999)


def test_iceberg_v2_spec_conformance(tmp_path):
    """Published tables carry every Iceberg v2 spec-REQUIRED field (the
    closest thing to external-runtime interop this container allows — no
    Iceberg jars, no pyiceberg wheel, no network for the DuckDB extension):

    - TableMetadata: format-version/table-uuid/location/last-sequence-number
      /last-updated-ms/last-column-id/schemas+current-schema-id/
      partition-specs+default-spec-id/last-partition-id/sort-orders+
      default-sort-order-id (Java TableMetadataParser rejects absences)
    - snapshots: snapshot-id, sequence-number, timestamp-ms, manifest-list,
      summary.operation
    - manifest list entries: path/length/spec-id/content, sequence numbers,
      added/existing/deleted file AND row counts
    - manifest entries: status, data_file with content/file_path/
      file_format/partition (required even when unpartitioned)/record_count
      /file_size_in_bytes; every avro field carries its spec field-id
    - manifest avro file-metadata: schema/partition-spec/format-version keys
    """
    from cuda_float_compress_spark.sources.avro import read_avro_meta
    from cuda_float_compress_spark.sources.iceberg import (
        export_iceberg_metadata,
        load_table_metadata,
    )

    tdir = str(tmp_path / "conft")
    write_iceberg_fixture(
        tdir,
        [
            [pd.DataFrame({"a": [1, 2], "s": ["x", "y"]})],
            [pd.DataFrame({"a": [3], "s": ["z"]})],
        ],
    )
    # also exercise the in-place export path on a fresh table
    edir = str(tmp_path / "confe")
    import os
    os.makedirs(edir + "/data")
    pd.DataFrame({"a": [9], "s": ["w"]}).to_parquet(edir + "/data/p.parquet")
    export_iceberg_metadata(edir, [edir + "/data/p.parquet"], 1_700_000_000_000)

    for tdir_i in (tdir, edir):
        meta = load_table_metadata(tdir_i)
        for key in (
            "format-version", "table-uuid", "location",
            "last-sequence-number", "last-updated-ms", "last-column-id",
            "schemas", "current-schema-id", "partition-specs",
            "default-spec-id", "last-partition-id", "sort-orders",
            "default-sort-order-id", "current-snapshot-id", "snapshots",
        ):
            assert key in meta, (tdir_i, key)
        assert meta["format-version"] == 2
        schema = meta["schemas"][meta["current-schema-id"]]
        assert schema["type"] == "struct" and schema["schema-id"] == 0
        assert [f["name"] for f in schema["fields"]] == ["a", "s"]
        assert [f["type"] for f in schema["fields"]] == ["long", "string"]
        ids = [f["id"] for f in schema["fields"]]
        assert ids == [1, 2] and meta["last-column-id"] == max(ids)
        assert meta["partition-specs"][0] == {"spec-id": 0, "fields": []}

        for snap in meta["snapshots"]:
            for key in ("snapshot-id", "sequence-number", "timestamp-ms",
                        "manifest-list", "summary"):
                assert key in snap, key
            assert "operation" in snap["summary"]
            ml = read_avro(snap["manifest-list"])
            assert ml
            for mf in ml:
                for key in (
                    "manifest_path", "manifest_length", "partition_spec_id",
                    "content", "sequence_number", "min_sequence_number",
                    "added_snapshot_id", "added_files_count",
                    "existing_files_count", "deleted_files_count",
                    "added_rows_count", "existing_rows_count",
                    "deleted_rows_count",
                ):
                    assert key in mf, key
                assert mf["sequence_number"] == snap["sequence-number"]
                assert mf["manifest_length"] == os.path.getsize(
                    mf["manifest_path"]
                )
                entries = read_avro(mf["manifest_path"])
                n_added = sum(1 for e in entries if e["status"] == 1)
                n_existing = sum(1 for e in entries if e["status"] == 0)
                assert n_added == mf["added_files_count"]
                assert n_existing == mf["existing_files_count"]
                assert sum(
                    e["data_file"]["record_count"] for e in entries
                    if e["status"] == 1
                ) == mf["added_rows_count"]
                for e in entries:
                    # sequence-number inheritance (null -> manifest-list
                    # value) applies only to ADDED entries; EXISTING ones
                    # must carry the adding snapshot's sequence number
                    # explicitly or Java's ManifestReader rejects them
                    if e["status"] == 0:
                        assert e["sequence_number"] is not None
                        assert e["file_sequence_number"] is not None
                        assert e["sequence_number"] < snap["sequence-number"]
                    df = e["data_file"]
                    for key in ("content", "file_path", "file_format",
                                "partition", "record_count",
                                "file_size_in_bytes"):
                        assert key in df, key
                    assert df["partition"] == {}  # unpartitioned struct
                # spec-required avro file-metadata keys + field-ids
                ameta = read_avro_meta(mf["manifest_path"])
                for key in ("schema", "partition-spec", "format-version"):
                    assert key in ameta, key
                assert ameta["format-version"] == b"2"
                embedded = json.loads(ameta["avro.schema"])
                top_ids = {f.get("field-id") for f in embedded["fields"]}
                assert {0, 1, 2, 3, 4} <= top_ids  # status..data_file
                df_schema = next(
                    f for f in embedded["fields"] if f["name"] == "data_file"
                )["type"]
                df_ids = {f.get("field-id") for f in df_schema["fields"]}
                assert {100, 101, 102, 103, 104, 134} <= df_ids


def test_iceberg_rest_catalog_read(spark, tmp_path):
    """REST catalog read path against an in-process mock implementing the
    public REST catalog spec's JSON shapes: config handshake (prefix
    discovery), bearer-token auth, namespace/table listing, LoadTableResult
    with embedded metadata AND the metadata-location-only variant, snapshot
    + timestamp time travel, and catalog-error surfacing."""
    import glob as _glob
    import json as _json
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from cuda_float_compress_spark.sources.iceberg import load_table_metadata
    from cuda_float_compress_spark.sources.iceberg_rest import (
        RestCatalog,
        read_iceberg_rest,
    )

    tdir, info = _fixture(tmp_path)
    meta = load_table_metadata(tdir)
    meta_path = sorted(_glob.glob(f"{tdir}/metadata/*.metadata.json"))[-1]

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet
            pass

        def _json(self, code, obj):
            body = _json.dumps(obj).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):
            if self.path.startswith("/v1/config"):
                return self._json(200, {"defaults": {},
                                        "overrides": {"prefix": "ws"}})
            if self.headers.get("Authorization") != "Bearer sekrit":
                return self._json(401, {"error": {
                    "message": "missing bearer token", "code": 401}})
            if self.path == "/v1/ws/namespaces":
                return self._json(200, {"namespaces": [["web"]]})
            if self.path == "/v1/ws/namespaces/web/tables":
                return self._json(200, {"identifiers": [
                    {"namespace": ["web"], "name": "pages"},
                    {"namespace": ["web"], "name": "pages_by_location"},
                ]})
            if self.path == "/v1/ws/namespaces/web/tables/pages":
                return self._json(200, {"metadata-location": meta_path,
                                        "metadata": meta})
            if self.path == "/v1/ws/namespaces/web/tables/pages_by_location":
                # the variant real catalogs may return: location only
                return self._json(200, {"metadata-location": meta_path})
            return self._json(404, {"error": {
                "message": "table not found", "code": 404}})

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    port = srv.server_address[1]
    thread = threading.Thread(target=srv.serve_forever, daemon=True)
    thread.start()
    try:
        uri = f"http://127.0.0.1:{port}"
        cat = RestCatalog(uri, token="sekrit")
        assert cat.prefix == "ws"  # discovered via /v1/config
        assert cat.list_namespaces() == [("web",)]
        assert cat.list_tables("web") == ["pages", "pages_by_location"]

        cur = read_iceberg_rest(spark, uri, "web", "pages", token="sekrit")
        assert sorted(r["id"] for r in cur.collect()) == [1, 2, 3, 4, 5]
        old = read_iceberg_rest(
            spark, uri, "web", "pages", token="sekrit",
            snapshot_id=info["snapshot_ids"][0],
        )
        assert sorted(r["id"] for r in old.collect()) == [1, 2]
        ts = read_iceberg_rest(
            spark, uri, "web", "pages", token="sekrit",
            as_of_ms=info["timestamps_ms"][0],
        )
        assert sorted(r["id"] for r in ts.collect()) == [1, 2]
        # metadata-location-only LoadTableResult
        loc = read_iceberg_rest(
            spark, uri, "web", "pages_by_location", token="sekrit"
        )
        assert loc.count() == 5
        # auth + error surfacing keep the ValueError contract
        with pytest.raises(ValueError, match="401"):
            read_iceberg_rest(spark, uri, "web", "pages", token="wrong")
        with pytest.raises(ValueError, match="404"):
            read_iceberg_rest(spark, uri, "web", "nope", token="sekrit")
        with pytest.raises(ValueError, match="unreachable"):
            RestCatalog("http://127.0.0.1:1", prefix="x").load_table(
                "a", "b")
    finally:
        srv.shutdown()
        thread.join(timeout=5)


def test_iceberg_rest_read_applies_deletes(spark, tmp_path):
    """The REST catalog read path shares read_scan_plan, so a table whose
    current snapshot carries merge-on-read deletes comes back with them
    applied (not resurrected, not refused)."""
    from cuda_float_compress_spark.sources.iceberg_rest import (
        read_iceberg_rest,
        serve_catalog_fixture,
    )

    tdir = str(tmp_path / "ice_rest_del")
    write_iceberg_fixture(
        tdir,
        [
            [pd.DataFrame({"id": [1, 2, 3], "v": ["a", "b", "c"]})],
            {"pos_deletes": [(0, 1)]},  # id=2
        ],
    )
    with serve_catalog_fixture({("web", "pages"): tdir}) as uri:
        out = read_iceberg_rest(spark, uri, "web", "pages")
        assert sorted(r["id"] for r in out.collect()) == [1, 3]
