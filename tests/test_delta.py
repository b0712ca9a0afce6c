"""Delta Lake source: log replay, removes, time travel, checkpoints,
protocol refusals. Fixture twin = write_delta_fixture (sources/delta.py),
mirroring the Iceberg test strategy."""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from cuda_float_compress_spark.sources.delta import (
    delta_snapshot_info,
    read_delta_dir,
    write_delta_fixture,
)


def _fixture(tmp_path, checkpoint_at=None):
    tdir = str(tmp_path / "delta_table")
    info = write_delta_fixture(
        tdir,
        [
            {"add": [pd.DataFrame({"id": [1, 2], "v": ["a", "b"]})]},
            {"add": [pd.DataFrame({"id": [3], "v": ["c"]}),
                     pd.DataFrame({"id": [4, 5], "v": ["d", "e"]})]},
        ],
        checkpoint_at=checkpoint_at,
    )
    return tdir, info


def _fixture_with_remove(tmp_path, checkpoint_at=None):
    tdir = str(tmp_path / "delta_rm")
    first = pd.DataFrame({"id": [1, 2], "v": ["a", "b"]})
    info = write_delta_fixture(
        tdir,
        [
            {"add": [first]},
            {"add": [pd.DataFrame({"id": [3, 4, 5], "v": ["c", "d", "e"]})]},
        ],
        checkpoint_at=checkpoint_at,
    )
    # third commit: remove commit-0's file, re-add the same rows split
    info2 = write_delta_fixture_extra(
        tdir, info,
        add=[pd.DataFrame({"id": [1], "v": ["a"]}),
             pd.DataFrame({"id": [2], "v": ["b"]})],
        remove=info["paths"][0],
    )
    return tdir, info2


def write_delta_fixture_extra(tdir, info, add, remove):
    """Append one more commit to an existing fixture (add + remove)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    v = info["versions"][-1] + 1
    ts = info["timestamps_ms"][-1] + 60_000
    actions = []
    paths = []
    for i, df in enumerate(add):
        rel = f"part-{v:05d}-{i:05d}.parquet"
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                       os.path.join(tdir, rel))
        actions.append({"add": {
            "path": rel, "partitionValues": {},
            "size": os.path.getsize(os.path.join(tdir, rel)),
            "modificationTime": ts, "dataChange": True,
            "stats": json.dumps({"numRecords": len(df)}),
        }})
        paths.append(rel)
    for rel in remove:
        actions.append({"remove": {
            "path": rel, "deletionTimestamp": ts, "dataChange": True}})
    actions.append({"commitInfo": {"timestamp": ts, "operation": "WRITE"}})
    with open(os.path.join(tdir, "_delta_log", f"{v:020d}.json"), "w") as f:
        for act in actions:
            f.write(json.dumps(act) + "\n")
    info = dict(info)
    info["versions"] = info["versions"] + [v]
    info["timestamps_ms"] = info["timestamps_ms"] + [ts]
    info["paths"] = info["paths"] + [paths]
    return info


def test_delta_read_current_and_versions(spark, tmp_path):
    tdir, info = _fixture_with_remove(tmp_path)
    cur = read_delta_dir(spark, tdir)
    assert sorted(r["id"] for r in cur.collect()) == [1, 2, 3, 4, 5]
    v0 = read_delta_dir(spark, tdir, version=0)
    assert sorted(r["id"] for r in v0.collect()) == [1, 2]
    v1 = read_delta_dir(spark, tdir, version=1)
    assert sorted(r["id"] for r in v1.collect()) == [1, 2, 3, 4, 5]
    # the rewrite commit removed commit-0's file: same rows, more files
    infos = delta_snapshot_info(tdir)
    assert [i["n_files"] for i in infos] == [1, 2, 3]
    assert [i["n_records"] for i in infos] == [2, 5, 5]
    with pytest.raises(ValueError, match="does not exist"):
        read_delta_dir(spark, tdir, version=9)


def test_delta_timestamp_travel(spark, tmp_path):
    tdir, info = _fixture_with_remove(tmp_path)
    ts0, ts1 = info["timestamps_ms"][0], info["timestamps_ms"][1]
    old = read_delta_dir(spark, tdir, as_of_ms=ts0)
    assert sorted(r["id"] for r in old.collect()) == [1, 2]
    mid = read_delta_dir(spark, tdir, as_of_ms=ts1 + 1)
    assert sorted(r["id"] for r in mid.collect()) == [1, 2, 3, 4, 5]
    with pytest.raises(ValueError, match="no Delta commit"):
        read_delta_dir(spark, tdir, as_of_ms=ts0 - 1)


def test_delta_checkpoint_replay(spark, tmp_path):
    """Reads start from the checkpoint parquet and replay only later JSON
    commits — a post-checkpoint remove of a pre-checkpoint file must still
    apply."""
    tdir, info = _fixture_with_remove(tmp_path, checkpoint_at=1)
    assert os.path.exists(
        os.path.join(tdir, "_delta_log", "_last_checkpoint")
    )
    cur = read_delta_dir(spark, tdir)
    assert sorted(r["id"] for r in cur.collect()) == [1, 2, 3, 4, 5]
    # version BEFORE the checkpoint still resolves (pure JSON replay)
    v0 = read_delta_dir(spark, tdir, version=0)
    assert sorted(r["id"] for r in v0.collect()) == [1, 2]
    # the removed pre-checkpoint file is not in the live set
    from cuda_float_compress_spark.sources.delta import _replay

    _, adds = _replay(tdir)
    assert info["paths"][0][0] not in {a["path"] for a in adds}


def test_delta_stats_file_skipping(spark, tmp_path):
    """Data skipping from log stats: a selective predicate prunes files by
    [minValues, maxValues] BEFORE the scan lists them, results identical
    to the unpruned read + filter, empty prune keeps the schema."""
    tdir = str(tmp_path / "delta_skip")
    write_delta_fixture(tdir, [
        {"add": [pd.DataFrame({"id": [1, 2, 3], "v": ["a", "b", "c"]}),
                 pd.DataFrame({"id": [10, 11], "v": ["j", "k"]}),
                 pd.DataFrame({"id": [20, 25], "v": ["t", "u"]})]},
    ])
    full = read_delta_dir(spark, tdir)
    assert full.count() == 7

    pruned = read_delta_dir(spark, tdir, predicates=[("id", ">=", 11)])
    assert sorted(r["id"] for r in pruned.collect()) == [11, 20, 25]
    # only 2 of 3 files are in the plan
    assert len({f for f in pruned.inputFiles()}) == 2

    eq = read_delta_dir(spark, tdir, predicates=[("id", "=", 2)])
    assert [r["v"] for r in eq.collect()] == ["b"]
    assert len(eq.inputFiles()) == 1

    # string stats prune too
    sp = read_delta_dir(spark, tdir, predicates=[("v", ">", "s")])
    assert sorted(r["v"] for r in sp.collect()) == ["t", "u"]
    assert len(sp.inputFiles()) == 1

    # nothing can match: empty result, schema preserved
    none = read_delta_dir(spark, tdir, predicates=[("id", ">", 999)])
    assert none.count() == 0
    assert none.columns == ["id", "v"]

    # predicates are EXACT (re-applied as filters), not just pruning:
    # id >= 2 keeps file 1 (min 1, max 3) but must drop the id=1 row
    ge2 = read_delta_dir(spark, tdir, predicates=[("id", ">=", 2)])
    assert sorted(r["id"] for r in ge2.collect()) == [2, 3, 10, 11, 20, 25]

    with pytest.raises(ValueError, match="skip predicate"):
        read_delta_dir(spark, tdir, predicates=[("id", "!=", 1)])


def test_delta_refusals(spark, tmp_path):
    tdir, _ = _fixture(tmp_path)
    # unsupported reader protocol (deletion vectors era)
    log = os.path.join(tdir, "_delta_log")
    v = len(os.listdir(log))  # next version (no checkpoint files here)
    with open(os.path.join(log, f"{v:020d}.json"), "w") as f:
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 3,
            "readerFeatures": ["deletionVectors"]}}) + "\n")
        f.write(json.dumps({"commitInfo": {"timestamp": 1}}) + "\n")
    with pytest.raises(NotImplementedError, match="deletionVectors"):
        read_delta_dir(spark, tdir)
    # but time travel to before that commit still works
    ok = read_delta_dir(spark, tdir, version=1)
    assert ok.count() == 5
    with pytest.raises(ValueError, match="_delta_log"):
        read_delta_dir(spark, str(tmp_path / "nope"))


def test_delta_partitioned_hive(spark, tmp_path):
    """Partition columns live in the log/path, NOT the data files; the
    hive-layout fast path reconstructs them in ONE scan with the
    schemaString types, and a partition predicate prunes files exactly."""
    import pyarrow.parquet as pq

    tdir = str(tmp_path / "delta_part")
    df0 = pd.DataFrame({"p": [1, 1, 2, 2, 3], "id": [1, 2, 3, 4, 5],
                        "v": list("abcde")})
    write_delta_fixture(tdir, [{"add": [df0]}], partition_by=["p"])
    cur = read_delta_dir(spark, tdir)
    assert {(r["p"], r["id"], r["v"]) for r in cur.collect()} == {
        (1, 1, "a"), (1, 2, "b"), (2, 3, "c"), (2, 4, "d"), (3, 5, "e")
    }
    # type comes from schemaString (pandas int64 -> long), not discovery
    assert dict(cur.dtypes)["p"] == "bigint"
    # the data files genuinely do not contain the partition column
    f = cur.inputFiles()[0].removeprefix("file:")
    assert "p" not in pq.read_schema(f).names
    # exact partition pruning: only matching files reach the plan
    pr = read_delta_dir(spark, tdir, predicates=[("p", "=", 2)])
    assert sorted(r["id"] for r in pr.collect()) == [3, 4]
    assert len(pr.inputFiles()) == 1
    # mixed partition + stats predicate composes
    pr2 = read_delta_dir(spark, tdir,
                         predicates=[("p", ">=", 2), ("id", "<", 5)])
    assert sorted(r["id"] for r in pr2.collect()) == [3, 4]


def test_delta_column_mapping_name_mode(spark, tmp_path):
    """Reader protocol v2 / name-mode column mapping: parquet files store
    physical col-N names; the reader surfaces logical names, and stats
    skipping works on logical predicates (stats keys are physical in the
    log, normalized at the replay boundary)."""
    import pyarrow.parquet as pq

    tdir = str(tmp_path / "delta_cm")
    write_delta_fixture(tdir, [
        {"add": [pd.DataFrame({"id": [1, 2, 3], "v": ["a", "b", "c"]}),
                 pd.DataFrame({"id": [10, 11], "v": ["j", "k"]})]},
    ], column_mapping=True)
    cur = read_delta_dir(spark, tdir)
    assert cur.columns == ["id", "v"]
    assert sorted((r["id"], r["v"]) for r in cur.collect()) == [
        (1, "a"), (2, "b"), (3, "c"), (10, "j"), (11, "k")
    ]
    # the files really are physically renamed
    f = cur.inputFiles()[0].removeprefix("file:")
    assert set(pq.read_schema(f).names) == {"col-1", "col-2"}
    # logical-name predicate prunes via the physical-keyed stats
    pr = read_delta_dir(spark, tdir, predicates=[("id", ">=", 10)])
    assert sorted(r["id"] for r in pr.collect()) == [10, 11]
    assert len(pr.inputFiles()) == 1


def test_delta_column_mapping_partitioned(spark, tmp_path):
    """Column mapping + partitioning: partitionValues are keyed by
    physical name in the log; partition pruning on the logical name."""
    tdir = str(tmp_path / "delta_cm_part")
    write_delta_fixture(tdir, [
        {"add": [pd.DataFrame({"p": [1, 1, 2], "id": [1, 2, 3]})]},
    ], partition_by=["p"], column_mapping=True)
    # the raw log really keys partitionValues physically
    raw = [json.loads(x) for x in
           open(os.path.join(tdir, "_delta_log", f"{0:020d}.json"))]
    pv_keys = {k for a in raw if "add" in a
               for k in a["add"]["partitionValues"]}
    assert pv_keys == {"col-1"}
    cur = read_delta_dir(spark, tdir)
    assert {(r["p"], r["id"]) for r in cur.collect()} == {
        (1, 1), (1, 2), (2, 3)
    }
    pr = read_delta_dir(spark, tdir, predicates=[("p", "=", 2)])
    assert [r["id"] for r in pr.collect()] == [3]
    assert len(pr.inputFiles()) == 1


def test_delta_column_mapping_id_mode_refused(spark, tmp_path):
    tdir = str(tmp_path / "delta_cm_id")
    write_delta_fixture(tdir, [
        {"add": [pd.DataFrame({"id": [1]})]},
    ], column_mapping=True)
    log = os.path.join(tdir, "_delta_log", f"{0:020d}.json")
    lines = [json.loads(x) for x in open(log)]
    for act in lines:
        if "metaData" in act:
            act["metaData"]["configuration"][
                "delta.columnMapping.mode"] = "id"
    with open(log, "w") as f:
        for act in lines:
            f.write(json.dumps(act) + "\n")
    with pytest.raises(NotImplementedError, match="'id'"):
        read_delta_dir(spark, tdir)


def test_delta_partitioned_union_fallback(spark, tmp_path):
    """hive_layout=False: partition values exist ONLY in the log (no
    col=value path segments) — the reader's group-union path must
    reattach them, including a null partition."""
    tdir = str(tmp_path / "delta_part_flat")
    df0 = pd.DataFrame({"p": ["x", "x", "y", None], "id": [1, 2, 3, 4]})
    write_delta_fixture(tdir, [{"add": [df0]}],
                        partition_by=["p"], hive_layout=False)
    # no hive segments on disk
    assert not any("p=" in n for n in os.listdir(tdir))
    cur = read_delta_dir(spark, tdir)
    assert {(r["p"], r["id"]) for r in cur.collect()} == {
        ("x", 1), ("x", 2), ("y", 3), (None, 4)
    }
    pr = read_delta_dir(spark, tdir, predicates=[("p", "=", "y")])
    assert [r["id"] for r in pr.collect()] == [3]
    assert len(pr.inputFiles()) == 1


def test_delta_checkpointed_protocol_still_gates(spark, tmp_path):
    """A protocol upgrade recorded AT/BEFORE the checkpoint must still be
    applied when replay starts from the checkpoint (ADVICE r6: a DV-era
    table with a checkpoint was read silently instead of refusing)."""
    tdir, info = _fixture(tmp_path, checkpoint_at=1)
    log = os.path.join(tdir, "_delta_log")
    p1 = os.path.join(log, f"{1:020d}.json")
    with open(p1) as f:
        lines = f.read().splitlines()
    proto = json.dumps({"protocol": {
        "minReaderVersion": 3, "readerFeatures": ["deletionVectors"]}})
    with open(p1, "w") as f:
        f.write(proto + "\n")
        f.write("\n".join(lines) + "\n")
    with pytest.raises(NotImplementedError, match="deletionVectors"):
        read_delta_dir(spark, tdir)
    # a version BEFORE the upgrade still reads (pure JSON replay path)
    v0 = read_delta_dir(spark, tdir, version=0)
    assert sorted(r["id"] for r in v0.collect()) == [1, 2]


def test_delta_checkpoint_row_protocol_still_gates(spark, tmp_path):
    """Same gate when the protocol action lives in the checkpoint parquet
    itself (how real writers checkpoint it)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tdir, info = _fixture(tmp_path, checkpoint_at=1)
    cp = os.path.join(tdir, "_delta_log", f"{1:020d}.checkpoint.parquet")
    old = pq.read_table(cp)
    rows = [{"add": a, "protocol": None} for a in old.to_pylist()
            for a in [a["add"]]]
    rows.append({"add": None, "protocol": {
        "minReaderVersion": 3, "readerFeatures": ["deletionVectors"]}})
    schema = pa.schema([
        old.schema.field("add"),
        pa.field("protocol", pa.struct([
            ("minReaderVersion", pa.int64()),
            ("readerFeatures", pa.list_(pa.string())),
        ])),
    ])
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), cp)
    with pytest.raises(NotImplementedError, match="deletionVectors"):
        read_delta_dir(spark, tdir)


def test_delta_cleaned_log_reads_checkpoint_metadata(spark, tmp_path):
    """Log cleanup deletes the JSON commits at or before the checkpoint,
    so the metaData action survives only as a checkpoint row (its map
    columns stored as parquet maps, as real writers store them). The
    table must still read; it used to raise "Delta log has no metaData
    action"."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tdir, info = _fixture_with_remove(tmp_path, checkpoint_at=1)
    log = os.path.join(tdir, "_delta_log")
    with open(os.path.join(log, f"{0:020d}.json")) as f:
        meta = next(json.loads(line)["metaData"] for line in f
                    if "metaData" in line)
    cp = os.path.join(log, f"{1:020d}.checkpoint.parquet")
    old = pq.read_table(cp)
    str_map = pa.map_(pa.string(), pa.string())
    schema = pa.schema([
        old.schema.field("add"),
        pa.field("metaData", pa.struct([
            ("id", pa.string()),
            ("format", pa.struct([("provider", pa.string()),
                                  ("options", str_map)])),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", str_map),
            ("createdTime", pa.int64()),
        ])),
    ])
    rows = [{"add": r["add"], "metaData": None} for r in old.to_pylist()]
    rows.append({"add": None, "metaData": dict(
        meta, format={"provider": "parquet", "options": []},
        configuration=[("delta.columnMapping.mode", "none")])})
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), cp)
    for v in (0, 1):
        os.remove(os.path.join(log, f"{v:020d}.json"))
    cur = read_delta_dir(spark, tdir)
    assert sorted(r["id"] for r in cur.collect()) == [1, 2, 3, 4, 5]


def test_delta_deletion_vector_add_refused(spark, tmp_path):
    """An add entry carrying a live deletion vector must refuse — reading
    the file without applying the DV would resurrect its deleted rows."""
    tdir, info = _fixture(tmp_path)
    log = os.path.join(tdir, "_delta_log")
    v = info["versions"][-1] + 1
    rel = info["paths"][0][0]  # existing data file, now claimed DV-masked
    with open(os.path.join(log, f"{v:020d}.json"), "w") as f:
        f.write(json.dumps({"add": {
            "path": rel, "partitionValues": {}, "size": 1,
            "modificationTime": 1, "dataChange": True,
            "deletionVector": {"storageType": "u", "pathOrInlineDv": "x",
                               "sizeInBytes": 40, "cardinality": 1},
        }}) + "\n")
        f.write(json.dumps({"commitInfo": {"timestamp": 1}}) + "\n")
    with pytest.raises(NotImplementedError, match="deletion vector"):
        read_delta_dir(spark, tdir)
    # time travel to before the DV commit still works
    ok = read_delta_dir(spark, tdir, version=1)
    assert ok.count() == 5
