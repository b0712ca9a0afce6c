"""The table Snapshot: the one reader of an encoded table's metadata.

An encoded table dir holds ``blocks/`` (one row per chunk x column, the
payload beside its stats), ``manifest/`` (one file per run: the stats of
each of its block rows), ``lineage/`` (one row per part per committed
run: the commit log) and ``deletes/run-*`` (merge-on-read tombstones).
:meth:`Snapshot.resolve` is the only code that reads ``lineage/``,
``manifest/`` and ``deletes/`` or lists ``blocks/``; it never opens a
block file. Every reader (the Spark decode transport, the Spark-free
``localio`` reader, metadata aggregation, compaction) and every
resume/merge writer takes its facts from here, so they cannot disagree:

* **Committed pairs.** ``(part_id, run_id)`` is committed when lineage
  holds a ``status == 'done'`` row for it. ``as_of`` keeps runs finished
  at or before that instant (time travel); ``since`` keeps runs finished
  strictly after it (incremental reads). A dir without ``lineage/`` has
  committed nothing (its first encode crashed before the lineage append)
  and reads as an empty table. A part committed by two runs would decode
  twice, so any read of such a table raises ``ValueError``.
* **Manifest.** The committed runs' ``manifest/part-direct-<run_id>``
  files, read in one pass, in :data:`MANIFEST_SCHEMA`: one row per block
  row, its stats without the payload, and ``file``, the block file
  holding it. ``encode.commit_blocks`` writes a run's file from the rows
  its tasks wrote, before the lineage append, so a crashed run's file is
  never read. Rows of a part lineage does not commit are dropped.
* **Schema.** The union of ``(col, ptype)`` over the manifest rows of ALL
  committed runs, in first-seen column order. It ignores ``as_of``,
  ``since`` and any part or column restriction, so every reader of one
  table returns the same columns; chunks that predate a column decode
  it as nulls. A ``timestamp_us``/``timestamp_ntz`` mix coalesces to
  ``timestamp_us``; any other re-typed column is refused.
* **Tombstones.** ``deletes/run-*`` dirs carrying the ``_SUCCESS``
  marker, written last by ``deletes.commit_tombstones``. Each run's rows
  carry one ``committed_at`` stamp; under ``as_of`` a run applies when
  that stamp is at or before it. Other dirs there are inert;
  ``maintain.vacuum`` reclaims them.
* **Chunk stats.** The manifest rows of the in-window pairs: the zone
  maps, Bloom filters, counts, codecs and sizes that chunk pruning,
  metadata aggregation and ``table_stats`` read on the driver. They hold
  O(chunks x columns) rows.
* **Block files.** The ``blocks/*.parquet`` files the chunk stats name,
  with their sizes from one listing of ``blocks/``. A file no committed
  manifest row names is an orphan (a crashed or refused run's, or a
  copy): no reader opens it, and ``maintain.vacuum`` deletes it.
* **File groups.** One entry per block file, with the chunk keys it
  holds: the unit a reader decodes and ``compact`` re-chunks.
* **Deleted positions.** The live tombstones as ``(part_id, chunk_id)``
  -> row positions, read with pyarrow: the form the chunk assembler
  drops them in.
* **Table dirs.** Which of ``blocks/``, ``manifest/``, ``lineage/`` and
  ``deletes/`` exist; the writers of a new table (``compact``,
  ``reencode_columns``) refuse a dir holding any of them.
* **Leftover files.** The ``.inprogress-*`` files a writer that failed
  mid-write left in ``blocks/``, ``manifest/`` or ``lineage/``. No
  reader opens them; ``maintain.vacuum`` deletes them.

Paths go through ``pyarrow.fs.FileSystem.from_uri``; a bare path is
local. ``file://`` and bare paths therefore take the same code, and a
scheme pyarrow cannot open (``s3a://``, or ``hdfs://`` without libhdfs)
raises here instead of reading as an empty table.

Only ``lineage/`` is read eagerly; everything else is derived on first
use, so resume and merge, which need only the commit log, never read
the manifest. The Snapshot never writes.

**One layout.** Every writer puts each part whole into one block file,
with one block row per ``(part_id, chunk_id, col)``, and commits it in
one run. :func:`check_layout` refuses, with ``ValueError``, rows that
break it, rather than guess at what another layout meant: a block row
present twice (a block file copied by a task retry and named by two
manifest rows, or one part written by two tasks) and a part whose rows
are in two files. ``encode.commit_blocks`` runs it on a run's rows
before it commits them, and the Snapshot on the committed rows. The
Snapshot also refuses a committed part whose block file is missing from
``blocks/`` (a lost file, which would otherwise read as a table without
that part's rows). A manifest file lacking one of
:data:`MANIFEST_SCHEMA`'s columns (one in an older layout) fails to
read with ``KeyError``.
"""

from __future__ import annotations

import functools
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.fs as pafs
import pyarrow.parquet as pq

__all__ = ["Snapshot", "LINEAGE_SCHEMA", "MANIFEST_SCHEMA", "ADDRESS_COLS",
           "ADDRESS_SCHEMA", "check_layout"]

LINEAGE_SCHEMA = pa.schema([
    ("part_id", pa.int32()),
    ("n_chunks", pa.int64()),
    ("n_rows", pa.int64()),
    ("raw_bytes", pa.int64()),
    ("enc_bytes", pa.int64()),
    ("run_id", pa.string()),
    ("status", pa.string()),
    ("finished_at", pa.float64()),
    ("salts_json", pa.string()),
])

#: one row per block row of a run: the row without ``params`` and the
#: payload, and ``file``, the base name of the block file holding it.
#: ``encode.commit_blocks`` writes a run's rows as its manifest file,
#: ``manifest/part-direct-<run_id>.parquet``
MANIFEST_SCHEMA = pa.schema([
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
    ("vmin", pa.int64()),
    ("vmax", pa.int64()),
    ("vsum", pa.int64()),
    ("run_id", pa.string()),
    ("bloom", pa.binary()),
    ("file", pa.string()),
])

_CHUNK_KEY = ["part_id", "chunk_id"]
#: a row's stable address, the columns of a tombstone row
ADDRESS_SCHEMA = pa.schema([("_part_id", pa.int32()),
                            ("_chunk_id", pa.int64()), ("_pos", pa.int64())])
ADDRESS_COLS = tuple(ADDRESS_SCHEMA.names)


def resolve_path(path: str) -> tuple[pafs.FileSystem, str]:
    """The filesystem and root of ``path``: a URI through
    ``pyarrow.fs.FileSystem.from_uri``, a bare path as a local one."""
    if "://" in path or path.startswith("file:"):
        fs, root = pafs.FileSystem.from_uri(path)
    else:
        fs, root = pafs.LocalFileSystem(), os.path.abspath(path)
    return fs, root.rstrip("/")


def _open(out_dir: str) -> tuple[pafs.FileSystem, str]:
    fs, root = resolve_path(out_dir)
    if isinstance(fs, pafs.LocalFileSystem):
        fs = pafs.LocalFileSystem(use_mmap=True)
    return fs, root


def _exists(fs: pafs.FileSystem, path: str) -> bool:
    return fs.get_file_info(path).type != pafs.FileType.NotFound


def _listdir(fs: pafs.FileSystem, path: str) -> list[pafs.FileInfo]:
    return fs.get_file_info(pafs.FileSelector(path, allow_not_found=True))


def conform(got: pa.Table, schema: pa.Schema) -> pa.Table:
    """``got``, block or manifest rows as read back, in ``schema``:
    pyarrow reads the block writer's ``large_binary`` columns back as
    ``binary``. A column ``got`` lacks raises ``KeyError``."""
    return got.select(schema.names).cast(schema)


def _union_schema(rows) -> list[tuple[str, str]]:
    """Merge distinct ``(col, ptype)`` rows, given in column order, into
    the table schema (see the module docstring for the rule)."""
    out: list[tuple[str, str]] = []
    seen: dict[str, str] = {}
    for col, ptype in rows:
        prev = seen.get(col)
        if prev is None:
            seen[col] = ptype
            out.append((col, ptype))
        elif prev != ptype:
            if {prev, ptype} == {"timestamp_us", "timestamp_ntz"}:
                # Spark writes TimestampType as INT96, which pyarrow reads
                # tz-naive: the direct encode classifies such a column ntz
                # while the DataFrame encode classifies it us. Both store
                # int64 UTC micros, so the instants agree either way.
                seen[col] = "timestamp_us"
                out[[c for c, _ in out].index(col)] = (col, "timestamp_us")
                continue
            raise ValueError(
                f"column {col!r} was appended with conflicting types "
                f"{prev!r} and {ptype!r}; re-encode the offending run"
            )
    return out


def _of_pairs(rows: pa.Table, pairs: frozenset) -> pa.Table:
    """The ``rows`` whose ``(part_id, run_id)`` is in ``pairs``."""
    key = pc.binary_join_element_wise(
        rows["part_id"].cast(pa.string()), rows["run_id"], "/")
    return rows.filter(pc.is_in(key, value_set=pa.array(
        [f"{p}/{r}" for p, r in pairs], pa.string())))


def check_layout(rows: pa.Table, where: str) -> None:
    """Refuse, with ``ValueError``, manifest rows (of one run, or a
    table's committed rows) that break the one layout (module docstring):
    a ``(part_id, chunk_id, col)`` present twice, or a part whose rows
    are in two files. The duplicate check comes first, as a copied block
    file also puts its parts in two files."""
    keys = _CHUNK_KEY + ["col"]
    counts = rows.group_by(keys).aggregate([("n", "count")])
    dup = counts.filter(pc.greater(counts["n_count"], 1))
    if dup.num_rows:
        p, c, col = (dup[k][0].as_py() for k in keys)
        raise ValueError(
            f"duplicate block for part={p} chunk={c} col={col}: two rows "
            f"in {where} (a block file copied by a task retry, or a part "
            "written by two tasks?); remove the copy or rebuild"
        )
    files = rows.group_by("part_id").aggregate([("file", "count_distinct")])
    split = files.filter(pc.greater(files["file_count_distinct"], 1))
    if split.num_rows:
        raise ValueError(
            f"part {split['part_id'][0].as_py()} of {where} has block rows "
            f"in {split['file_count_distinct'][0].as_py()} files, but "
            "every writer puts a part whole into one file; rebuild the table"
        )


class Snapshot:
    """One table's metadata at one point in time (see the module
    docstring). Build it with :meth:`resolve`."""

    def __init__(self, out_dir: str, as_of: float | None,
                 since: float | None):
        self.out_dir = out_dir
        self.as_of = as_of
        self.since = since
        self.fs, self.root = _open(out_dir)
        lin = f"{self.root}/lineage"
        #: every lineage row as written (none when the dir has no lineage)
        self.lineage: pa.Table = (
            ds.dataset(lin, schema=LINEAGE_SCHEMA, filesystem=self.fs,
                       format="parquet").to_table().combine_chunks()
            if _exists(self.fs, lin) else LINEAGE_SCHEMA.empty_table()
        )

    @classmethod
    def resolve(cls, out_dir: str, as_of: float | None = None,
                since: float | None = None) -> Snapshot:
        return cls(str(out_dir), as_of, since)

    @functools.cached_property
    def committed_rows(self) -> pa.Table:
        """The lineage rows of committed (``status == 'done'``) parts."""
        return self.lineage.filter(pc.equal(self.lineage["status"], "done"))

    @functools.cached_property
    def _all_pairs(self) -> frozenset:
        rows = self.committed_rows
        pairs = frozenset(zip(rows["part_id"].to_pylist(),
                              rows["run_id"].to_pylist()))
        per_part: dict = {}
        for p, r in pairs:
            if per_part.setdefault(p, r) != r:
                raise ValueError(
                    f"part {p} in {self.out_dir} was committed by 2 "
                    "different runs; the table is ambiguous (two encodes "
                    "appended to one dir?); rebuild it"
                )
        return pairs

    @functools.cached_property
    def pairs(self) -> frozenset:
        """Committed ``(part_id, run_id)`` pairs inside the ``as_of`` /
        ``since`` window."""
        everything = self._all_pairs
        if self.as_of is None and self.since is None:
            return everything
        rows = self.committed_rows  # null finished_at fails both windows
        if self.as_of is not None:
            rows = rows.filter(
                pc.less_equal(rows["finished_at"], float(self.as_of)))
        if self.since is not None:
            rows = rows.filter(
                pc.greater(rows["finished_at"], float(self.since)))
        return frozenset(zip(rows["part_id"].to_pylist(),
                             rows["run_id"].to_pylist()))

    @functools.cached_property
    def table_dirs(self) -> list[str]:
        """Which of ``blocks``, ``manifest``, ``lineage`` and ``deletes``
        the dir already holds; a writer of a new table refuses a dir
        where this is not empty."""
        names = ["blocks", "manifest", "lineage", "deletes"]
        infos = self.fs.get_file_info([f"{self.root}/{n}" for n in names])
        return [n for n, i in zip(names, infos)
                if i.type != pafs.FileType.NotFound]

    @functools.cached_property
    def all_block_files(self) -> list[tuple[str, int]]:
        """``[(path, size)]`` of every block file, committed or not."""
        return sorted(
            (i.path, i.size) for i in _listdir(self.fs, f"{self.root}/blocks")
            if i.type == pafs.FileType.File
            and i.base_name.endswith(".parquet")
            and not i.base_name.startswith((".", "_"))
        )

    @functools.cached_property
    def leftover_files(self) -> list[tuple[str, int]]:
        """``[(path, size)]`` of the ``.inprogress-*`` temp files in
        ``blocks/``, ``manifest/`` and ``lineage/``: what a writer that
        failed before its rename left behind."""
        return sorted(
            (i.path, i.size) for d in ("blocks", "manifest", "lineage")
            for i in _listdir(self.fs, f"{self.root}/{d}")
            if i.type == pafs.FileType.File
            and i.base_name.startswith(".inprogress-")
        )

    @functools.cached_property
    def _manifest(self) -> pa.Table:
        # the committed runs' manifest files in one pass. The dataset's
        # schema is its first file's, and it null-fills a column another
        # file lacks, so each file's own schema (read by the scan) is
        # checked too
        runs = sorted({r for _, r in self._all_pairs})
        if not runs:
            return MANIFEST_SCHEMA.empty_table()
        man = ds.dataset([f"{self.root}/manifest/part-direct-{r}.parquet"
                          for r in runs], filesystem=self.fs,
                         format="parquet")
        rows = man.to_table()
        for frag in man.get_fragments():
            lacks = set(MANIFEST_SCHEMA.names).difference(
                frag.physical_schema.names)
            if lacks:
                raise KeyError(f"manifest file {frag.path} lacks "
                               f"{sorted(lacks)}")
        return _of_pairs(conform(rows, MANIFEST_SCHEMA).combine_chunks(),
                         self._all_pairs)

    @functools.cached_property
    def columns(self) -> list[tuple[str, str]]:
        """The union schema: ``[(col, ptype)]`` in column order."""
        keys = ["col_idx", "col", "ptype"]
        trips = self._manifest.group_by(keys).aggregate([])
        return _union_schema((c, p) for _, c, p in sorted(zip(
            *(trips[k].to_pylist() for k in keys))))

    @functools.cached_property
    def _listing(self) -> dict[str, tuple[str, int]]:
        return {path.rsplit("/", 1)[-1]: (path, size)
                for path, size in self.all_block_files}

    @functools.cached_property
    def chunk_stats(self) -> pa.Table:
        """The manifest rows (:data:`MANIFEST_SCHEMA`) of the committed
        pairs in the window: one per block row, with its zone map, Bloom
        filter, counts, codec and sizes, and ``file``, the base name of
        the block file holding it. The driver prunes chunks and answers
        metadata aggregates from it (``operators.decode.prune``)."""
        rows = self._manifest
        if self.pairs != self._all_pairs:
            rows = _of_pairs(rows, self.pairs)
        check_layout(rows, self.out_dir)
        held = rows.filter(pc.is_in(rows["file"], value_set=pa.array(
            list(self._listing), pa.string())))
        lost = sorted({p for p, _ in self.pairs}
                      - set(pc.unique(held["part_id"]).to_pylist()))
        if lost:
            raise ValueError(
                f"committed part {lost[0]} of {self.out_dir} has no block "
                f"rows ({len(lost)} parts lack them): a block file is "
                "missing; restore it or rebuild the table"
            )
        return rows

    @functools.cached_property
    def block_files(self) -> list[tuple[str, int]]:
        """``[(path, size)]`` of the block files holding committed rows in
        the window; paths are on :attr:`fs`."""
        return sorted(self._listing[f] for f in
                      pc.unique(self.chunk_stats["file"]).to_pylist())

    @functools.cached_property
    def file_groups(self) -> list[tuple[str, int, frozenset]]:
        """``[(path, size, keys)]``: each of :attr:`block_files` with the
        ``(part_id, chunk_id)`` keys of the chunks it holds, the unit a
        reader decodes and ``compact`` re-chunks (each part's chunks are
        in one file)."""
        places = self.chunk_stats.group_by(
            _CHUNK_KEY + ["file"]).aggregate([])
        keys: dict[str, set] = {}
        for p, c, f in zip(*(places[k].to_pylist()
                             for k in _CHUNK_KEY + ["file"])):
            keys.setdefault(f, set()).add((p, c))
        return [(path, size, frozenset(keys[path.rsplit("/", 1)[-1]]))
                for path, size in self.block_files]

    @functools.cached_property
    def delete_dirs(self) -> list[tuple[str, bool]]:
        """``[(path, committed)]`` for each dir under ``deletes/``:
        committed when it is a ``run-*`` dir holding ``_SUCCESS``. The
        rest (runs that crashed before their marker) are inert;
        ``maintain.vacuum`` deletes them."""
        dirs = [i for i in _listdir(self.fs, f"{self.root}/deletes")
                if i.type == pafs.FileType.Directory]
        marks = self.fs.get_file_info([f"{i.path}/_SUCCESS" for i in dirs])
        return sorted((i.path, i.base_name.startswith("run-")
                       and m.type != pafs.FileType.NotFound)
                      for i, m in zip(dirs, marks))

    @functools.cached_property
    def tombstone_runs(self) -> list[str]:
        """Live delete runs as paths relative to the table root
        (``deletes/run-<id>``)."""
        live = [p for p, committed in self.delete_dirs if committed]
        if self.as_of is not None:
            live = [p for p in live if self._applies_at(p, self.as_of)]
        return [p[len(self.root) + 1:] for p in live]

    @functools.cached_property
    def tombstones(self) -> pa.Table:
        """The rows of the live tombstone runs, in ``ADDRESS_SCHEMA``."""
        return pa.concat_tables(
            [pq.read_table(f"{self.root}/{run}", filesystem=self.fs,
                           columns=list(ADDRESS_COLS)).cast(ADDRESS_SCHEMA)
             for run in self.tombstone_runs]
            or [ADDRESS_SCHEMA.empty_table()])

    @functools.cached_property
    def deleted_positions(self) -> dict[tuple, np.ndarray]:
        """``{(part_id, chunk_id): int64 positions}`` over
        :attr:`tombstones`, grouped with pyarrow: the ``deleted``
        argument of ``decode.assemble_chunks``."""
        g = self.tombstones.group_by(list(ADDRESS_COLS[:2])).aggregate(
            [("_pos", "list")])
        pos = g["_pos_list"].combine_chunks()
        return dict(zip(zip(*(g[k].to_pylist() for k in ADDRESS_COLS[:2])),
                        np.split(pos.values.to_numpy(),
                                 pos.offsets.to_numpy()[1:-1])))

    def _applies_at(self, run: str, as_of: float) -> bool:
        # Iceberg position-delete time scoping: a snapshot dated before
        # the delete committed still sees the rows
        stamps = pq.read_table(run, filesystem=self.fs,
                               columns=["committed_at"])["committed_at"]
        # every row carries the run's one stamp; an empty run deletes
        # nothing either way
        return not stamps or stamps[0].as_py() <= float(as_of)

