"""The table Snapshot: the one reader of an encoded table's metadata.

An encoded table dir holds ``blocks/`` (one row per chunk x column, the
payload beside its stats), ``manifest/``, ``lineage/`` (one row per part
per committed run: the commit log) and ``deletes/run-*`` (merge-on-read
tombstones). :meth:`Snapshot.resolve` is the only code that reads
``lineage/`` and ``deletes/`` or lists ``blocks/``. Every reader (the
Spark decode transport, the Spark-free ``localio`` reader, metadata
aggregation, compaction) and every resume/merge writer takes its facts
from here, so they cannot disagree:

* **Committed pairs.** ``(part_id, run_id)`` is committed when lineage
  holds a ``status == 'done'`` row for it. ``as_of`` keeps runs finished
  at or before that instant (time travel); ``since`` keeps runs finished
  strictly after it (incremental reads). A dir without ``lineage/`` has
  committed nothing (its first encode crashed before the lineage append)
  and reads as an empty table. A part committed by two runs would decode
  twice, so any read of such a table raises ``ValueError``.
* **Schema.** The union of ``(col, ptype)`` over the block rows of ALL
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
* **Block files.** The ``blocks/*.parquet`` files holding at least one
  row of a committed pair in the window, with their sizes.
* **Chunk stats.** Those files' block rows of the in-window pairs,
  without the payload: the zone maps, Bloom filters and counts that
  chunk pruning and metadata aggregation read on the driver. They come
  from the same pass over the block files as the schema, and hold
  O(chunks x columns) rows, each tagged with the block file it came from.
* **File groups.** One entry per block file, with the chunk keys it
  holds: the unit a reader decodes and ``compact`` re-chunks.
* **Manifest.** The ``manifest/`` rows (one per part and column of a
  run) of the committed pairs in the window, read with pyarrow: the
  per-column sizes and codecs ``maintain.table_stats`` reports. A
  crashed run's manifest rows are not read, as its blocks are not.
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
use, so resume and merge, which need only the commit log, never touch
the block files. The Snapshot never writes.

**One layout.** Every writer puts each part whole into one block file,
with one block row per ``(part_id, chunk_id, col)``, and commits it in
one run. The Snapshot reads that layout and refuses, with
``ValueError``, any table that breaks it, rather than guess at what
another layout meant: a block row present twice (a block file copied
by a task retry), a committed part whose rows are in two files, and a
committed part with no block rows at all (a lost block file, which
would otherwise read as a table without that part's rows). A block or
manifest file lacking one of the layout's columns fails to read.
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
           "ADDRESS_SCHEMA"]

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

#: one row per part and column of a run, aggregated from its block rows
MANIFEST_SCHEMA = pa.schema([
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

_SCHEMA_COLS = ["part_id", "run_id", "col_idx", "col", "ptype"]
# the metadata columns of a block file: everything but the payload
_SCAN = pa.schema([
    ("part_id", pa.int32()),
    ("chunk_id", pa.int64()),
    ("run_id", pa.string()),
    ("col_idx", pa.int32()),
    ("col", pa.string()),
    ("ptype", pa.string()),
    ("n", pa.int64()),
    ("n_nulls", pa.int64()),
    ("vmin", pa.int64()),
    ("vmax", pa.int64()),
    ("vsum", pa.int64()),
    ("bloom", pa.binary()),
])
_STATS_COLS = ["part_id", "chunk_id", "col", "ptype", "n", "n_nulls",
               "vmin", "vmax", "vsum", "bloom"]
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
                       format="parquet").to_table()
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
    def _block_scan(self) -> tuple[list, list, pa.Table]:
        # one pass over the block files' metadata columns (payloads are
        # never read): distinct (part, run, col) rows per file give both
        # the schema and which files hold committed rows, and the rows of
        # the in-window pairs are the chunk stats
        all_pairs, pairs = self._all_pairs, self.pairs
        trips: set = set()
        live: list[tuple[str, int]] = []
        stats: list[pa.Table] = []
        for path, size in self.all_block_files:
            meta = conform(pq.ParquetFile(path, filesystem=self.fs).read(
                columns=_SCAN.names, use_threads=False), _SCAN)
            distinct = meta.select(_SCHEMA_COLS).group_by(
                _SCHEMA_COLS).aggregate([])
            seen, win = set(), set()
            for p, r, idx, col, ptype in zip(
                    *(distinct[c].to_pylist() for c in _SCHEMA_COLS)):
                seen.add((p, r))
                if (p, r) in all_pairs:
                    trips.add((idx, col, ptype))
                if (p, r) in pairs:
                    win.add((p, r))
            if not win:
                continue
            if win != seen:
                meta = meta.filter(pa.array([
                    k in win for k in zip(meta["part_id"].to_pylist(),
                                          meta["run_id"].to_pylist())]))
            stats.append(meta.select(_STATS_COLS).append_column(
                "file", pa.repeat(pa.scalar(len(live), pa.int32()),
                                  meta.num_rows)))
            live.append((path, size))
        chunk_stats = (pa.concat_tables(stats) if stats else
                       _SCAN.empty_table().select(_STATS_COLS).append_column(
                           "file", pa.array([], pa.int32())))
        self._check_layout(chunk_stats)
        return (_union_schema((c, p) for _, c, p in sorted(trips)), live,
                chunk_stats)

    @property
    def columns(self) -> list[tuple[str, str]]:
        """The union schema: ``[(col, ptype)]`` in column order."""
        return self._block_scan[0]

    @property
    def block_files(self) -> list[tuple[str, int]]:
        """``[(path, size)]`` of the block files holding committed rows in
        the window; paths are on :attr:`fs`."""
        return self._block_scan[1]

    @property
    def chunk_stats(self) -> pa.Table:
        """One row per committed block row in the window: ``part_id,
        chunk_id, col, ptype, n, n_nulls, vmin, vmax, vsum, bloom`` and
        ``file``, the row's index into :attr:`block_files`. The driver
        prunes chunks and answers metadata aggregates from it
        (``operators.decode.prune``)."""
        return self._block_scan[2]

    def _check_layout(self, stats: pa.Table) -> None:
        # the one layout (module docstring), checked over the chunk stats
        # of the in-window pairs; the duplicate check comes first, as a
        # copied block file also puts its parts in two files
        rows = stats.group_by(_CHUNK_KEY + ["col"]).aggregate(
            [("n", "count")])
        dup = rows.filter(pc.greater(rows["n_count"], 1))
        if dup.num_rows:
            p, c, col = (dup[k][0].as_py() for k in _CHUNK_KEY + ["col"])
            raise ValueError(
                f"duplicate block for part={p} chunk={c} col={col}: two "
                f"committed rows in {self.out_dir}/blocks (a block file "
                "copied by a task retry?); remove the copy or rebuild"
            )
        files = stats.group_by("part_id").aggregate(
            [("file", "count_distinct")])
        split = files.filter(pc.greater(files["file_count_distinct"], 1))
        if split.num_rows:
            raise ValueError(
                f"part {split['part_id'][0].as_py()} of {self.out_dir} has "
                f"block rows in {split['file_count_distinct'][0].as_py()} "
                "files, but every writer puts a part whole into one file; "
                "rebuild the table"
            )
        lost = sorted({p for p, _ in self.pairs}
                      - set(files["part_id"].to_pylist()))
        if lost:
            raise ValueError(
                f"committed part {lost[0]} of {self.out_dir} has no block "
                f"rows ({len(lost)} parts lack them): a block file is "
                "missing; restore it or rebuild the table"
            )

    @functools.cached_property
    def file_groups(self) -> list[tuple[str, int, frozenset]]:
        """``[(path, size, keys)]``: each of :attr:`block_files` with the
        ``(part_id, chunk_id)`` keys of the chunks it holds, the unit a
        reader decodes and ``compact`` re-chunks (each part's chunks are
        in one file)."""
        places = self.chunk_stats.group_by(
            _CHUNK_KEY + ["file"]).aggregate([])
        keys: list[set] = [set() for _ in self.block_files]
        for p, c, f in zip(*(places[k].to_pylist()
                             for k in _CHUNK_KEY + ["file"])):
            keys[f].add((p, c))
        return [(path, size, frozenset(k))
                for (path, size), k in zip(self.block_files, keys)]

    @functools.cached_property
    def manifest(self) -> pa.Table:
        """The ``manifest/`` rows of the committed pairs in the window, in
        :data:`MANIFEST_SCHEMA`. A run that crashed before its lineage
        append left manifest rows that, like its blocks, are not read."""
        try:
            files = ds.dataset(f"{self.root}/manifest", filesystem=self.fs,
                               format="parquet").files
        except FileNotFoundError:
            files = []
        man = pa.concat_tables(
            [conform(pq.read_table(f, filesystem=self.fs), MANIFEST_SCHEMA)
             for f in files] or [MANIFEST_SCHEMA.empty_table()])
        return man.filter(pa.array(
            [k in self.pairs for k in zip(man["part_id"].to_pylist(),
                                          man["run_id"].to_pylist())],
            pa.bool_()))

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

