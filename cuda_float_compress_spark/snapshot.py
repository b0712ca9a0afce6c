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
  marker, written last by ``deletes.commit_tombstones`` (or by Spark's
  job commit, in older tables). Each run's rows carry one
  ``committed_at`` stamp; under ``as_of`` a run applies when that stamp
  is at or before it. Runs written before the stamp existed always
  apply. Other dirs there are inert; ``maintain.vacuum`` reclaims them.
* **Block files.** The ``blocks/*.parquet`` files holding at least one
  row of a committed pair in the window, with their sizes.
* **Chunk stats.** Those files' block rows of the in-window pairs,
  without the payload: the zone maps, Bloom filters and counts that
  chunk pruning and metadata aggregation read on the driver. They come
  from the same pass over the block files as the schema, and hold
  O(chunks x columns) rows, each tagged with the block file it came from.
* **File groups.** The block files split into groups that share no
  chunk, so a reader that decodes one group at a time sees every block
  row of its chunks; :attr:`Snapshot.part_groups` unites them further
  so that no part spans two (the unit ``compact`` re-chunks). The
  engine's writers give each chunk one file. Only a legacy table, whose
  ``blocks/`` an older vacuum rewrote through a plain Spark read, may
  hold a chunk split over two. A block row present twice (a block file
  copied by a task retry) raises ``ValueError``.
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

Paths go through ``pyarrow.fs.FileSystem.from_uri``; a bare path is
local. ``file://`` and bare paths therefore take the same code, and a
scheme pyarrow cannot open (``s3a://``, or ``hdfs://`` without libhdfs)
raises here instead of reading as an empty table.

Only ``lineage/`` is read eagerly; everything else is derived on first
use, so resume and merge, which need only the commit log, never touch
the block files. The Snapshot never writes: a table left without
``blocks/`` by a crash inside an older vacuum's directory swap raises
``ValueError`` until ``maintain.vacuum`` finishes or rolls back the swap.
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
    """``got``, block or manifest rows as some engine version wrote
    them, in ``schema``: columns cast, and those an older layout lacks
    (vsum, bloom, the manifest's vmin/vmax) read as null."""
    have = got.column_names
    return pa.table({
        fld.name: (got[fld.name].cast(fld.type) if fld.name in have
                   else pa.nulls(got.num_rows, fld.type))
        for fld in schema
    })


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
        if not _exists(self.fs, f"{self.root}/blocks") and _exists(
            self.fs, f"{self.root}/blocks_vacuum_old"
        ):
            # reading it as an empty table would be a silent wrong answer
            raise ValueError(
                f"{out_dir} has no blocks/ but a blocks_vacuum_old/: an "
                "interrupted vacuum of an older engine version; run vacuum "
                "on it to finish or roll back the swap"
            )
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
            f = pq.ParquetFile(path, filesystem=self.fs)
            have = f.schema_arrow.names
            got = f.read(columns=[c for c in _SCAN.names if c in have],
                         use_threads=False)
            meta = conform(got, _SCAN)
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

    def _united(self, key: list[str]) -> list[tuple[list, frozenset]]:
        # block_files united (union-find) wherever two files hold rows of
        # one ``key`` tuple (a prefix of the chunk key), with the chunk
        # keys each group holds
        parent = list(range(len(self.block_files)))

        def root(i: int) -> int:
            while parent[i] != i:
                parent[i] = parent[parent[i]]
                i = parent[i]
            return i

        places = self.chunk_stats.group_by(
            _CHUNK_KEY + ["file"]).aggregate([])
        places = list(zip(*(places[c].to_pylist()
                            for c in _CHUNK_KEY + ["file"])))
        first: dict = {}
        for p, c, f in places:
            parent[root(f)] = root(first.setdefault((p, c)[:len(key)], f))
        groups: dict[int, tuple[list, set]] = {}
        for f, info in enumerate(self.block_files):
            groups.setdefault(root(f), ([], set()))[0].append(info)
        for p, c, f in places:
            groups[root(f)][1].add((p, c))
        return [(files, frozenset(keys)) for files, keys in groups.values()]

    @functools.cached_property
    def file_groups(self) -> list[tuple[list[tuple[str, int]], frozenset]]:
        """``[(files, keys)]``: :attr:`block_files` united wherever two
        files hold rows of one ``(part_id, chunk_id)``, with the chunk
        keys each group holds. Raises ``ValueError`` when a ``(part_id,
        chunk_id, col)`` has two committed rows: the table no longer says
        which one holds the column."""
        stats = self.chunk_stats
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
        return self._united(_CHUNK_KEY)

    @functools.cached_property
    def part_groups(self) -> list[tuple[list[tuple[str, int]], frozenset]]:
        """``[(files, keys)]``: :attr:`file_groups` united wherever two
        hold rows of one part, with the chunk keys each group holds. A
        task that rewrites a part whole reads one such group."""
        self.file_groups  # the duplicate-row check
        return self._united(["part_id"])

    @functools.cached_property
    def manifest(self) -> pa.Table:
        """The ``manifest/`` rows of the committed pairs in the window, in
        :data:`MANIFEST_SCHEMA` (columns an older layout lacks read as
        null). A run that crashed before its lineage append left manifest
        rows that, like its blocks, are not read."""
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
        rest (runs that crashed before their marker, legacy
        ``_staging-*`` dirs) are inert; ``maintain.vacuum`` deletes
        them."""
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
        d = ds.dataset(run, filesystem=self.fs, format="parquet")
        if "committed_at" not in d.schema.names:
            return True
        stamp = pc.min(d.to_table(columns=["committed_at"])["committed_at"])
        return stamp.as_py() is None or stamp.as_py() <= float(as_of)

