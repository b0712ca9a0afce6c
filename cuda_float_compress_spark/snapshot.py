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
  strictly after it (incremental reads). A dir without ``lineage/``
  (externally assembled blocks) is trusted as-is: ``pairs is None``. A
  part committed by two runs would decode twice, so any read of such a
  table raises ``ValueError``.
* **Schema.** The union of ``(col, ptype)`` over the block rows of ALL
  committed runs, in first-seen column order. It ignores ``as_of``,
  ``since`` and any part or column restriction, so every reader of one
  table returns the same columns; chunks that predate a column decode
  it as nulls. A ``timestamp_us``/``timestamp_ntz`` mix coalesces to
  ``timestamp_us``; any other re-typed column is refused.
* **Tombstones.** ``deletes/run-*`` dirs carrying the job-commit
  ``_SUCCESS`` marker. Each run's rows carry one ``committed_at`` stamp;
  under ``as_of`` a run applies when that stamp is at or before it.
  Runs written before the stamp existed always apply.
* **Block files.** The ``blocks/*.parquet`` files holding at least one
  row of a committed pair in the window, with their sizes.
* **Chunk stats.** Those files' block rows of the in-window pairs,
  without the payload: the zone maps, Bloom filters and counts that
  chunk pruning and metadata aggregation read on the driver. They come
  from the same pass over the block files as the schema, and hold
  O(chunks x columns) rows, each tagged with the block file it came from.
* **File groups.** The block files split into groups that share no
  chunk, so a reader that decodes one group at a time sees every block
  row of its chunks. The engine's writers give each chunk one file; a
  Spark rewrite (vacuum) may split a chunk's rows over two. A block row
  present twice (a block file copied by a task retry) raises
  ``ValueError``.
* **Table dirs.** Which of ``blocks/``, ``manifest/``, ``lineage/`` and
  ``deletes/`` exist; the writers of a new table (``compact``,
  ``reencode_columns``) refuse a dir holding any of them.

Paths go through ``pyarrow.fs.FileSystem.from_uri``; a bare path is
local. ``file://`` and bare paths therefore take the same code, and a
scheme pyarrow cannot open (``s3a://``, or ``hdfs://`` without libhdfs)
raises here instead of reading as an empty table.

Only ``lineage/`` is read eagerly; everything else is derived on first
use, so resume and merge, which need only the commit log, never touch
the block files.
"""

from __future__ import annotations

import functools
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.fs as pafs
import pyarrow.parquet as pq

__all__ = ["Snapshot", "LINEAGE_SCHEMA"]

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


def _open(out_dir: str) -> tuple[pafs.FileSystem, str]:
    if "://" in out_dir or out_dir.startswith("file:"):
        fs, root = pafs.FileSystem.from_uri(out_dir)
    else:
        fs, root = pafs.LocalFileSystem(), os.path.abspath(out_dir)
    if isinstance(fs, pafs.LocalFileSystem):
        fs = pafs.LocalFileSystem(use_mmap=True)
    return fs, root.rstrip("/")


def _exists(fs: pafs.FileSystem, path: str) -> bool:
    return fs.get_file_info(path).type != pafs.FileType.NotFound


def _listdir(fs: pafs.FileSystem, path: str) -> list[pafs.FileInfo]:
    return fs.get_file_info(pafs.FileSelector(path, allow_not_found=True))


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
            # a crash inside vacuum's two-rename swap left no blocks dir
            from cuda_float_compress_spark.operators.maintain import (
                repair_vacuum,
            )

            repair_vacuum(self.root)
        lin = f"{self.root}/lineage"
        #: every lineage row as written (None: the dir has no lineage)
        self.lineage: pa.Table | None = (
            ds.dataset(lin, schema=LINEAGE_SCHEMA, filesystem=self.fs,
                       format="parquet").to_table()
            if _exists(self.fs, lin) else None
        )

    @classmethod
    def resolve(cls, out_dir: str, as_of: float | None = None,
                since: float | None = None) -> Snapshot:
        return cls(str(out_dir), as_of, since)

    @functools.cached_property
    def committed_rows(self) -> pa.Table | None:
        """The lineage rows of committed (``status == 'done'``) parts."""
        if self.lineage is None:
            return None
        return self.lineage.filter(pc.equal(self.lineage["status"], "done"))

    @functools.cached_property
    def _all_pairs(self) -> frozenset | None:
        rows = self.committed_rows
        if rows is None:
            return None
        pairs = frozenset(zip(rows["part_id"].to_pylist(),
                              rows["run_id"].to_pylist()))
        per_part: dict = {}
        for p, r in pairs:
            if per_part.setdefault(p, r) != r:
                raise ValueError(
                    f"part {p} in {self.out_dir} was committed by 2 "
                    "different runs; the table is ambiguous (two encodes "
                    "appended to one dir?); vacuum/rebuild it"
                )
        return pairs

    @functools.cached_property
    def pairs(self) -> frozenset | None:
        """Committed ``(part_id, run_id)`` pairs inside the ``as_of`` /
        ``since`` window; None when the dir has no lineage."""
        everything = self._all_pairs
        if everything is None or (self.as_of is None and self.since is None):
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
            have = set(f.schema_arrow.names)
            got = f.read(columns=[c for c in _SCAN.names if c in have],
                         use_threads=False)
            # layouts older than vsum/bloom read those stats as null
            meta = pa.table({
                fld.name: (got[fld.name].cast(fld.type) if fld.name in have
                           else pa.nulls(got.num_rows, fld.type))
                for fld in _SCAN
            })
            distinct = meta.select(_SCHEMA_COLS).group_by(
                _SCHEMA_COLS).aggregate([])
            seen, win = set(), set()
            for p, r, idx, col, ptype in zip(
                    *(distinct[c].to_pylist() for c in _SCHEMA_COLS)):
                seen.add((p, r))
                if all_pairs is None or (p, r) in all_pairs:
                    trips.add((idx, col, ptype))
                if pairs is None or (p, r) in pairs:
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

    @functools.cached_property
    def file_groups(self) -> list[tuple[list[tuple[str, int]], frozenset]]:
        """``[(files, keys)]``: :attr:`block_files` united (union-find)
        wherever two files hold rows of one ``(part_id, chunk_id)``, with
        the chunk keys each group holds. Raises ``ValueError`` when a
        ``(part_id, chunk_id, col)`` has two committed rows: the table
        no longer says which one holds the column."""
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
        parent = list(range(len(self.block_files)))

        def root(i: int) -> int:
            while parent[i] != i:
                parent[i] = parent[parent[i]]
                i = parent[i]
            return i

        first: dict = {}
        places = stats.group_by(_CHUNK_KEY + ["file"]).aggregate([])
        for p, c, f in zip(*(places[k].to_pylist()
                             for k in _CHUNK_KEY + ["file"])):
            parent[root(f)] = root(first.setdefault((p, c), f))
        groups: dict[int, tuple[list, set]] = {}
        for f, info in enumerate(self.block_files):
            groups.setdefault(root(f), ([], set()))[0].append(info)
        for key, f in first.items():
            groups[root(f)][1].add(key)
        return [(files, frozenset(keys)) for files, keys in groups.values()]

    @functools.cached_property
    def tombstone_runs(self) -> list[str]:
        """Live delete runs as paths relative to the table root
        (``deletes/run-<id>``)."""
        runs = [i for i in _listdir(self.fs, f"{self.root}/deletes")
                if i.type == pafs.FileType.Directory
                and i.base_name.startswith("run-")]
        marks = self.fs.get_file_info([f"{i.path}/_SUCCESS" for i in runs])
        live = sorted(i.path for i, m in zip(runs, marks)
                      if m.type != pafs.FileType.NotFound)
        if self.as_of is not None:
            live = [p for p in live if self._applies_at(p, self.as_of)]
        return [p[len(self.root) + 1:] for p in live]

    def _applies_at(self, run: str, as_of: float) -> bool:
        # Iceberg position-delete time scoping: a snapshot dated before
        # the delete committed still sees the rows
        d = ds.dataset(run, filesystem=self.fs, format="parquet")
        if "committed_at" not in d.schema.names:
            return True
        stamp = pc.min(d.to_table(columns=["committed_at"])["committed_at"])
        return stamp.as_py() is None or stamp.as_py() <= float(as_of)

