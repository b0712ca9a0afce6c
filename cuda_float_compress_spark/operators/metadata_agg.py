"""Metadata-only aggregation over encoded tables.

Every chunk already carries exact per-column statistics in the blocks
metadata — ``n``, ``n_nulls``, ``vmin``/``vmax`` (exact VALUES for
int-family columns), and (round 6) ``vsum`` for int32/int64. A full-table
``count / sum / min / max`` therefore needs only the metadata rows, which
the driver already holds (``Snapshot.chunk_stats``): at 100 TB that is
MBs of stats instead of decoding every payload — the same
move as answering ``SELECT count(*)`` from parquet row-group footers.

Correctness gates (fall back to a real decode when any is violated):

* merge-on-read tombstones exist (deleted rows are inside the chunk
  stats but must not be inside the answer);
* any chunk of the column lacks ``vsum`` when a sum is requested
  (pre-r6 layout, or a chunk whose sum left the int64 domain);
* the column's ptype is outside the int family (string/float zone maps
  are prefixes/total-order keys — not exact values).

The fallback is the normal distributed decode-aggregate, so the operator
is always correct and merely FAST when the metadata allows.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["agg_int_column"]

_INT_PTYPES = ("int64", "int32")


_SCHEMA = "n_rows: long, n_nulls: long, sum: long, min: long, max: long"


def agg_int_column(
    spark: SparkSession,
    out_dir: str,
    col: str,
    predicates: list[tuple] | None = None,
) -> DataFrame:
    """One-row DataFrame ``(n_rows, n_nulls, sum, min, max)`` for an
    int-family column of an encoded table. Metadata-only when safe (see
    module docstring); transparently decodes otherwise.

    With ``predicates``, chunks split three ways from metadata alone:
    pruned (no row can match — skipped), COVERED (every row provably
    matches — statistics contribute without any payload read), and
    boundary (decoded + exactly filtered). On a sorted table the boundary
    is O(1) chunks per predicate edge, so a range-restricted sum still
    reads metadata + two chunks instead of the table."""
    from cuda_float_compress_spark.operators.decode import decode_table, prune
    from cuda_float_compress_spark.snapshot import Snapshot

    snap = Snapshot.resolve(out_dir)
    stats = snap.chunk_stats
    rows = stats.filter(pc.equal(stats["col"], col))
    if not rows.num_rows:
        raise ValueError(f"column {col!r} not present in {out_dir}")
    # schema evolution: chunks written before the column existed
    # contribute all-null rows in every reader but carry no stats
    # row for it, so the metadata aggregate would undercount n_rows and
    # n_nulls; decode when any live chunk lacks one
    meta_ok = (
        rows["ptype"][0].as_py() in _INT_PTYPES
        and not snap.tombstone_runs
        and len(set(zip(rows["part_id"].to_pylist(),
                        rows["chunk_id"].to_pylist())))
        == len(set(zip(stats["part_id"].to_pylist(),
                       stats["chunk_id"].to_pylist())))
    )

    def _decode_agg(chunk_keys=None):
        dec = decode_table(
            spark, out_dir, columns=[col], predicates=predicates,
            chunk_keys=chunk_keys,
        )
        return dec.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col(col).isNull().cast("long")).alias("n_nulls"),
            F.sum(col).alias("sum"),
            F.min(col).alias("min"),
            F.max(col).alias("max"),
        )

    if not meta_ok:
        return _decode_agg()

    boundary = None
    if predicates:
        # covered chunks contribute their stats; boundary = qualifying
        # minus covered, small by design (O(1) chunks per predicate edge
        # on a sorted table), decodes
        covered = prune(stats, predicates, covered=True)
        boundary = {(p << 32) | c
                    for p, c in prune(stats, predicates) - covered}
        rows = rows.filter(pa.array([
            k in covered for k in zip(rows["part_id"].to_pylist(),
                                      rows["chunk_id"].to_pylist())]))

    # a chunk with values but no sum overflowed int64 or predates vsum
    if pc.sum(pc.and_(pc.is_null(rows["vsum"]),
                      pc.greater(rows["n"], rows["n_nulls"]))).as_py():
        return _decode_agg()
    parts = [(pc.sum(rows["n"]).as_py() or 0,
              pc.sum(rows["n_nulls"]).as_py() or 0,
              pc.sum(rows["vsum"]).as_py(),
              pc.min(rows["vmin"]).as_py(), pc.max(rows["vmax"]).as_py())]
    if boundary:
        b = _decode_agg(chunk_keys=boundary).collect()[0]
        parts.append((b["n_rows"], b["n_nulls"], b["sum"],
                      b["min"], b["max"]))
    n_rows = sum(p[0] for p in parts)
    n_nulls = sum(p[1] for p in parts)
    sums = [p[2] for p in parts if p[2] is not None]
    mins = [p[3] for p in parts if p[3] is not None]
    maxs = [p[4] for p in parts if p[4] is not None]
    return spark.createDataFrame(
        [(n_rows, n_nulls,
          sum(sums) if sums else None,
          min(mins) if mins else None,
          max(maxs) if maxs else None)],
        _SCHEMA,
    )
