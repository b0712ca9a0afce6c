"""Metadata-only aggregation over encoded tables.

Every chunk already carries exact per-column statistics in the blocks
metadata — ``n``, ``n_nulls``, ``vmin``/``vmax`` (exact VALUES for
int-family columns), and (round 6) ``vsum`` for int32/int64. A full-table
``count / sum / min / max`` therefore needs only the metadata rows: at
100 TB that is MBs of stats instead of decoding every payload — the same
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
    from cuda_float_compress_spark.operators.decode import (
        _committed_blocks,
        covered_chunks,
        qualifying_chunks,
    )
    from cuda_float_compress_spark.operators.direct import decode_table_direct
    from cuda_float_compress_spark.snapshot import Snapshot

    snap = Snapshot.resolve(out_dir)
    blocks = _committed_blocks(spark, snap)
    stats = blocks.filter(F.col("col") == col).select(
        "part_id", "chunk_id", "ptype", "n", "n_nulls", "vmin", "vmax",
        *(["vsum"] if "vsum" in blocks.columns else []),
    )
    first = stats.limit(1).collect()
    if not first:
        raise ValueError(f"column {col!r} not present in {out_dir}")
    ptype = first[0]["ptype"]
    meta_ok = (
        ptype in _INT_PTYPES
        and "vsum" in blocks.columns
        and not snap.tombstone_runs
    )
    if meta_ok:
        # schema evolution: chunks written before the column existed
        # contribute all-null rows in both decode paths but carry no
        # stats row for it — the metadata aggregate would silently
        # undercount n_rows/n_nulls. One metadata-scale probe; decode
        # when any live chunk lacks coverage.
        uncovered = (
            blocks.groupBy("part_id", "chunk_id")
            .agg(F.max((F.col("col") == col).cast("int")).alias("has"))
            .filter(F.col("has") == 0)
            .limit(1)
            .count()
        )
        meta_ok = uncovered == 0

    def _decode_agg(chunk_keys=None):
        dec = decode_table_direct(
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

    if predicates:
        cov_df = covered_chunks(blocks, predicates)
        # boundary = qualifying minus covered: small by design (O(1)
        # chunks per predicate edge on a sorted table), so collecting its
        # keys for the chunk-restricted decode is metadata-scale. The
        # covered set can be LARGE (most of the table) — it stays a
        # DataFrame and restricts the stats aggregate via a semi-join.
        boundary = {
            (r["part_id"] << 32) | r["chunk_id"]
            for r in qualifying_chunks(blocks, predicates)
            .join(cov_df, ["part_id", "chunk_id"], "left_anti")
            .collect()
        }
        stats = stats.join(cov_df, ["part_id", "chunk_id"], "left_semi")
    else:
        boundary = None

    row = stats.agg(
        F.sum("n").alias("n_rows"),
        F.sum("n_nulls").alias("n_nulls"),
        F.sum("vsum").alias("sum"),
        F.min("vmin").alias("min"),
        F.max("vmax").alias("max"),
        F.sum(
            F.when(
                F.col("vsum").isNull() & (F.col("n") > F.col("n_nulls")),
                1,
            ).otherwise(0)
        ).alias("_missing_sums"),
    ).collect()[0]
    if row["_missing_sums"] != 0:
        # an overflowed / legacy-run chunk poisons the metadata sum
        return _decode_agg()
    parts = [(row["n_rows"] or 0, row["n_nulls"] or 0, row["sum"],
              row["min"], row["max"])]
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
