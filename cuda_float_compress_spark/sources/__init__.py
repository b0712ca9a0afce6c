"""Iceberg sources, plus publishing an encoded table as an Iceberg snapshot.

On-disk Iceberg tables read WITHOUT jars via the pure-Python metadata
walker in ``sources.iceberg`` (metadata JSON -> avro manifests ->
parquet scan, with snapshot/time-travel selection) — ``read_iceberg``
falls back to it automatically when given a path — and
catalog-SERVICE tables read through the pure-Python REST catalog client
(``sources.iceberg_rest.read_iceberg_rest``: config handshake, bearer
auth, LoadTableResult -> the same manifest walk). Hive/Glue catalogs
still need the Iceberg runtime jars (not in this container).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from cuda_float_compress_spark.sources.iceberg import (  # noqa: F401
    read_iceberg_dir,
    snapshots as iceberg_snapshots,
    write_iceberg_fixture,
)
from cuda_float_compress_spark.sources.iceberg_rest import (  # noqa: F401
    RestCatalog,
    read_iceberg_rest,
)

def read_iceberg(
    spark: SparkSession,
    table: str,
    snapshot_id: int | None = None,
    as_of_ms: int | None = None,
) -> DataFrame:
    """Read an Iceberg table. A filesystem path (or file:// URI) is read by
    the pure-Python metadata walker (sources.iceberg — no jars needed,
    snapshot/time-travel supported); a catalog name goes through
    ``spark.read.table`` and needs the Iceberg runtime on the classpath."""
    local = table[7:] if table.startswith("file://") else table
    if os.path.isdir(local):
        return read_iceberg_dir(spark, local, snapshot_id, as_of_ms)
    try:
        return spark.read.table(table)
    except Exception as e:  # pragma: no cover - container has no Iceberg jars
        raise NotImplementedError(
            "Iceberg catalog not configured in this runtime; add "
            "iceberg-spark-runtime to spark.jars.packages and a catalog "
            "conf, or use read_iceberg_rest(uri, namespace, table) for a "
            "REST catalog (no jars; filesystem table paths also work "
            "without them). "
            f"Underlying error: {e}"
        ) from e


def publish_blocks_iceberg(out_dir: str, timestamp_ms: int) -> dict:
    """Publish the COMMITTED encoded-blocks file set (the Snapshot's
    ``block_files``: a crashed or uncommitted run's files stay out) as an
    Iceberg v2 snapshot rooted at ``out_dir`` (no data copy — the metadata
    references the blocks parquet in place). Each call appends a snapshot,
    so repeated publishes (per epoch / after vacuum or compact) give
    Iceberg readers time travel over the table's commit history. Read back
    with ``read_iceberg(spark, out_dir)`` or any Iceberg runtime."""
    from cuda_float_compress_spark.snapshot import Snapshot
    from cuda_float_compress_spark.sources.iceberg import (
        export_iceberg_metadata,
    )

    files = [p for p, _ in Snapshot.resolve(out_dir).block_files]
    if not files:
        raise ValueError(f"no committed block files under {out_dir}/blocks")
    return export_iceberg_metadata(out_dir, files, timestamp_ms)
