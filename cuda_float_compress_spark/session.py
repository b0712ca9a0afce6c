"""SparkSession factory tuned for the engine.

Local mode here; on a real cluster the same settings apply per-executor (AQE,
Arrow batching, UTC, the worker daemon). ``cores`` sets ``local[cores]``,
which defaults to ``SPARK_GRAFT_CPUS``: the one per-JVM knob that varies."""

from __future__ import annotations

import heapq
import os

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CHUNK_ROWS = 32_768  # reference block = 32768 floats (src/cuszplus_f32.cu:21-28)
# the sys.path entry this package was imported from: a directory, or the
# zip itself when it runs from a --py-files package
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app: str = "cuda_float_compress_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "24g",
    extra: dict | None = None,
) -> SparkSession:
    """A local session with the engine's settings; ``extra`` adds or
    overrides Spark settings.

    Python workers fork from ``worker_daemon`` (``spark.python.daemon.module``),
    which stops every task from re-reading ``pyspark.zip``'s directory
    (~250 ms per task; see that module). The daemon starts before any task
    can put a ``--py-files`` zip on ``sys.path``, so the directory (or zip)
    this package was imported from is appended to the workers'
    ``PYTHONPATH``, after any value the session already sets: the daemon
    imports wherever the driver imported the package. A session not built
    here, such as an external driver's session passed to ``entry(spark)``,
    runs the same code but still pays the per-task cost."""
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # join strategy (optimization-guide §3.1/§9): allow shuffled-hash
        # join when a side fits per-partition (no sort passes), let AQE
        # rewrite sort-merge -> shuffled-hash for small post-shuffle maps,
        # and broadcast dimension tables up to 64 MB estimated (a few
        # hundred MB is safe on any modern executor; fact tables at 100 TB
        # stay far above the threshold, so the choice remains self-limiting
        # at scale). Values are overridable per-session via ``extra``.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                "64m")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch caps: 32k-row batches of wide binary rows grow >4MB
        # vectors in the JVM writer, which triggers GC-thrash/stall pathology
        # (measured 20x slowdown on the html column); ~4MB batches are fast
        # and stable. The encode UDF re-buffers batches up to its chunk size.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(4 * 1024 * 1024))
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.python.daemon.module",
                "cuda_float_compress_spark.worker_daemon")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    # the workers' environment of every Python function the session
    # ships (spark.executorEnv.* from any source lands here first)
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if PACKAGE_ROOT not in paths:
        env["PYTHONPATH"] = os.pathsep.join([*paths, PACKAGE_ROOT])
    spark.sparkContext.setLogLevel("WARN")
    return spark


def lpt_frame(spark: SparkSession, rows: pa.Table,
              weights: list[int]) -> tuple[DataFrame, int]:
    """The rows of ``rows`` as a DataFrame of at most defaultParallelism
    partitions, one task each, packed LPT: heaviest row first, each into
    the lightest bin so far, so tasks carry about equal bytes. Returns
    the DataFrame and its task count.

    The bins ship as one Arrow table of one ``list<struct>`` row per bin,
    which Spark holds as a JVM ``LocalRelation``; ``inline`` flattens
    each bin in its own task. A frame built from a Python RDD
    (``parallelize``) would run a Python worker pass in every task, only
    to turn pickled rows into Spark rows, before the task's own Python
    stage starts. A ``LocalRelation`` scans as
    ``min(rows, defaultParallelism)`` partitions of one row each, so it
    caps the frame at one bin per core."""
    n = max(1, min(rows.num_rows, spark.sparkContext.defaultParallelism))
    heap = [(0, i) for i in range(n)]
    bins: list[list[int]] = [[] for _ in range(n)]
    for w, r in sorted(zip(weights, range(rows.num_rows)),
                       key=lambda wr: -wr[0]):
        load, i = heapq.heappop(heap)
        bins[i].append(r)
        heapq.heappush(heap, (load + w, i))
    bins = [b for b in bins if b]
    order = [r for b in bins for r in b]
    packed = rows.take(pa.array(order, pa.int64()))
    g = pa.ListArray.from_arrays(
        pa.array(np.cumsum([0, *map(len, bins)]), pa.int32()),
        pa.StructArray.from_arrays(
            [c.combine_chunks() for c in packed.columns],
            fields=list(rows.schema)))
    frame = spark.createDataFrame(pa.table({"g": g}))
    return frame.select(F.inline("g")), len(bins)
