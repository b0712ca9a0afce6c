"""SparkSession factory tuned for the engine.

Local mode here; on a real cluster the same settings apply per-executor (AQE,
Arrow batching, UTC). ``cores`` controls the two-parallelism-level scaling
benchmark (local[8] vs local[32] stands in for N vs 4N executors — the only
per-JVM knob that varies)."""

from __future__ import annotations

import heapq
import os

from pyspark.sql import DataFrame, SparkSession

CHUNK_ROWS = 32_768  # reference block = 32768 floats (src/cuszplus_f32.cu:21-28)


def get_spark(
    app: str = "cuda_float_compress_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "24g",
    extra: dict | None = None,
) -> SparkSession:
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
        # payload blocks are already codec-compressed; parquet recompression
        # of binary blobs wastes CPU at 100 TB scale
        .config("spark.sql.parquet.compression.codec", "snappy")
        # committer v2: task outputs rename directly into place instead of
        # a second driver-serial rename pass at job commit. Safe for this
        # engine's dirs by design: decode trusts only lineage-committed
        # (part, run) pairs, so files from a failed/partial job are inert
        # (same argument as task retries), and vacuum reclaims them. A
        # retry that leaves a committed file twice is refused by every
        # reader (snapshot.Snapshot.file_groups), never read twice.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def lpt_frame(spark: SparkSession, rows: list[tuple], weights: list[int],
              schema: str, per_core: int) -> tuple[DataFrame, int]:
    """``rows`` as a DataFrame of at most ``per_core`` x defaultParallelism
    partitions, one task each, packed LPT: heaviest row first, each into
    the lightest partition so far, so tasks carry about equal bytes. One
    task per row would pay the scheduler's per-task latency (~160 ms
    measured in local mode) once per file or split. Returns the
    DataFrame and its partition count."""
    slots = max(spark.sparkContext.defaultParallelism, 1)
    n = max(1, min(len(rows), slots * per_core))
    heap = [(0, i) for i in range(n)]
    bins: list[list] = [[] for _ in range(n)]
    for w, row in sorted(zip(weights, rows), key=lambda wr: -wr[0]):
        load, i = heapq.heappop(heap)
        bins[i].append(row)
        heapq.heappush(heap, (load + w, i))
    bins = [b for b in bins if b]
    rdd = spark.sparkContext.parallelize(bins, max(len(bins), 1))
    return spark.createDataFrame(rdd.flatMap(lambda b: b), schema), len(bins)
