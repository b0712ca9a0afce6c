"""Shared machinery of the perfbench workloads.

Spark lifecycle (one JVM and one session per run),
seeded inputs cached under ``perfbench/.cache``, span tracing with exact
Spark job counts, the layer probe of traced runs, and the result line.
Every number is taken here, around calls into the package's public
functions; nothing inside the package is instrumented.
"""

from __future__ import annotations

import contextlib
import glob
import json
import math
import os
import shutil
import statistics
import time
import uuid

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")
CACHE = os.path.join(BENCH_DIR, ".cache")
# generated input dirs kept, ~30 MB each at most; older ones are deleted.
# Two passes over ten seeds on each workload find their inputs still here.
CACHE_KEEP = 24
DRIVER_MEMORY = "3g"  # get_spark defaults to 24g; this host has 15 GB shared


def configure_process_env() -> None:
    """Point every temp/scratch location of this process, its Spark JVM and
    its Python workers inside the checkout, and make the package importable
    by the workers. Must run before pyspark starts a JVM."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TZ"] = "UTC"
    time.tzset()


def cores() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------- Spark ---

class Session:
    """The run's one SparkSession, in the JVM it launches."""

    def __init__(self, app: str):
        self.app = app
        self.spark = None

    def start(self) -> float:
        from cuda_float_compress_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app=self.app, cores=cores(), driver_memory=DRIVER_MEMORY,
            extra={
                "spark.local.dir": os.path.join(WORK, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        return time.perf_counter() - t0

    def close(self) -> None:
        """Stop Spark, shut the py4j gateway and wait for the JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


def noop_sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    """On-disk bytes of an encoded table's data and metadata dirs."""
    total = 0
    for sub in ("blocks", "manifest", "lineage", "deletes"):
        for f in glob.glob(os.path.join(path, sub, "**", "*"), recursive=True):
            if os.path.isfile(f):
                total += os.path.getsize(f)
    return total


def run_dir(pid: int | None = None) -> str:
    """The table scratch dir of process ``pid`` (default: this one),
    removed when the run ends."""
    return os.path.join(WORK, f"run-{pid or os.getpid()}")


def scratch_dir(name: str) -> str:
    path = os.path.join(run_dir(), f"{name}-{uuid.uuid4().hex[:8]}")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


# --------------------------------------------------------------- inputs ---

def web_source(rows: int, seed: int, files: int) -> str:
    """Parquet dir of the ``rows``-row web table of ``seed`` (the rows of
    ``table.generate_webpages_df``), in ``files`` files, generated once per
    (rows, seed, files) and cached. Generation runs in a pool of spawned
    processes, one file each, before any Spark session exists."""
    import multiprocessing
    from concurrent.futures import ProcessPoolExecutor

    path = os.path.join(CACHE, f"web-{rows}-{seed}-{files}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        os.utime(path)
        return path
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp)
    bounds = [(i * rows // files, (i + 1) * rows // files) for i in range(files)]
    try:
        with ProcessPoolExecutor(min(files, cores()),
                                 multiprocessing.get_context("spawn")) as pool:
            for f in [pool.submit(_write_slice, tmp, i, lo, hi, rows, seed)
                      for i, (lo, hi) in enumerate(bounds)]:
                f.result()
        open(os.path.join(tmp, "_SUCCESS"), "w").close()
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    entries = sorted(glob.glob(os.path.join(CACHE, "web-*")),
                     key=os.path.getmtime, reverse=True)
    for old in entries[CACHE_KEEP:]:
        shutil.rmtree(old, ignore_errors=True)
    return path


def _write_slice(out: str, i: int, lo: int, hi: int, rows: int,
                 seed: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cuda_float_compress_spark.table import generate_batch

    tbl = pa.Table.from_pandas(generate_batch(lo, hi, rows, seed),
                               preserve_index=False)
    # UTC-adjusted, so Spark reads it as TimestampType, as generated
    ts = tbl.schema.get_field_index("warc_ts")
    tbl = tbl.set_column(ts, "warc_ts",
                         tbl.column(ts).cast(pa.timestamp("us", tz="UTC")))
    pq.write_table(tbl, os.path.join(out, f"part-{i:05d}.parquet"))


def read_source(path: str):
    """The source as a pyarrow table with microsecond timestamps."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pq.read_table(path)
    i = tbl.schema.get_field_index("warc_ts")
    return tbl.set_column(i, "warc_ts",
                          tbl.column(i).cast(pa.timestamp("us")))


def canonical(tbl, columns: list[str]):
    """Project, normalize types (no timezone, no large offsets, nullable, no
    metadata) and sort by every column: two answers to the same query
    compare equal with ``.equals`` iff they hold the same rows."""
    import pyarrow as pa

    def norm(t):
        if pa.types.is_timestamp(t):
            return pa.timestamp("us")
        if pa.types.is_large_string(t):
            return pa.string()
        if pa.types.is_large_binary(t):
            return pa.binary()
        return t

    tbl = pa.table({c: tbl.column(c).cast(norm(tbl.schema.field(c).type))
                    for c in columns}).combine_chunks()
    if tbl.num_rows == 0:
        return tbl
    return tbl.sort_by([(c, "ascending") for c in columns])


def spark_digest(df) -> list:
    """Order-insensitive, null-safe digest of a web table: row count, and per
    column its null count and the sum of a 31-bit hash of (url, value) —
    xxhash64 reads string/binary bytes and timestamp microseconds, so any
    flipped byte, lost row or NULL/empty swap changes it."""
    from pyspark.sql import functions as F

    aggs = [F.count(F.lit(1))]
    for c in ("url", "warc_ts", "html", "text", "lang"):
        aggs.append(F.count(F.when(F.col(c).isNull(), 1)))
        aggs.append(F.sum(F.pmod(F.xxhash64(F.col("url"), F.col(c)),
                                 F.lit(2147483647))))
    return list(df.agg(*aggs).collect()[0])


# --------------------------------------------------------------- tracing ---

class Tracer:
    """In-memory spans around public calls. A span records name, start,
    end, parent and operation id; with a Spark session it also counts the
    Spark jobs and tasks it ran, exactly, through a job group read back
    from the status tracker. Disabled, ``span`` costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.op = 0
        self.bookkeeping_s = 0.0

    def next_op(self) -> int:
        self.op += 1
        return self.op

    @contextlib.contextmanager
    def span(self, name: str, spark=None, **counts):
        if not self.enabled:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans) + len(self._stack), "name": name,
               "parent": parent["id"] if parent else None, "op": self.op,
               "counts": dict(counts), "_group": None, "_child_jobs": 0,
               "_child_tasks": 0}
        sc = spark.sparkContext if spark is not None else None
        if sc is not None:
            rec["_group"] = f"perfbench-{uuid.uuid4().hex[:12]}"
            sc.setJobGroup(rec["_group"], name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                t_keep = time.perf_counter()
                jobs, tasks = _group_jobs(sc, rec["_group"])
                rec["counts"]["spark_jobs"] = jobs + rec["_child_jobs"]
                rec["counts"]["tasks"] = tasks + rec["_child_tasks"]
                outer = next((s for s in reversed(self._stack)
                              if s["_group"]), None)
                if outer is not None:
                    sc.setJobGroup(outer["_group"], outer["name"])
                    outer["_child_jobs"] += rec["counts"]["spark_jobs"]
                    outer["_child_tasks"] += rec["counts"]["tasks"]
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                self.bookkeeping_s += time.perf_counter() - t_keep
            self.spans.append(rec)

    def record(self, name: str, start: float, end: float, **counts) -> None:
        """A span timed by the caller (a set-up step), kept even while
        the tracer is off so a traced run reports its set-ups."""
        self.spans.append({"id": len(self.spans) + len(self._stack),
                           "name": name, "parent": None, "op": self.op,
                           "counts": counts, "_group": None,
                           "start": start, "end": end})

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover."""
        child_cover: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_cover[s["parent"]] = (child_cover.get(s["parent"], 0.0)
                                            + s["end"] - s["start"])
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child_cover.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + max(own, 0.0)
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [{"id": s["id"], "name": s["name"], "parent": s["parent"],
                  "op": s["op"], "start_s": s["start"] - t0,
                  "end_s": s["end"] - t0, "counts": s["counts"]}
                 for s in sorted(self.spans, key=lambda s: s["start"])]
        with open(path, "w") as f:
            json.dump({"self_time_s": self.self_times(), **extra,
                       "spans": spans}, f, indent=1)


def _group_jobs(sc, group: str) -> tuple[int, int]:
    # job events reach the status store through the listener bus; drain it
    # so the count includes the job that just finished
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in (info.stageIds if info else ()):
            stage = tracker.getStageInfo(sid)
            tasks += stage.numTasks if stage else 0
    return len(jobs), tasks


# ----------------------------------------------------------------- stats ---

def median(xs) -> float:
    return statistics.median(xs)


def geomean(xs) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def measure(ctx, seconds: float, trace: bool, cycle,
            min_cycles: int = 1) -> tuple:
    """Closed loop, one client: call ``cycle(clock)`` until ``seconds``
    have passed and ``min_cycles`` cycles ran. Traced, also return the
    tracer's own bookkeeping time per cycle (job-group reads), in ms:
    what tracing adds to each cycle's wall time."""
    ctx.tracer.enabled = trace
    clock = Clock()
    kept0 = ctx.tracer.bookkeeping_s
    t_end = time.perf_counter() + seconds
    while len(clock.cycles) < min_cycles or time.perf_counter() < t_end:
        cycle(clock)
    per_cycle = (ctx.tracer.bookkeeping_s - kept0) / len(clock.cycles)
    return clock, 1e3 * per_cycle


class Clock:
    """Per-kind latency samples of a closed loop with one client."""

    def __init__(self):
        self.samples: dict[str, list[float]] = {}
        self.cycles: list[float] = []
        self._cycle = 0.0

    @contextlib.contextmanager
    def time(self, kind: str, in_cycle: bool = True):
        t0 = time.perf_counter()
        yield
        dt = time.perf_counter() - t0
        self.samples.setdefault(kind, []).append(dt)
        if in_cycle:
            self._cycle += dt

    def close_cycle(self) -> None:
        """A cycle's time is the sum of its timed operations."""
        self.cycles.append(self._cycle)
        self._cycle = 0.0

    def p50_ms(self, kind: str) -> float:
        return 1e3 * median(self.samples[kind])

    def end_to_end(self) -> dict:
        return {
            "cycle_p50_ms": 1e3 * median(self.cycles),
            "op_geomean_ms": geomean(
                [self.p50_ms(k) for k in sorted(self.samples)]),
        }


class Checks:
    """Correctness checks, run outside every timed region."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(what)
        return ok


UNITS = {"setup_s": "s", "cycle_p50_ms": "ms", "op_geomean_ms": "ms",
         "compression_ratio": "x"}


def result_line(checks: Checks, ops: int, metrics: dict,
                units: dict) -> str:
    failed = checks.failed
    return json.dumps({
        "correct": failed == 0,
        "attempted": max(1, ops + checks.attempted),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    })
