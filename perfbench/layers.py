"""Calls into each layer's public functions, wrapped in spans.

Workloads call the package only through these wrappers, so an untraced
run and a traced run execute the same calls; the tracer decides whether a
span (and its Spark job count) is recorded. ``per_layer`` turns the spans
of a traced run into the per-layer metrics named in BENCHMARK.json, and
``probe`` calls, once, each layer that the workload's own loop does not,
so every per-layer metric is measured on every workload's own table.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import shutil
import time

from harness import cores, median, noop_sink, scratch_dir


class Ctx:
    """What one workload run shares: session, tracer, seed, checks."""

    def __init__(self, session, tracer, checks, seed: int):
        self.session = session
        self.tracer = tracer
        self.checks = checks
        self.seed = seed

    @property
    def spark(self):
        return self.session.spark

    def span(self, name: str, jobs: bool = True, **counts):
        return self.tracer.span(name, self.spark if jobs else None, **counts)


# ------------------------------------------------------- encode layers ---

def encode_direct(ctx: Ctx, src: str, out: str, **kw) -> dict:
    from cuda_float_compress_spark.operators.direct import encode_table_direct

    with ctx.span("direct.encode") as c:
        stats = encode_table_direct(ctx.spark, src, out, resume=False, **kw)
        _stage_counts(c, stats)
    return stats


def encode_shuffle(ctx: Ctx, df, out: str, **kw) -> dict:
    from cuda_float_compress_spark.operators.encode import encode_table

    with ctx.span("encode") as c:
        stats = encode_table(ctx.spark, df, out, resume=False, **kw)
        _stage_counts(c, stats)
        c["salted_hosts"] = stats["salted_hosts"]
    return stats


def _stage_counts(counts: dict, stats: dict) -> None:
    t = stats["timings_sec"]
    counts.update(plan_s=t.get("plan", 0.0), write_s=t.get("encode_write", 0.0),
                  manifest_s=t.get("manifest", 0.0),
                  raw_bytes=stats.get("raw_bytes", 0))


def skewed_hosts(ctx: Ctx, df, n_parts: int) -> dict:
    from cuda_float_compress_spark.plans.partitioning import skewed_hosts as sh

    with ctx.span("partitioning.skewed_hosts") as c:
        salts = sh(df, "url", n_parts)
        c["hosts"] = len(salts)
    return salts


# ------------------------------------------------------- decode layers ---

def scan_direct(ctx: Ctx, table: str, columns=None, predicates=None,
                collect: bool = False):
    """decode_table_direct: resolve (until the DataFrame is returned:
    metadata and pruning jobs), then the action (noop sink, or collect)."""
    from cuda_float_compress_spark.operators.direct import decode_table_direct

    with ctx.span("direct.decode", full_scan=int(not predicates)):
        with ctx.span("direct.decode.resolve"):
            df = decode_table_direct(ctx.spark, table, columns=columns,
                                     predicates=predicates)
        with ctx.span("direct.decode.action") as c:
            if collect:
                out = df.toArrow()
                c["rows"] = out.num_rows
            else:
                noop_sink(df)
                out = None
    return out


def scan_shuffle(ctx: Ctx, table: str) -> None:
    from cuda_float_compress_spark.operators.decode import decode_table

    with ctx.span("decode.shuffle"):
        with ctx.span("decode.shuffle.resolve"):
            df = decode_table(ctx.spark, table)
        with ctx.span("decode.shuffle.action"):
            noop_sink(df)


def read_local(ctx: Ctx, table: str, columns=None, predicates=None):
    from cuda_float_compress_spark.localio import read_table_local

    name = "localio.read" if predicates else "localio.full_scan"
    with ctx.span(name, jobs=False) as c:
        out = read_table_local(table, columns=columns, predicates=predicates)
        c["rows"] = out.num_rows
    return out


def pruning(ctx: Ctx, table: str, predicates: list, rows_returned: int):
    """Traced runs only: the decode layer's pruning steps, called one by
    one with the read's predicates, to count chunks kept vs considered."""
    from pyspark.sql import functions as F

    from cuda_float_compress_spark.operators.decode import (
        committed_blocks, qualifying_chunks, qualifying_parts)

    with ctx.span("decode.committed_blocks") as c:
        blocks = committed_blocks(ctx.spark, table).cache()
        per_chunk = (blocks.groupBy("part_id", "chunk_id")
                     .agg(F.max("n").alias("n")).cache())
        total = per_chunk.count()
        c["chunks"] = total
    with ctx.span("decode.qualifying_parts") as c:
        parts = qualifying_parts(ctx.spark, table, predicates)
        c["parts"] = -1 if parts is None else len(parts)
    with ctx.span("decode.qualifying_chunks") as c:
        kept = per_chunk.join(qualifying_chunks(blocks, predicates),
                              ["part_id", "chunk_id"], "left_semi")
        if parts is not None:
            kept = kept.filter(F.col("part_id").isin(parts))
        row = kept.agg(F.count(F.lit(1)), F.sum("n")).collect()[0]
        c["chunks"] = int(row[0])
        c["rows_decoded"] = int(row[1] or 0)
    with ctx.span("decode.pruning", jobs=False) as c:
        c.update(chunks_total=total, chunks_kept=int(row[0]),
                 rows_returned=rows_returned, rows_decoded=int(row[1] or 0))
    per_chunk.unpersist()
    blocks.unpersist()


# ------------------------------------------------------ mutate layers ---

def merge(ctx: Ctx, table: str, updates) -> dict:
    from cuda_float_compress_spark.operators.merge import merge_rows

    with ctx.span("merge") as c:
        res = merge_rows(ctx.spark, table, updates, key_col="url",
                         n_parts=2)
        c["tombstones"] = res["tombstones"]
    return res


def delete(ctx: Ctx, table: str, predicates: list) -> dict:
    from cuda_float_compress_spark.operators.deletes import delete_rows

    with ctx.span("deletes") as c:
        res = delete_rows(ctx.spark, table, predicates)
        c["tombstones"] = res["tombstones"]
    return res


def compact(ctx: Ctx, src: str, dst: str, **kw) -> dict:
    from cuda_float_compress_spark.operators.maintain import compact as cp

    with ctx.span("maintain.compact"):
        return cp(ctx.spark, src, dst, **kw)


def vacuum(ctx: Ctx, table: str) -> dict:
    from cuda_float_compress_spark.operators.maintain import vacuum as vc

    with ctx.span("maintain.vacuum") as c:
        res = vc(ctx.spark, table)
        c["bytes_reclaimed"] = res["bytes_reclaimed"]
    return res


# ---------------------------------------------------- kernel (chunks) ---

def kernel_pass(table: str) -> dict:
    """Re-run the chunk kernel single-process over the table's block rows:
    decode with the crc check on, re-encode with the codec auto-selected,
    and again with the chosen codec forced. Selection cost is the
    difference of the two encodes."""
    import pyarrow.parquet as pq

    from cuda_float_compress_spark.operators import chunks as Ch

    ptypes = {}
    for f in glob.glob(f"{table}/manifest/*.parquet"):
        m = pq.read_table(f, columns=["col", "ptype"])
        ptypes.update(zip(m.column("col").to_pylist(),
                          m.column("ptype").to_pylist()))
    per_codec: dict[str, dict] = {}
    total = {"chunks": 0, "raw_bytes": 0, "enc_bytes": 0, "encode_s": 0.0,
             "decode_s": 0.0, "select_s": 0.0}
    cols = ["col", "codec", "payload", "params", "n", "n_nulls"]
    for f in sorted(glob.glob(f"{table}/blocks/*.parquet")):
        blk = pq.read_table(f, columns=cols).to_pylist()
        for b in blk:
            ptype = ptypes[b["col"]]
            t0 = time.perf_counter()
            arr = Ch.decode_column_chunk(b["payload"], b["codec"],
                                         b["params"], b["n"], b["n_nulls"],
                                         ptype, verify=True)
            t1 = time.perf_counter()
            codec, payload, _, _, _ = Ch.encode_column_chunk(arr, ptype)
            t2 = time.perf_counter()
            Ch.encode_column_chunk(arr, ptype, codec_override=codec)
            t3 = time.perf_counter()
            raw = Ch.raw_size_of(arr, ptype)
            k = per_codec.setdefault(codec, {key: 0 for key in total})
            for d in (k, total):
                d["chunks"] += 1
                d["raw_bytes"] += raw
                d["enc_bytes"] += len(payload)
                d["decode_s"] += t1 - t0
                d["encode_s"] += t2 - t1
                d["select_s"] += (t2 - t1) - (t3 - t2)
    return {"total": total, "codecs": per_codec}


# ------------------------------------------------------------- probes ---

def probe(ctx: Ctx, table: str, src: str, predicates: list) -> None:
    """Traced runs only, after the loop: call once, on the workload's own
    table and inputs, every layer the loop did not call. Writes go to
    copies."""
    import pandas as pd

    from cuda_float_compress_spark.table import generate_batch, webpages_schema

    have = {s["name"] for s in ctx.tracer.spans}
    spark = ctx.spark
    df = spark.read.parquet(src)
    skewed_hosts(ctx, df, 16)
    read_local(ctx, table)  # full scan: the base of spark_overhead_x
    if not _full_scans(ctx):
        scan_direct(ctx, table)
    if "decode.shuffle" not in have:
        scan_shuffle(ctx, table)
    if "localio.read" not in have:
        read_local(ctx, table, columns=["url"], predicates=predicates)
    if "direct.encode" not in have:
        out = scratch_dir("probe-direct")
        encode_direct(ctx, src, out)
        remove(out)
    if "encode" not in have:
        out = scratch_dir("probe-encode")
        encode_shuffle(ctx, df, out, n_parts=16)
        remove(out)
    if "merge" in have:
        return
    copy = scratch_dir("probe-mutate")
    shutil.copytree(table, copy)
    first = df.select("url").limit(32).toPandas()["url"].tolist()
    fresh = generate_batch(10**9, 10**9 + 32, 10**9 + 32, ctx.seed)
    upd = generate_batch(0, 32, 32, ctx.seed + 1).assign(url=first)
    merge(ctx, copy, spark.createDataFrame(pd.concat([upd, fresh]),
                                           schema=webpages_schema()))
    delete(ctx, copy, predicates)
    dst = scratch_dir("probe-compact")
    compact(ctx, copy, dst)
    vacuum(ctx, dst)
    remove(copy, dst)


def _full_scans(ctx: Ctx) -> list[float]:
    return [s["end"] - s["start"] for s in ctx.tracer.named("direct.decode")
            if s["counts"]["full_scan"]]


# ------------------------------------------------------ table gauges ---

def table_gauges(table: str) -> dict:
    import pyarrow.parquet as pq

    runs = set()
    for f in glob.glob(f"{table}/lineage/*.parquet"):
        t = pq.read_table(f, columns=["run_id", "status"]).to_pylist()
        runs.update(r["run_id"] for r in t if r["status"] == "done")
    return {
        "table.block_files": len(glob.glob(f"{table}/blocks/*.parquet")),
        "table.committed_runs": len(runs),
        "table.delete_runs": len(glob.glob(f"{table}/deletes/run-*")),
    }


# --------------------------------------------------- per-layer metrics ---

def per_layer(ctx: Ctx, kernel: dict, gauges: dict,
              overhead_ms: float) -> dict:
    """Per-layer metrics of a traced run, each the median over the spans of
    that name (times in s, counts as counted)."""
    def med(name, key=None):
        spans = ctx.tracer.named(name)
        if not spans:
            raise RuntimeError(f"no span {name!r} in the traced run")
        return median([(s["end"] - s["start"]) if key is None
                       else s["counts"][key] for s in spans])

    m = {"session.start_s": med("session.start")}
    for layer in ("direct.encode", "encode"):
        m[f"{layer}.s"] = med(layer)
        for k in ("plan_s", "write_s", "manifest_s", "spark_jobs"):
            m[f"{layer}.{k}"] = med(layer, k)
    m["direct.encode.tasks"] = med("direct.encode", "tasks")
    m["encode.salted_hosts"] = med("encode", "salted_hosts")
    m["partitioning.skewed_hosts_s"] = med("partitioning.skewed_hosts")
    t = kernel["total"]
    m.update({"kernel.chunks": t["chunks"], "kernel.raw_bytes": t["raw_bytes"],
              "kernel.enc_bytes": t["enc_bytes"],
              "kernel.encode_s": t["encode_s"],
              "kernel.decode_s": t["decode_s"],
              "kernel.select_s": t["select_s"]})
    m["direct.decode.resolve_s"] = med("direct.decode.resolve")
    m["direct.decode.resolve_jobs"] = med("direct.decode.resolve",
                                          "spark_jobs")
    m["direct.decode.action_s"] = med("direct.decode.action")
    m["direct.decode.tasks"] = med("direct.decode", "tasks")
    m["direct.decode.spark_overhead_x"] = (
        median(_full_scans(ctx)) * cores() / med("localio.full_scan"))
    for k in ("committed_blocks", "qualifying_parts", "qualifying_chunks"):
        m[f"decode.{k}_s"] = med(f"decode.{k}")
    pr = ctx.tracer.named("decode.pruning")
    m["decode.chunks_total"] = sum(s["counts"]["chunks_total"] for s in pr)
    m["decode.chunks_kept"] = sum(s["counts"]["chunks_kept"] for s in pr)
    decoded = sum(s["counts"]["rows_decoded"] for s in pr)
    m["decode.rows_returned_per_row_decoded"] = (
        sum(s["counts"]["rows_returned"] for s in pr) / decoded
        if decoded else 0.0)
    m["decode.shuffle.resolve_s"] = med("decode.shuffle.resolve")
    m["decode.shuffle.action_s"] = med("decode.shuffle.action")
    m["localio.read_s"] = med("localio.read")
    m["localio.full_scan_s"] = med("localio.full_scan")
    for layer in ("merge", "deletes"):
        m[f"{layer}.s"] = med(layer)
        m[f"{layer}.spark_jobs"] = med(layer, "spark_jobs")
        m[f"{layer}.tombstones"] = med(layer, "tombstones")
    m["maintain.compact_s"] = med("maintain.compact")
    m["maintain.vacuum_s"] = med("maintain.vacuum")
    m["maintain.bytes_reclaimed"] = med("maintain.vacuum", "bytes_reclaimed")
    m.update(gauges)
    m["trace.overhead_ms"] = overhead_ms
    return m


def codec_detail(kernel: dict) -> dict:
    """``kernel.<codec>.<stat>`` for every codec the kernel pass saw."""
    return {f"kernel.{codec}.{k}": v
            for codec, stats in sorted(kernel["codecs"].items())
            for k, v in stats.items()}


def ts(us: int) -> dt.datetime:
    """A predicate literal for ``warc_ts`` from epoch microseconds."""
    return dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=int(us))


def remove(*paths: str) -> None:
    for p in paths:
        shutil.rmtree(p, ignore_errors=True)
        if os.path.exists(p):
            raise RuntimeError(f"could not remove {p}")
