"""mutate: writes beside reads on a table that accumulates commits.

The set-up starts the session and encodes the base web table with
``encode_table_direct`` (the cold first call). One episode copies the
base table and runs ``ROUNDS`` seeded rounds, each a cycle of:

- an append micro-batch (``encode_table`` with ``part_offset``);
- an upsert with ``merge_rows`` (replaced keys and new keys);
- a ``warc_ts`` range delete with ``delete_rows``;
- two predicate reads through ``localio.read_table_local``: a 0.1-1%
  ``warc_ts`` range, which zone maps prune, and a ``url`` host-prefix
  range, which the 7-byte string zone maps cannot. The ``warc_ts`` read
  also goes through ``decode_table_direct``.

The first round also pays the first calls of the merge, delete and
predicate-read paths in the session. After the rounds it runs
``maintain.compact`` and ``vacuum``. Every read,
and the compacted table, is checked against an in-memory model of the
live rows. Lineage, manifest and tombstone metadata grow with every
commit, so a read-path gain that costs writers shows here.
"""

from __future__ import annotations

import random
import shutil
import time

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

import layers as L
from harness import canonical, dir_bytes, measure, median, \
    read_source, scratch_dir, web_source

BASE_ROWS = 16_000
FILES = 4
CHUNK_ROWS = 4_096
ROUNDS = 1
APPEND_ROWS = 1_000
UPSERT_KEYS = 100
UPSERT_NEW = 20
COLUMNS = ["url", "warc_ts", "html", "text", "lang"]


def run(ctx: L.Ctx, seconds: float, trace: bool) -> dict:
    from cuda_float_compress_spark.localio import read_table_local

    src = web_source(BASE_ROWS, ctx.seed, FILES)
    base_rows = read_source(src)
    t0 = time.perf_counter()
    ctx.tracer.record("session.start", t0, t0 + ctx.session.start())
    base = scratch_dir("mu-base")
    L.encode_direct(ctx, src, base, chunk_rows=CHUNK_ROWS,
                    target_rows_per_split=CHUNK_ROWS)  # cold first call
    setup_s = time.perf_counter() - t0

    rng = random.Random(ctx.seed)
    space: list[float] = []
    last = {}

    def episode(clock):
        L.remove(*last.values())
        table = scratch_dir("mu-table")
        shutil.copytree(base, table)
        model = _Model(base_rows)
        for _ in range(ROUNDS):
            _round(ctx, clock, rng, table, model)
        dst = scratch_dir("mu-compact")
        with clock.time("compact", in_cycle=False):
            L.compact(ctx, table, dst, chunk_rows=CHUNK_ROWS)
        with clock.time("vacuum", in_cycle=False):
            L.vacuum(ctx, dst)
        got = read_table_local(dst)
        ctx.checks.check(
            canonical(got, COLUMNS).equals(canonical(model.table(), COLUMNS)),
            "compacted table differs from the model")
        space.append(dir_bytes(dst) / source_raw(model.table()))
        last.update(table=table, dst=dst)

    clock, overhead_ms = measure(ctx, seconds, trace, episode)
    amp = median(space)
    out = {
        "setup_s": setup_s,
        "clock": clock,
        "compression_ratio": 1.0 / amp,
        "detail": {
            **{f"{k}_p50_ms": clock.p50_ms(k)
               for k in ("append", "merge", "delete")},
            "mutate_read_p50_ms": clock.p50_ms("read"),
            "mutate_local_read_p50_ms": clock.p50_ms("local_read"),
            "space_amp": amp,
        },
    }
    if trace:
        _, preds, _ = predicate(rng, "ts", read_source(src), [])
        L.probe(ctx, last["table"], src, preds)
        kernel = L.kernel_pass(last["table"])
        out["detail"].update(L.codec_detail(kernel))
        out["per_layer"] = L.per_layer(
            ctx, kernel, L.table_gauges(last["table"]), overhead_ms)
    L.remove(*last.values(), base)
    return out


def _round(ctx: L.Ctx, clock, rng: random.Random, table: str,
           model: "_Model") -> None:
    from cuda_float_compress_spark.table import webpages_schema

    spark = ctx.spark
    ctx.tracer.next_op()
    batch = model.fresh(APPEND_ROWS, ctx.seed)
    df = spark.createDataFrame(batch, schema=webpages_schema())
    with clock.time("append"):
        L.encode_shuffle(ctx, df, table, n_parts=2, detect_skew=False,
                         part_offset=model.next_part)
    model.append(batch, parts=2)

    keys = rng.sample(model.urls(), UPSERT_KEYS)
    upd = pd.concat([model.fresh(UPSERT_KEYS, ctx.seed + 1).assign(url=keys),
                     model.fresh(UPSERT_NEW, ctx.seed)], ignore_index=True)
    df = spark.createDataFrame(upd, schema=webpages_schema())
    with clock.time("merge"):
        res = L.merge(ctx, table, df)
    model.upsert(upd, parts_from=res["part_offset"] + 2)

    us = model.ts_sorted()
    k = max(1, len(us) // 100)
    i = rng.randrange(len(us) - k - 1)
    lo, hi = int(us[i]), int(us[i + k])
    with clock.time("delete"):
        L.delete(ctx, table, [("warc_ts", ">=", L.ts(lo)),
                              ("warc_ts", "<", L.ts(hi))])
    model.delete(lo, hi)

    live = model.table()
    answers = []
    for kind in KINDS:
        cols, preds, mask = predicate(rng, kind, live, model.hosts())
        got = None
        if kind == SPARK_KIND:
            with clock.time("read"):
                got = L.scan_direct(ctx, table, cols, preds, collect=True)
        with clock.time("local_read"):
            got_local = L.read_local(ctx, table, cols, preds)
        answers.append((kind, cols, preds, mask, got, got_local))
    clock.close_cycle()
    for kind, cols, preds, mask, got, got_local in answers:
        expect = canonical(live.filter(mask), cols)
        what = f"{kind} read, round {model.rounds}"
        if got is not None:
            ctx.checks.check(canonical(got, cols).equals(expect),
                             f"decode_table_direct {what}")
        ctx.checks.check(canonical(got_local, cols).equals(expect),
                         f"read_table_local {what}")
        if ctx.tracer.enabled:
            L.pruning(ctx, table, preds, got_local.num_rows)
    model.rounds += 1


KINDS = ("ts", "url")
# Spark reads only the zone-map-pruned kind: a Spark read costs ~5 s, almost
# all of it metadata resolution, which is the same for both kinds
SPARK_KIND = "ts"


def predicate(rng: random.Random, kind: str, tbl: pa.Table, hosts: list):
    """One seeded read of ``kind`` over ``tbl``: projected columns, the
    engine's predicate list, and the pyarrow mask that answers it."""
    if kind == "ts":
        us = tbl.column("warc_ts").cast(pa.int64())
        order = pc.sort_indices(us)
        k = max(1, int(rng.uniform(0.001, 0.01) * tbl.num_rows))
        i = rng.randrange(tbl.num_rows - k - 1)
        lo = us[order[i].as_py()].as_py()
        hi = us[order[i + k].as_py()].as_py()
        preds = [("warc_ts", ">=", L.ts(lo)), ("warc_ts", "<", L.ts(hi))]
        cols = rng.choice([["url"], ["url", "lang"], ["warc_ts", "text"],
                           ["url", "warc_ts"]])
        mask = pc.and_(pc.greater_equal(us, lo), pc.less(us, hi))
    else:
        prefix = f"https://{rng.choice(hosts)}/"
        stop = prefix[:-1] + "0"  # '0' sorts right after '/'
        preds = [("url", ">=", prefix), ("url", "<", stop)]
        cols = rng.choice([["url"], ["url", "warc_ts"]])
        url = tbl.column("url")
        mask = pc.and_(pc.greater_equal(url, prefix), pc.less(url, stop))
    return cols, preds, mask


def source_raw(tbl: pa.Table) -> int:
    """Raw value bytes of a web table, as the engine counts them: string
    and binary payload bytes plus 8 bytes per timestamp."""
    total = 8 * tbl.num_rows
    for c in ("url", "html", "text", "lang"):
        total += pc.sum(pc.binary_length(tbl.column(c))).as_py() or 0
    return total


class _Model:
    """The live rows the table must hold, kept in pandas by url."""

    def __init__(self, base: pa.Table):
        self.df = base.to_pandas().set_index("url", drop=False)
        self.next_rid = BASE_ROWS
        self.next_part = FILES
        self.rounds = 0

    def fresh(self, n: int, seed: int) -> pd.DataFrame:
        """``n`` rows with row ids never used before (so unique urls)."""
        from cuda_float_compress_spark.table import generate_batch

        out = generate_batch(self.next_rid, self.next_rid + n, BASE_ROWS,
                             seed)
        self.next_rid += n
        return out

    def append(self, batch: pd.DataFrame, parts: int) -> None:
        self.df = pd.concat([self.df, batch.set_index("url", drop=False)])
        self.next_part += parts

    def upsert(self, rows: pd.DataFrame, parts_from: int) -> None:
        self.df = pd.concat([self.df.drop(index=rows["url"], errors="ignore"),
                             rows.set_index("url", drop=False)])
        self.next_part = parts_from

    def delete(self, lo_us: int, hi_us: int) -> None:
        us = self.df["warc_ts"].astype("int64")
        self.df = self.df[~((us >= lo_us) & (us < hi_us))]

    def urls(self) -> list:
        return sorted(self.df.index)

    def hosts(self) -> list:
        return sorted({u.split("/")[2] for u in self.df.index})

    def ts_sorted(self):
        return self.df["warc_ts"].astype("int64").sort_values().to_numpy()

    def table(self) -> pa.Table:
        return pa.Table.from_pandas(self.df[COLUMNS], preserve_index=False)
