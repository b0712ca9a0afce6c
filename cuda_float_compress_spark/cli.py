"""spark-submit entry point.

Package and run (the north star's deployment shape):

    zip -r cfc_spark.zip cuda_float_compress_spark/
    spark-submit --py-files cfc_spark.zip -m cuda_float_compress_spark.cli ...

or locally:

    python -m cuda_float_compress_spark.cli encode --input DIR --out DIR \
        [--mode hash|range|direct] [--n-parts 64] [--resume/--no-resume]
    python -m cuda_float_compress_spark.cli decode --out DIR --dest DIR [--columns a,b]
    python -m cuda_float_compress_spark.cli verify --input DIR --out DIR --key url
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="cuda_float_compress_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    enc = sub.add_parser("encode")
    enc.add_argument("--input", required=True, help="input parquet dir")
    enc.add_argument("--out", required=True, help="output dir (blocks/manifest/lineage)")
    enc.add_argument("--mode", default="hash", choices=["hash", "range", "direct"])
    enc.add_argument("--n-parts", type=int, default=64)
    enc.add_argument("--url-col", default="url")
    enc.add_argument("--chunk-rows", type=int, default=32_768)
    enc.add_argument("--no-resume", action="store_true")
    enc.add_argument("--cores", type=int, default=None)

    dec = sub.add_parser("decode")
    dec.add_argument("--out", required=True, help="encoded dir")
    dec.add_argument("--dest", required=True, help="where to write decoded parquet")
    dec.add_argument("--columns", default=None)
    dec.add_argument("--cores", type=int, default=None)

    ver = sub.add_parser("verify")
    ver.add_argument("--input", required=True)
    ver.add_argument("--out", required=True)
    ver.add_argument("--key", default="url")
    ver.add_argument("--cores", type=int, default=None)

    for name in ("vacuum", "snapshots"):
        p = sub.add_parser(name)
        p.add_argument("--out", required=True, help="encoded dir")
        p.add_argument("--cores", type=int, default=None)

    cmp_ = sub.add_parser("compact")
    cmp_.add_argument("--out", required=True, help="source encoded dir")
    cmp_.add_argument("--dest", required=True,
                      help="new compacted encoded dir (must not hold a table)")
    cmp_.add_argument("--chunk-rows", type=int, default=32_768)
    cmp_.add_argument(
        "--sort-keys", default=None,
        help="comma-separated columns: re-cluster each part while "
             "compacting (restores zone-map pruning)",
    )
    cmp_.add_argument("--cores", type=int, default=None)

    st = sub.add_parser(
        "stats",
        help="per-column size/codec statistics from the manifest "
             "(metadata only — no payload reads)",
    )
    st.add_argument("--out", required=True, help="encoded dir")
    st.add_argument("--cores", type=int, default=None)

    mrg = sub.add_parser(
        "merge",
        help="upsert a parquet dir of row versions by key "
             "(existing keys replaced, new keys inserted)",
    )
    mrg.add_argument("--out", required=True, help="encoded dir")
    mrg.add_argument("--updates", required=True,
                     help="parquet dir of update rows (full table schema)")
    mrg.add_argument("--key-col", default="url")
    mrg.add_argument("--n-parts", type=int, default=8)
    mrg.add_argument("--cores", type=int, default=None)

    dele = sub.add_parser(
        "delete",
        help="merge-on-read row deletes: tombstone by predicate "
             "(col,op,value) or by a parquet key list",
    )
    dele.add_argument("--out", required=True, help="encoded dir")
    dele.add_argument(
        "--where", action="append", default=[],
        metavar="COL,OP,VALUE",
        help="predicate, repeatable (op in ==,<,<=,>,>=; value parsed as "
             "int/float when it looks like one)",
    )
    dele.add_argument(
        "--keys", default=None,
        help="parquet path of a one-column takedown key list",
    )
    dele.add_argument("--key-col", default="url")
    dele.add_argument("--cores", type=int, default=None)

    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from cuda_float_compress_spark.session import get_spark

    pre_existing = SparkSession.getActiveSession() is not None
    spark = get_spark(app=f"cfc_{args.cmd}", cores=args.cores)
    try:
        if args.cmd == "encode":
            if args.mode == "direct":
                from cuda_float_compress_spark.operators.direct import (
                    encode_table_direct,
                )

                stats = encode_table_direct(
                    spark, args.input, args.out,
                    chunk_rows=args.chunk_rows, resume=not args.no_resume,
                )
            else:
                from cuda_float_compress_spark.operators.encode import encode_table

                df = spark.read.parquet(args.input)
                stats = encode_table(
                    spark, df, args.out, url_col=args.url_col,
                    n_parts=args.n_parts, mode=args.mode,
                    chunk_rows=args.chunk_rows, resume=not args.no_resume,
                )
            print(json.dumps(stats))
        elif args.cmd == "decode":
            from cuda_float_compress_spark.operators.decode import decode_table

            cols = args.columns.split(",") if args.columns else None
            decode_table(spark, args.out, columns=cols).write.mode(
                "overwrite"
            ).parquet(args.dest)
            print(json.dumps({"decoded_to": args.dest}))
        elif args.cmd == "verify":
            from cuda_float_compress_spark.operators.decode import decode_table
            from cuda_float_compress_spark.operators.verify import verify_roundtrip

            original = spark.read.parquet(args.input)
            decoded = decode_table(spark, args.out)
            rows = verify_roundtrip(original, decoded, args.key).collect()
            report = [r.asDict() for r in rows]
            print(json.dumps(report))
            if not all(r["ok"] for r in report):
                return 1
        elif args.cmd == "vacuum":
            from cuda_float_compress_spark.operators.maintain import vacuum

            print(json.dumps(vacuum(spark, args.out)))
        elif args.cmd == "snapshots":
            from cuda_float_compress_spark.operators.decode import snapshots

            print(json.dumps([r.asDict() for r in snapshots(spark, args.out).collect()]))
        elif args.cmd == "compact":
            from cuda_float_compress_spark.operators.maintain import compact

            print(json.dumps(compact(
                spark, args.out, args.dest, chunk_rows=args.chunk_rows,
                sort_keys=(args.sort_keys.split(",")
                           if args.sort_keys else None),
            )))
        elif args.cmd == "stats":
            from pyspark.sql import functions as F

            man = spark.read.parquet(f"{args.out}/manifest")
            per_col = (
                man.groupBy("col", "ptype")
                .agg(
                    F.sum("n_values").alias("n_values"),
                    F.sum("n_nulls").alias("n_nulls"),
                    F.sum("raw_bytes").alias("raw_bytes"),
                    F.sum("enc_bytes").alias("enc_bytes"),
                    F.array_sort(
                        F.array_distinct(F.flatten(F.collect_list("codecs")))
                    ).alias("codecs"),
                )
                .orderBy("col")
                .collect()
            )
            report = {
                "columns": [
                    {
                        **{k: r[k] for k in ("col", "ptype", "n_values",
                                             "n_nulls", "raw_bytes",
                                             "enc_bytes")},
                        "ratio": round(r["raw_bytes"] / max(r["enc_bytes"], 1), 4),
                        "codecs": list(r["codecs"]),
                    }
                    for r in per_col
                ],
                "total_raw_bytes": sum(r["raw_bytes"] for r in per_col),
                "total_enc_bytes": sum(r["enc_bytes"] for r in per_col),
            }
            report["ratio"] = round(
                report["total_raw_bytes"] / max(report["total_enc_bytes"], 1), 4
            )
            print(json.dumps(report))
        elif args.cmd == "merge":
            from cuda_float_compress_spark.operators.merge import merge_rows

            updates = spark.read.parquet(args.updates)
            stats = merge_rows(
                spark, args.out, updates, key_col=args.key_col,
                n_parts=args.n_parts,
            )
            stats.pop("encode", None)  # keep the JSON line compact
            print(json.dumps(stats))
        elif args.cmd == "delete":
            from cuda_float_compress_spark.operators.deletes import (
                delete_rows,
                delete_rows_by_keys,
            )

            if bool(args.where) == bool(args.keys):
                ap.error("delete needs exactly one of --where / --keys")
            if args.keys:
                keys = spark.read.parquet(args.keys)
                stats = delete_rows_by_keys(
                    spark, args.out, args.key_col, keys
                )
            else:
                preds = []
                for w in args.where:
                    col, op, value = w.split(",", 2)
                    try:
                        value = int(value)
                    except ValueError:
                        try:
                            value = float(value)
                        except ValueError:
                            pass
                    preds.append((col, op, value))
                stats = delete_rows(spark, args.out, preds)
            print(json.dumps(stats))
        return 0
    finally:
        if not pre_existing:  # don't tear down a session we merely joined
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
