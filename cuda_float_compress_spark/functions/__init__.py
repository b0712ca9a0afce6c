"""Scalar helper functions (all JVM-side built-ins — SURVEY.md §2.3).

The reference's only scalar functions are zigzag/bit ops inside the codec;
the table-level engine adds the url/timestamp/text helpers here.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from cuda_float_compress_spark.plans.partitioning import host_expr  # noqa: F401


def url_host(url_col: str = "url") -> Column:
    return host_expr(url_col)


def content_hash(col: Column) -> Column:
    """64-bit content hash for manifests/lineage (xxhash64, JVM-side)."""
    return F.xxhash64(col)


def epoch_us(ts_col: Column) -> Column:
    return F.unix_micros(ts_col)


def ts_day(ts_col: Column) -> Column:
    return F.date_trunc("day", ts_col)


def codec_trials_udtf():
    """Python UDTF (Spark 4): one row per codec with the trial-encoded size
    of a text sample — `SELECT * FROM codec_trials('some text')`. The UDTF
    face of the auto-selector, handy for interactive codec exploration."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="codec string, enc_bytes long, raw_bytes long")
    class CodecTrials:
        def eval(self, text: str):
            from cuda_float_compress_spark.codecs import core

            items = [text.encode("utf-8") if text is not None else None]
            raw = len(items[0]) if items[0] else 0
            for name in core.BYTES_CODECS:
                payload, _ = core.encode_bytes_chunk(items, name)
                yield name, len(payload), raw

    return CodecTrials
