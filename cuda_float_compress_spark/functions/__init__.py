"""SQL-facing helper functions: the codec-trials UDTF.

The reference's only scalar functions are zigzag/bit ops inside the codec;
the engine's url and timestamp expressions are Spark built-ins used in
place (``plans.partitioning.host_expr``).
"""

from __future__ import annotations


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
