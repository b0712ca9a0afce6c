"""Per-chunk codec auto-selector.

The reference made this choice OFFLINE and froze it as #defines (the
second-pass interleave beat varlen+exception-list, 2.94478x vs 2.73035x,
cpu_compress_test/cpu_compress_test.cpp:55-66). We re-make the choice at
RUNTIME per chunk: cheap statistics prune the candidate list, then trial
encodes on a sample pick the min-size codec. Numeric chunks trial the whole
chunk when small and contiguous windows otherwise; byte-string chunks trial
a lengths+data slice of up to 256 strided values, on the same
(lengths, data) codecs the chunk is then encoded with.

Selection never affects correctness — every codec round-trips exactly — only
size/speed, so sampling is safe.

Profiles pick a point on the ratio/throughput frontier (round-3 profiling:
the encode kernel is 71% inside zstd-1 on web text, so ratio-vs-speed is an
entropy-backend choice, not a Python one):

* ``ratio`` (default) — the reference's conclusion: zstd-1 backend, FSST
  trialed on high-cardinality text; best compressed size.
* ``throughput`` — lz4 entropy backend for the bulk data sections, FSST
  dropped (its trainer + encode pass costs more than the whole lz4 stage);
  dictionary/RLE still trialed (they SHRINK the work). A real 100 TB
  operator chooses this when ingest speed, not storage, is the bound.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from cuda_float_compress_spark.codecs import core

# Trial-encode the full chunk below this size; sample above it.
_FULL_TRIAL_MAX = 4096
_SAMPLE_VALUES = 1024


def _trial_size(encode, values) -> int:
    payload, _ = encode(values)
    return len(payload)


def _contiguous_sample(v: np.ndarray, windows: int = 8, width: int = 512) -> np.ndarray:
    """Trial sample as a few CONTIGUOUS windows: a strided sample inflates
    delta/delta-of-delta statistics (stride-k deltas are ~k bigger), which
    mis-ranks predictor codecs on smooth data."""
    n = len(v)
    if n <= windows * width:
        return v
    starts = np.linspace(0, n - width, windows).astype(np.int64)
    return np.concatenate([v[s : s + width] for s in starts])


def select_int_codec(v: np.ndarray, candidates: list[str] | None = None) -> str:
    """Pick the min-size integer codec via stats pruning + trial encodes."""
    n = len(v)
    if n == 0:
        return "int_raw"
    cands = (
        list(candidates)
        if candidates
        else ["int_for", "int_zz", "int_delta", "int_dod"]
    )
    if candidates is None:
        # stats pruning: RLE only pays off with long runs; DICT with low card.
        sample = v if n <= _FULL_TRIAL_MAX else v[:: max(1, n // _SAMPLE_VALUES)]
        n_runs = 1 + int(np.count_nonzero(sample[1:] != sample[:-1]))
        card = len(np.unique(sample))
        if n_runs <= len(sample) // 2:
            cands.append("int_rle")
        if card <= len(sample) // 2:
            cands.append("int_dict")
        # outlier detection: patched FOR pays off when the max is far wider
        # than the typical value (the reference's exception-list case)
        smin = int(sample.min())
        u = (sample - smin).astype(np.int64)
        if len(u) >= 8:
            p99 = int(np.partition(u, max(0, int(len(u) * 0.99) - 1))[max(0, int(len(u) * 0.99) - 1)])
            if int(u.max()).bit_length() > p99.bit_length() + 8:
                cands.append("int_patched")
    trial = v if n <= _FULL_TRIAL_MAX else _contiguous_sample(v)
    best, best_size = None, None
    for name in cands:
        size = _trial_size(core.INT_CODECS[name][0], trial)
        if best_size is None or size < best_size:
            best, best_size = name, size
    return best


def select_and_encode_int(
    v: np.ndarray, candidates: list[str] | None = None
) -> tuple[str, bytes, dict]:
    codec = select_int_codec(v, candidates)
    payload, params = core.INT_CODECS[codec][0](v)
    return codec, payload, params


def select_bytes_codec(
    lengths: np.ndarray, data, profile: str = "ratio"
) -> str:
    """Min-size byte-string codec for the (lengths, data) of one chunk,
    trialed on a lengths+data slice of up to 256 evenly strided values.
    Low-cardinality samples add dict/rle to the bulk codec; otherwise the
    ratio profile adds FSST when values are short (its sweet spot; long
    documents go straight to zstd, which dominates there)."""
    base = "bytes_zstd" if profile == "ratio" else "bytes_lz4"
    n = len(lengths)
    if n == 0 or len(data) == 0:
        return base
    sample = core.ld_to_arrow(lengths, data, "binary").take(
        pa.array(np.arange(0, n, max(1, n // 256)))
    )
    s_lengths, s_data = core.bytes_ld(sample)
    non_null = len(sample) - sample.null_count
    card = pc.count_distinct(sample, mode="only_valid").as_py()
    cands = [base]
    if non_null and card <= max(1, non_null // 2):
        cands += ["bytes_dict", "bytes_rle"]
    # "short" is the CHUNK's bytes over the SAMPLE's values: above 256
    # values this overstates the mean length by the stride, so FSST is
    # trialed on long chunks only when their values are very short
    elif profile == "ratio" and non_null and len(data) / non_null < 128:
        cands.append("bytes_fsst")
    if len(cands) == 1:
        return base
    return min(cands, key=lambda name: len(
        core.BYTES_CODECS[name][0](s_lengths, s_data)[0]
    ))


def select_and_encode_bytes(
    items: list, profile: str = "ratio"
) -> tuple[str, bytes, dict]:
    """List adapter: the engine's choice and encoding for list[bytes | None]."""
    lengths, data = core.bytes_ld(pa.array(items, pa.large_binary()))
    codec = select_bytes_codec(lengths, data, profile)
    payload, params = core.BYTES_CODECS[codec][0](lengths, data)
    return codec, payload, params


def select_and_encode_float(
    v: np.ndarray, candidates: list[str] | None = None, profile: str = "ratio"
) -> tuple[str, bytes, dict]:
    if candidates:
        cands = list(candidates)
    elif profile == "throughput":
        # ALP is one vectorized pass + zstd over ~width-compressed digits —
        # usually FASTER than byteplane-lz4 on decimal data (less entropy
        # work) and 2-5x smaller; the trial keeps lz4 for real doubles
        cands = ["float_alp", "float_byteplane_lz4"]
    else:
        cands = ["float_alp", "float_alprd", "float_xor",
                 "float_byteplane", "float_raw"]
    n = len(v)
    # contiguous windows, not a strided sample: float_xor's delta-like
    # statistics inflate under striding exactly like the int predictors
    trial = v if n <= _FULL_TRIAL_MAX else _contiguous_sample(v)
    best, best_size = cands[0], None
    if len(cands) > 1:
        best = None
        for name in cands:
            size = _trial_size(core.FLOAT_CODECS[name][0], trial)
            if best_size is None or size < best_size:
                best, best_size = name, size
    payload, params = core.FLOAT_CODECS[best][0](v)
    return best, payload, params
