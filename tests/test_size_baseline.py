"""Compressed-size target (BASELINE.md): engine output ≤ the reference-codec
stand-in (Zstd level 1 on the same payload, chunked the same way — the
reference's own backend, src/cuszplus_f32.cu:551-554) on every column.

The auto-selector trials zstd among its candidates, so the engine can only
beat-or-tie the stand-in up to sampling error; a small tolerance covers the
per-chunk section/params overhead."""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from cuda_float_compress_spark.codecs import core
from cuda_float_compress_spark.operators import chunks as C
from cuda_float_compress_spark.table import generate_webpages_pandas


def test_engine_size_le_zstd_baseline_per_column():
    pdf = generate_webpages_pandas(32_768)
    tbl = pa.Table.from_pandas(pdf)
    worse = {}
    for name in ["url", "warc_ts", "html", "text", "lang"]:
        arr = tbl.column(name).combine_chunks()
        ptype = C.ptype_of(arr.type)
        codec, payload, pj, n, nn = C.encode_column_chunk(arr, ptype)
        # stand-in: zstd-1 on the raw column bytes (values concatenated,
        # lengths separately zstd'd — the minimal self-describing layout)
        if ptype in ("string", "binary"):
            lengths, data = core.bytes_ld(arr)
            baseline = len(core.zstd_compress(data)) + len(
                core.zstd_compress(lengths.tobytes())
            )
        else:
            vals = arr.to_numpy(zero_copy_only=False)
            if vals.dtype.kind == "M":
                vals = vals.view(np.int64)
            baseline = len(core.zstd_compress(vals.tobytes()))
        if len(payload) > baseline * 1.05:
            worse[name] = (codec, len(payload), baseline)
    assert not worse, f"columns larger than zstd-L1 stand-in: {worse}"


def test_total_ratio_beats_reference_cpu_ratio():
    # the reference's CPU-path ratio on its own integer fixture is 2.94478x
    # (cpu_compress_test.cpp:58); our table-level ratio on the web-page
    # fixture should comfortably exceed it
    pdf = generate_webpages_pandas(32_768)
    tbl = pa.Table.from_pandas(pdf)
    raw = enc = 0
    for name in ["url", "warc_ts", "html", "text", "lang"]:
        arr = tbl.column(name).combine_chunks()
        ptype = C.ptype_of(arr.type)
        raw += C.raw_size_of(arr, ptype)
        _, payload, _, _, _ = C.encode_column_chunk(arr, ptype)
        enc += len(payload)
    assert raw / enc > 2.94478


def test_reference_integer_fixture_ratio():
    # mirror of cpu_compress_test/cpu_compress_test.cpp:809-826: Gaussian
    # int32 (mu=78000 sigma=317, seed 1337); reference achieves 2.94x with
    # delta+zigzag+2-bit interleave+zstd — our int_delta (bit-plane) path
    # must land in the same regime on the same distribution
    v = np.rint(np.random.default_rng(1337).normal(78000, 317, 1_048_576)).astype(
        np.int64
    )
    payload, _ = core.int_delta_encode(v)
    ratio = v.nbytes / 2 / len(payload)  # /2: reference counts int32 bytes
    assert ratio > 2.5, ratio


def test_model_weight_fixture_ratio_with_selector():
    """Layered model-weight fixture (per-layer sigma = sqrt(2/fan_in), the
    RegNet-like shape): the per-chunk codec selector must pick the
    no-predictor zigzag path where it wins, landing >= 3.25x (was 3.14x with
    delta hardcoded; reference reports 4.02x on the real RegNet weights,
    README.md:143)."""
    from cuda_float_compress_spark import compat

    rng = np.random.default_rng(99)
    layers = [
        rng.normal(0, np.sqrt(2.0 / f), 250_000).astype(np.float32)
        for f in [27, 576, 1152, 2304, 4608, 9216, 2016, 3024]
    ]
    x = np.concatenate(layers)
    blob = compat.cuszplus_compress(x, 1e-4)
    assert 4 * len(x) / len(blob) >= 3.25
    y = compat.cuszplus_decompress(blob)
    assert np.abs(x - y).max() <= 1.02e-4


def test_selector_never_loses_to_fixed_delta():
    from cuda_float_compress_spark.codecs import select

    rng = np.random.default_rng(5)
    fixtures = {
        "iid": rng.normal(0, 300, 100_000).astype(np.int64),
        "smooth": np.cumsum(rng.integers(0, 50, 100_000)).astype(np.int64),
        "linear+noise": (np.arange(100_000) * 1000
                         + rng.integers(-3, 4, 100_000)).astype(np.int64),
    }
    for name, v in fixtures.items():
        codec, payload, _ = select.select_and_encode_int(
            v, candidates=["int_delta", "int_zz", "int_dod"]
        )
        fixed, _ = core.int_delta_encode(v)
        assert len(payload) <= len(fixed) * 1.02, (name, codec)
