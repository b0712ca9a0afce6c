"""Hypothesis property tests: decode(encode(x)) == x for arbitrary inputs.

Complements the fixed-fixture property suite (test_property.py) with
adversarial generation: extreme int64 magnitudes, pathological byte strings
(nulls, empties, shared prefixes), NaN/inf floats — the corners a seeded
generator rarely hits. Mirrors the reference's exhaustive-width testing
philosophy (interleave_test.cu:892-1001) with generated rather than
enumerated inputs.
"""

from __future__ import annotations

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from cuda_float_compress_spark.codecs import core, select
from cuda_float_compress_spark.operators import chunks as C

I64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)


@settings(max_examples=60, deadline=None)
@given(st.lists(I64, max_size=300), st.sampled_from(sorted(core.INT_CODECS)))
def test_int_codecs_roundtrip_any_int64(values, codec):
    v = np.array(values, dtype=np.int64)
    payload, params = core.INT_CODECS[codec][0](v)
    out = core.INT_CODECS[codec][1](payload, params, len(v))
    assert np.array_equal(out, v), codec


@settings(max_examples=60, deadline=None)
@given(st.lists(I64, min_size=1, max_size=300))
def test_int_selector_roundtrip_and_never_worst(values):
    v = np.array(values, dtype=np.int64)
    codec, payload, params = select.select_and_encode_int(v)
    out = core.INT_CODECS[codec][1](payload, params, len(v))
    assert np.array_equal(out, v), codec


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.one_of(st.none(), st.binary(max_size=64)), max_size=120
    ),
    st.sampled_from(sorted(core.BYTES_CODECS)),
)
def test_bytes_codecs_roundtrip_any_bytes(items, codec):
    payload, params = core.encode_bytes_chunk(items, codec)
    out = core.decode_bytes_chunk(payload, codec, params, len(items))
    assert out == items, codec


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.floats(width=32, allow_nan=True, allow_infinity=True),
        max_size=200,
    ),
    st.sampled_from(sorted(core.FLOAT_CODECS)),
)
def test_float_codecs_bit_exact_incl_nan_inf(values, codec):
    v = np.array(values, dtype=np.float32)
    payload, params = core.FLOAT_CODECS[codec][0](v)
    out = core.FLOAT_CODECS[codec][1](payload, params, len(v))
    # bit identity, not value equality: NaN payload bits must survive
    assert np.array_equal(out.view(np.uint32), v.view(np.uint32)), codec


@settings(max_examples=60, deadline=None)
@given(
    st.one_of(
        st.tuples(st.just("binary"), st.lists(
            st.one_of(st.none(), st.binary(max_size=48)), max_size=100)),
        st.tuples(st.just("string"), st.lists(
            st.one_of(st.none(), st.text(max_size=24)), max_size=100)),
    ),
    st.sampled_from(sorted(core.BYTES_CODECS) + [None]),
)
def test_arrow_binary_column_chunk_roundtrip(typed_items, codec_override):
    # every codec (None = auto selection) on the engine path, for binary and
    # string chunks; the params without their crc decode as a legacy table
    # does, through ld_to_arrow's validating string cast
    import json

    import pyarrow as pa

    ptype, items = typed_items
    arr = pa.array(items, type=C.arrow_type_for(ptype))
    codec, payload, params, n, n_nulls = C.encode_column_chunk(
        arr, ptype, codec_override
    )
    legacy = json.loads(params)
    del legacy["_crc"]
    for pj in (params, json.dumps(legacy)):
        out = C.decode_column_chunk(payload, codec, pj, n, n_nulls, ptype)
        assert out.to_pylist() == items, codec


@settings(max_examples=30, deadline=None)
@example([8389.25])      # err = 2 ulp(x) = 1.953e-3 ~ 1.0*eps: decode-product rounding
@example([5760.6416])    # err = 1.46e-3 = 0.73*eps: quantize-product rounding
@given(st.lists(st.floats(width=32, allow_nan=False, allow_infinity=False,
                          min_value=-1e4, max_value=1e4), max_size=400))
def test_refformat_roundtrip_generated(values):
    # |x|/eps must stay under 2^24: the reference quantizes with float32
    # reciprocal-multiply (src/cuszplus_f32.cu:384-388), so larger magnitudes
    # lose integer precision in the PRODUCT and the error bound lapses — in
    # the reference exactly as here (hypothesis found x=776461, eps=2e-3:
    # decode error 0.0625 = the float32 ulp of x/eps).
    from cuda_float_compress_spark import refformat as R

    x = np.array(values, dtype=np.float32)
    y = R.decompress_ref(R.compress_ref(x, max_error=1e-3))
    assert len(y) == len(x)
    if len(x):
        # The hard invariant is wire-format exactness: decode must reproduce
        # BIT-IDENTICALLY the float32 replay of the reference's arithmetic
        # (quantize = rint(x * float32(1/eps)) -> int32, cuszplus_f32.cu:
        # 384-388; decode = float32(q * eps), :472). This checks the whole
        # delta/zigzag/bitplane/zstd path with no error model at all.
        eps = np.float32(2.0 * 1e-3)
        inv = np.float32(1.0) / eps
        q = np.rint(x * inv).astype(np.int32)
        expected = (q.astype(np.float32) * eps).astype(np.float32)
        assert np.array_equal(y.view(np.uint32), expected.view(np.uint32))

        # User-facing error model (documentation-grade; the replay above is
        # the exact check). Three float32 rounding sources, per element:
        #   quantize product x*inv:  <= 0.5*ulp(x*inv)  -> eps*spacing(|x|*inv)/2
        #   rint to integer:         <= 0.5             -> 0.5*eps
        #   decode product q*eps:    <= 0.5*ulp(y)      -> spacing(max|x|,|y|)/2
        # At |x|*ulp(|x|) ~ eps the total legitimately reaches ~1.0*eps, i.e.
        # ~2x the user-facing max_error — the reference admits the same
        # overshoot (README.md:127-142). We allow the full spacing (2x the
        # half-ulp terms) for slack; exactness is pinned by the replay.
        ax = np.abs(x)
        ay = np.abs(y)
        bound = (
            np.float64(0.5) * eps
            + eps * np.spacing((ax * inv).astype(np.float32)).astype(np.float64)
            + np.spacing(np.maximum(ax, ay).astype(np.float32)).astype(np.float64)
        )
        assert np.all(np.abs(x.astype(np.float64) - y.astype(np.float64)) <= bound)


@settings(max_examples=30, deadline=None)
@given(
    st.integers(min_value=1, max_value=12),   # height
    st.integers(min_value=1, max_value=9),    # width
    st.sampled_from([1, 3, 4]),               # channels (gray/RGB/RGBA)
    st.integers(min_value=0, max_value=2**31 - 1),  # pixel seed
    st.lists(st.integers(min_value=0, max_value=4), min_size=1, max_size=12),
)
def test_png_roundtrip_generated(h, w, nch, seed, filters):
    """decode_png(encode_png(img)) recovers the pixels exactly for random
    images under arbitrary per-row filter choices (the filter list wraps)."""
    from cuda_float_compress_spark.operators import multimodal as M

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w, nch), dtype=np.uint8)
    row_filters = [filters[y % len(filters)] for y in range(h)]
    png = M.encode_png(img if nch > 1 else img[:, :, 0], filters=row_filters)
    out = M.decode_png(png)
    if nch == 3:
        want = img
    elif nch == 4:
        want = img[:, :, :3]
    else:
        want = np.repeat(img[:, :, :1], 3, axis=2)
    assert np.array_equal(out, want), (h, w, nch, row_filters)


@settings(max_examples=40, deadline=None)
@given(st.data())
def test_avro_container_roundtrip_generated(data):
    """write_avro -> read_avro is the identity for random records over the
    type palette Iceberg manifests use (varint edge values, unicode,
    empty/None unions, nested arrays/maps), under both codecs."""
    import tempfile

    from cuda_float_compress_spark.sources.avro import read_avro, write_avro

    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "s", "type": "string"},
            {"name": "l", "type": "long"},
            {"name": "u", "type": ["null", "long"]},
            {"name": "b", "type": "bytes"},
            {"name": "arr", "type": {"type": "array", "items": "long"}},
            {"name": "m", "type": {"type": "map", "values": "string"}},
        ],
    }
    n = data.draw(st.integers(min_value=0, max_value=8))
    longs = st.integers(min_value=-(2**63), max_value=2**63 - 1)
    records = [
        {
            "s": data.draw(st.text(max_size=20)),
            "l": data.draw(longs),
            "u": data.draw(st.one_of(st.none(), longs)),
            "b": data.draw(st.binary(max_size=16)),
            "arr": data.draw(st.lists(longs, max_size=4)),
            "m": data.draw(
                st.dictionaries(st.text(max_size=8), st.text(max_size=8),
                                max_size=3)
            ),
        }
        for _ in range(n)
    ]
    codec = data.draw(st.sampled_from(["null", "deflate"]))
    with tempfile.NamedTemporaryFile(suffix=".avro") as f:
        write_avro(f.name, schema, records, codec=codec)
        assert read_avro(f.name) == records


