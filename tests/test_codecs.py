"""Per-codec property tests: decode(encode(x)) == x exactly.

Mirrors the reference's test strategy (SURVEY.md §5): exhaustive bit-width
sweep (interleave_test/interleave_test.cu:892-1001), seeded Gaussian int32
round-trip (cpu_compress_test/cpu_compress_test.cpp:809-826, 914-919), and
edge cases (empty / single / all-equal / extremes / outlier).
"""

from __future__ import annotations

import numpy as np
import pytest

from cuda_float_compress_spark.codecs import core, select

RNG = np.random.default_rng(1337)


# --- primitives -------------------------------------------------------------


@pytest.mark.parametrize("width", list(range(0, 65)))
def test_bitpack_roundtrip_every_width(width):
    n = 257  # not a multiple of 8 -> exercises padding
    if width == 0:
        u = np.zeros(n, dtype=np.uint64)
    elif width == 64:
        u = RNG.integers(0, 2**63, n, dtype=np.uint64) * 2 + RNG.integers(
            0, 2, n, dtype=np.uint64
        )
    else:
        u = RNG.integers(0, 2**width, n, dtype=np.uint64)
    buf = core.bitpack(u, width)
    out = core.bitunpack(buf, width, n)
    np.testing.assert_array_equal(u, out)


def test_zigzag_extremes():
    v = np.array(
        [0, 1, -1, 2**62, -(2**62), np.iinfo(np.int64).max, np.iinfo(np.int64).min],
        dtype=np.int64,
    )
    np.testing.assert_array_equal(core.zigzag_decode(core.zigzag_encode(v)), v)


def test_delta_wraparound():
    v = np.array([np.iinfo(np.int64).min, np.iinfo(np.int64).max, 0, -5], dtype=np.int64)
    with np.errstate(over="ignore"):
        first, d = core.delta_encode(v)
        out = core.delta_decode(first, d)
    np.testing.assert_array_equal(out, v)


# --- integer codecs ----------------------------------------------------------

INT_FIXTURES = {
    "empty": np.array([], dtype=np.int64),
    "single": np.array([42], dtype=np.int64),
    "all_zero": np.zeros(1000, dtype=np.int64),
    "all_equal": np.full(1000, -77, dtype=np.int64),
    "increasing": np.arange(10_000, dtype=np.int64) * 3 + 5,
    "alternating": np.tile(np.array([7, -7], dtype=np.int64), 500),
    "one_outlier": np.concatenate(
        [np.full(999, 100, dtype=np.int64), np.array([2**40], dtype=np.int64)]
    ),
    # the reference's CPU fixture: Gaussian mu=78000 sigma=317 seed 1337
    # (cpu_compress_test/cpu_compress_test.cpp:809-826)
    "gaussian_ref": np.rint(
        np.random.default_rng(1337).normal(78000, 317, 10_240)
    ).astype(np.int64),
    "extremes": np.array(
        [np.iinfo(np.int64).min, -1, 0, 1, np.iinfo(np.int64).max], dtype=np.int64
    ),
    "timestampish": 1_722_988_800_000_000
    + np.cumsum(RNG.geometric(0.01, 5000)).astype(np.int64),
}


@pytest.mark.parametrize("codec", sorted(core.INT_CODECS))
@pytest.mark.parametrize("fixture", sorted(INT_FIXTURES))
def test_int_codec_roundtrip(codec, fixture):
    v = INT_FIXTURES[fixture]
    with np.errstate(over="ignore"):
        payload, params = core.encode_int_chunk(v, codec)
        out = core.decode_int_chunk(payload, codec, params, len(v))
    assert out.dtype == np.int64
    np.testing.assert_array_equal(out, v)


@pytest.mark.parametrize("width", [0, 1, 7, 16, 31, 32, 48, 63])
def test_int_codecs_every_width(width):
    n = 2048
    if width == 0:
        v = np.zeros(n, dtype=np.int64)
    else:
        v = RNG.integers(-(2 ** (width - 1)) if width > 1 else 0, 2 ** (width - 1), n).astype(
            np.int64
        )
    for codec in core.INT_CODECS:
        payload, params = core.encode_int_chunk(v, codec)
        out = core.decode_int_chunk(payload, codec, params, n)
        np.testing.assert_array_equal(out, v, err_msg=f"{codec} width={width}")


# --- bytes codecs ------------------------------------------------------------

BYTES_FIXTURES = {
    "empty_list": [],
    "empty_items": [b"", b"", b""],
    "single": [b"hello"],
    "with_nulls": [b"a", None, b"", None, b"bcd"],
    "all_null": [None, None],
    "every_byte": [bytes(range(256)), bytes(reversed(range(256)))],
    "low_card": [b"en", b"de", b"en", b"en", b"fr", b"en"] * 200,
    "runs": [b"x"] * 500 + [b"y"] * 300 + [b"z"] * 200,
    "prose": [
        f"the quick brown fox jumps over the lazy dog {i} again and again".encode()
        for i in range(500)
    ],
    "random_bytes": [RNG.bytes(RNG.integers(0, 200)) for _ in range(300)],
    "dup_text_diff_slots": [b"same text", b"other", b"same text"],
}


@pytest.mark.parametrize("codec", sorted(core.BYTES_CODECS))
@pytest.mark.parametrize("fixture", sorted(BYTES_FIXTURES))
def test_bytes_codec_roundtrip(codec, fixture):
    items = BYTES_FIXTURES[fixture]
    payload, params = core.encode_bytes_chunk(items, codec)
    out = core.decode_bytes_chunk(payload, codec, params, len(items))
    assert out == items


#: sha256 over a chunk's payload bytes then ``json.dumps(params)``, per
#: (codec, fixture); see the test below.
BYTES_WIRE_SHA256 = {
    ("bytes_dict", "low_card"):
        "e8ab9c73be2189294beada660df0bbac165afa85497cfc8759505dd7f303062b",
    ("bytes_dict", "prose"):
        "6c63d4f4def884b391890aa90318138dc2c0d0dea8045ffec9c7f0b9a22ae821",
    ("bytes_dict", "with_nulls"):
        "41ee3c461252fff6d51829ff47611a3be8bd00e0aebab63bfbfa81affa0041b9",
    ("bytes_fsst", "low_card"):
        "184716e65687810c9e9159c2305c413aa3d7e0779042ea8cbf5f5d47c97ce16d",
    ("bytes_fsst", "prose"):
        "2467e28633b70579a7d2dbec917e858be47ad4089fda6e6952d5f51175f033ac",
    ("bytes_fsst", "with_nulls"):
        "d8fd610390f36ab982d98186a86706155d159682f1d4122ec93b491b213c7824",
    ("bytes_lz4", "low_card"):
        "0fa281d6c5be23df06cc7790e0cac33564861ad4d3a1be40393978b2587216de",
    ("bytes_lz4", "prose"):
        "fefdd4e4b3ba425979cd72a7f4a43d40bc5058f6329a8a07b4962354cf57f0c6",
    ("bytes_lz4", "with_nulls"):
        "607ef95c17cb9fb484486f251dfa9c076cdca68a3cf3a8bb00b4581fe97c185d",
    ("bytes_raw", "low_card"):
        "fa47f6fd67fd94559601635aea0893a073c50850e20594210ea13e6ce12ee59d",
    ("bytes_raw", "prose"):
        "fa796baf96594b968d0b66bfe4b981c9087c3aebbb8a74856225858bedba6be4",
    ("bytes_raw", "with_nulls"):
        "3c5ef1b72d79416ac6fab5fbac97b5aaaed6e82b9b3889d30df2483e1112ad31",
    ("bytes_rle", "low_card"):
        "250c811714a2bf70128172975cfdafbf750dacae85eeb0350968519c74d6de83",
    ("bytes_rle", "prose"):
        "7cb041adbb709b567b5d5b8f015bd477e4048198b7b36c66f53cbac23b4d81e3",
    ("bytes_rle", "with_nulls"):
        "ad847c0cdff700f98f5c3571a4bf6d54aff248307cc5a0f5bc594ca0f440f836",
    ("bytes_zstd", "low_card"):
        "cb85c87a8bc4aef2d4c78b349c0e6ba22b3ca4ffbfcad4bf6308fe0ba88d9cda",
    ("bytes_zstd", "prose"):
        "09eb72df3dc7255f196a4c55357224dd6b1f167f22c371aa51dc7c1e103070b4",
    ("bytes_zstd", "with_nulls"):
        "0ca94946c9bfd43220a45740d1c17fcfde48f44566c422dca728dbeca5c80ee6",
}


def test_bytes_wire_format_pinned():
    """Payload and params of every byte-string codec are stored per chunk,
    so a table written once must decode forever: the wire format may not
    drift. The digests were recorded at commit 50f633c, before the list
    codecs and the engine's lengths+data copy of them were folded into one
    table, and must hold unchanged through any refactor of that table."""
    import hashlib
    import json

    drift = []
    for (codec, fixture), want in sorted(BYTES_WIRE_SHA256.items()):
        payload, params = core.encode_bytes_chunk(BYTES_FIXTURES[fixture], codec)
        got = hashlib.sha256(
            bytes(payload) + json.dumps(params).encode()
        ).hexdigest()
        if got != want:
            drift.append((codec, fixture))
    assert not drift, f"byte-string wire format changed: {drift}"


# --- float codecs ------------------------------------------------------------


@pytest.mark.parametrize("codec", sorted(core.FLOAT_CODECS))
@pytest.mark.parametrize("dtype", [np.float32, np.float64])
def test_float_codec_roundtrip_bitexact(codec, dtype):
    # mirrors examples/minimal_example.py:8 (32768 Normal(0,1), seed 42)
    v = np.random.default_rng(42).normal(0, 1, 32_768).astype(dtype)
    v[0] = np.nan
    v[1] = np.inf
    v[2] = -0.0
    payload, params = core.encode_float_chunk(v, codec)
    out = core.decode_float_chunk(payload, codec, params, len(v))
    assert out.dtype == v.dtype
    np.testing.assert_array_equal(out.view(np.uint8), v.view(np.uint8))  # bit-exact


def test_float_quantize_error_bound():
    # the reference's lossy mode: |x - decode| <= max_error
    # (examples/minimal_example.py:20 torch.allclose analog)
    v = np.random.default_rng(42).normal(0, 1, 32_768).astype(np.float32)
    max_error = 1e-4
    payload, params = core.float_quantize_encode(v, max_error)
    out = core.float_quantize_decode(payload, params, len(v))
    # the reference itself overshoots by float32 rounding: observed max error
    # 1.0002e-4 against a 1e-4 bound (README.md:127-142) — same slack here
    err = np.max(np.abs(out.astype(np.float64) - v.astype(np.float64)))
    assert err <= max_error * 1.001


# --- FSST --------------------------------------------------------------------


def test_fsst_bytes_roundtrip_exact():
    data = (b"http://example.com/page " * 500) + bytes(range(256)) + b"\xff\xff escape"
    symbols = core.fsst_train(data)
    enc = core.fsst_encode_bytes(data, symbols)
    assert core.fsst_decode_bytes(enc, symbols) == data


def test_fsst_compresses_redundant_text():
    data = b"common crawl web page boilerplate header footer " * 200
    symbols = core.fsst_train(data)
    enc = core.fsst_encode_bytes(data, symbols)
    assert len(enc) < len(data) * 0.6


def test_fsst_empty():
    assert core.fsst_train(b"") == []
    assert core.fsst_encode_bytes(b"", []) == b""
    assert core.fsst_decode_bytes(b"", []) == b""


# --- selector ----------------------------------------------------------------


def test_selector_int_never_worse_than_candidates_full_trial():
    # on small chunks the selector trial-encodes fully -> result must equal
    # the min over all candidate codecs
    v = np.tile(np.array([5, 5, 5, 9], dtype=np.int64), 256)
    codec, payload, _ = select.select_and_encode_int(
        v, candidates=list(core.INT_CODECS)
    )
    sizes = {
        name: len(core.encode_int_chunk(v, name)[0]) for name in core.INT_CODECS
    }
    assert len(payload) == min(sizes.values())


def test_selector_bytes_min_size_on_low_card():
    # low-cardinality input: selector must consider dict/rle and land on the
    # min-size candidate (zstd legitimately wins at small chunk sizes)
    items = [b"en"] * 900 + [b"de"] * 100
    codec, payload, _ = select.select_and_encode_bytes(items)
    sizes = {
        name: len(core.encode_bytes_chunk(items, name)[0])
        for name in ("bytes_zstd", "bytes_dict", "bytes_rle")
    }
    assert len(payload) == min(sizes.values())
    assert len(payload) < len(core.encode_bytes_chunk(items, "bytes_raw")[0])


def test_selector_roundtrip_everything():
    for fixture, items in BYTES_FIXTURES.items():
        codec, payload, params = select.select_and_encode_bytes(items)
        out = core.decode_bytes_chunk(payload, codec, params, len(items))
        assert out == items, fixture
    for fixture, v in INT_FIXTURES.items():
        with np.errstate(over="ignore"):
            codec, payload, params = select.select_and_encode_int(v)
            out = core.decode_int_chunk(payload, codec, params, len(v))
        np.testing.assert_array_equal(out, v, err_msg=fixture)


def test_throughput_profile_selection_and_roundtrip():
    """profile='throughput' swaps the bulk entropy stage to lz4: high-card
    text picks bytes_lz4 (FSST dropped), low-card still lands on the
    min-size of its candidate set, floats use the lz4 byteplane — and every
    choice round-trips bit-identically."""
    items = BYTES_FIXTURES["prose"]
    codec, payload, params = select.select_and_encode_bytes(
        items, profile="throughput"
    )
    assert codec == "bytes_lz4"
    assert core.decode_bytes_chunk(payload, codec, params, len(items)) == items

    low = [b"en"] * 900 + [b"de"] * 100
    codec2, payload2, _ = select.select_and_encode_bytes(
        low, profile="throughput"
    )
    sizes = {
        name: len(core.encode_bytes_chunk(low, name)[0])
        for name in ("bytes_lz4", "bytes_dict", "bytes_rle")
    }
    assert len(payload2) == min(sizes.values())

    v = np.random.default_rng(1).normal(0, 1, 4096).astype(np.float32)
    codec3, payload3, params3 = select.select_and_encode_float(
        v, profile="throughput"
    )
    assert codec3 == "float_byteplane_lz4"
    out3 = core.decode_float_chunk(payload3, codec3, params3, len(v))
    np.testing.assert_array_equal(out3.view(np.uint8), v.view(np.uint8))

    # throughput trades ratio for speed on text — measurably, not wildly
    z = len(core.encode_bytes_chunk(items, "bytes_zstd")[0])
    l4 = len(core.encode_bytes_chunk(items, "bytes_lz4")[0])
    assert l4 < sum(len(x) for x in items)  # still compresses
    assert l4 >= z  # and zstd stays the ratio winner on prose


# --- error paths (reference: bad magic / size mismatch, cuszplus_f32.cu:582-636)


def test_corrupt_payload_raises():
    v = np.arange(1000, dtype=np.int64)
    payload, params = core.encode_int_chunk(v, "int_delta")
    with pytest.raises(Exception):
        core.decode_int_chunk(payload[: len(payload) // 2], "int_delta", params, 1000)


def test_wrong_codec_id_raises():
    v = np.arange(1000, dtype=np.int64)
    payload, params = core.encode_int_chunk(v, "int_delta")
    with pytest.raises(KeyError):
        core.decode_int_chunk(payload, "no_such_codec", params, 1000)


# --- Arrow buffer-extraction hardening ---------------------------------------


def test_bytes_ld_null_slots_with_extents():
    """A valid Arrow array may keep bytes under null slots; extraction must
    repack instead of misaligning every value after the null."""
    import pyarrow as pa

    from cuda_float_compress_spark.operators import chunks as C

    offsets = np.array([0, 3, 8, 12], dtype=np.int64)
    data = b"abcXXXXXdefg"  # null slot [3,8) holds junk bytes
    validity = pa.py_buffer(np.packbits([1, 0, 1], bitorder="little").tobytes())
    arr = pa.Array.from_buffers(
        pa.large_binary(), 3,
        [validity, pa.py_buffer(offsets.tobytes()), pa.py_buffer(data)],
        null_count=1,
    )
    lengths, d = core.bytes_ld(arr)
    assert list(lengths) == [3, -1, 4]
    assert bytes(d) == b"abcdefg"  # np-view data: compare by content
    codec, payload, params, n, n_nulls = C.encode_column_chunk(arr, "binary")
    out = C.decode_column_chunk(payload, codec, params, n, n_nulls, "binary")
    assert out.to_pylist() == [b"abc", None, b"defg"]


def test_bytes_ld_sliced_array():
    import pyarrow as pa

    arr = pa.array([b"aa", b"bbb", None, b"cccc", b"d"], type=pa.large_binary())
    sl = arr.slice(1, 3)
    lengths, d = core.bytes_ld(sl)
    assert list(lengths) == [3, -1, 4]
    assert bytes(d) == b"bbbcccc"


def test_list_float_nullable_roundtrip_arrow_native():
    """Nullable list<float32> chunks round-trip through the Arrow-native
    null re-insertion (validity bitmap + zero-length offsets at null slots
    — no to_pylist anywhere in the decode path)."""
    import pyarrow as pa

    from cuda_float_compress_spark.operators import chunks as C

    cases = [
        [[1.0, 2.5], None, [], [float("nan"), float("inf")], None, [-0.0]],
        [None, None, None],                      # all null
        [None, [9.0, 8.0, 7.0]],                 # leading null
        [[1.0], None],                           # trailing null
        [[0.5] * 7],                             # no nulls
    ]
    for vals in cases:
        arr = pa.array(vals, type=pa.list_(pa.float32()))
        codec, payload, params, n, n_nulls = C.encode_column_chunk(
            arr, "list_float32"
        )
        out = C.decode_column_chunk(
            payload, codec, params, n, n_nulls, "list_float32"
        )
        assert out.type == pa.list_(pa.float32())
        got, want = out.to_pylist(), arr.to_pylist()
        assert len(got) == len(want)
        for g, w in zip(got, want):
            if w is None:
                assert g is None
            else:
                assert len(g) == len(w)
                for gv, wv in zip(g, w):
                    assert (gv == wv) or (
                        gv != gv and wv != wv  # NaN == NaN for this check
                    )


def test_ptype_rejects_lossy_timestamps():
    import pyarrow as pa

    from cuda_float_compress_spark.operators import chunks as C

    with pytest.raises(TypeError):
        C.ptype_of(pa.timestamp("ns"))
    assert C.ptype_of(pa.timestamp("us")) == "timestamp_ntz"
    assert C.ptype_of(pa.timestamp("us", tz="UTC")) == "timestamp_us"
    # any tz is fine: Arrow tz-aware values are UTC-normalized instants by
    # spec (the tz string is display metadata — Spark stamps the session tz)
    assert C.ptype_of(pa.timestamp("us", tz="America/New_York")) == "timestamp_us"
