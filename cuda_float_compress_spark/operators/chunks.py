"""Typed column-chunk encode/decode: the bridge between Arrow record batches
and the codec tables in ``codecs/``. This module owns no codec. It maps an
Arrow type to the engine's ptype, hands the values to ``codecs.core`` and
lets ``codecs.select`` pick the codec; string/binary columns go in as
``core.bytes_ld``'s (lengths, data), read straight from the offsets+data
buffers with zero Python-object materialization (the Spark analog of the
reference's register-resident hot loop, src/cuszplus_f32.cu:375).

What it adds is engine-level: a crc32 per payload in the params, and null
handling — byte strings mark a null with length -1, other types wrap the
non-null payload in a zstd'd validity bitmap section, mirroring how the
reference keeps its format concerns (padding, header) out of the core
transform.
"""

from __future__ import annotations

import json

import numpy as np
import pyarrow as pa

from cuda_float_compress_spark.codecs import core, select

# ---------------------------------------------------------------------------
# ptype: the engine's logical type tag (stored per block row in the manifest)
# ---------------------------------------------------------------------------


def ptype_of(arrow_type: pa.DataType) -> str:
    if pa.types.is_string(arrow_type) or pa.types.is_large_string(arrow_type):
        return "string"
    if pa.types.is_binary(arrow_type) or pa.types.is_large_binary(arrow_type):
        return "binary"
    if pa.types.is_timestamp(arrow_type):
        # Spark TimestampType arrives tz-aware; TimestampNTZType naive.
        # Reject what the us-precision round-trip contract cannot represent
        # bit-identically (ns-unit would truncate)
        if arrow_type.unit != "us":
            raise TypeError(
                f"timestamp unit '{arrow_type.unit}' is not the codec's us "
                "domain (ns would truncate, s/ms would change the schema on "
                "decode); cast to us first"
            )
        # Arrow tz-aware timestamps store UTC-normalized instants by spec;
        # the tz string is DISPLAY metadata (Spark stamps the session tz on
        # Arrow batches). Instants round-trip bit-identical for ANY tz — the
        # decoded schema says UTC, which Spark re-renders in session tz.
        return "timestamp_us" if arrow_type.tz is not None else "timestamp_ntz"
    if pa.types.is_int64(arrow_type):
        return "int64"
    if pa.types.is_int32(arrow_type):
        return "int32"
    if pa.types.is_float32(arrow_type):
        return "float32"
    if pa.types.is_float64(arrow_type):
        return "float64"
    if pa.types.is_date32(arrow_type):
        return "date32"
    if (pa.types.is_list(arrow_type) or pa.types.is_large_list(arrow_type)) and (
        pa.types.is_float32(arrow_type.value_type)
    ):
        return "list_float32"
    raise TypeError(f"unsupported column type: {arrow_type}")


def arrow_type_for(ptype: str) -> pa.DataType:
    return {
        "string": pa.large_string(),
        "binary": pa.large_binary(),
        "timestamp_us": pa.timestamp("us", tz="UTC"),  # Spark TimestampType over Arrow
        "timestamp_ntz": pa.timestamp("us"),
        "int64": pa.int64(),
        "int32": pa.int32(),
        "float32": pa.float32(),
        "float64": pa.float64(),
        "date32": pa.date32(),
        "list_float32": pa.list_(pa.float32()),
    }[ptype]


# ---------------------------------------------------------------------------
# Arrow -> numpy extraction
# ---------------------------------------------------------------------------


def _numeric_values_and_validity(arr: pa.Array, np_dtype) -> tuple[np.ndarray, np.ndarray | None]:
    if arr.null_count:
        valid = np.array(arr.is_valid(), dtype=bool)
        vals = arr.drop_null().to_numpy(zero_copy_only=False).astype(np_dtype, copy=False)
        return vals, valid
    return arr.to_numpy(zero_copy_only=False).astype(np_dtype, copy=False), None


def _wrap_nulls(payload: bytes, valid: np.ndarray | None) -> bytes:
    if valid is None:
        return payload
    bitmap = np.packbits(valid, bitorder="little").tobytes()
    return core.pack_sections(core.zstd_compress(bitmap), payload)


def _unwrap_nulls(payload: bytes, n: int, n_nulls: int) -> tuple[bytes, np.ndarray | None]:
    if n_nulls == 0:
        return payload, None
    bm_buf, inner = core.unpack_sections(payload)
    bitmap = core.zstd_decompress(bm_buf, (n + 7) // 8)
    valid = np.unpackbits(
        np.frombuffer(bitmap, dtype=np.uint8), bitorder="little", count=n
    ).astype(bool)
    return inner, valid


# ---------------------------------------------------------------------------
# Column-chunk encode/decode
# ---------------------------------------------------------------------------


def string_prefix64(v) -> int | None:
    """Order-preserving 7-byte big-endian prefix of a string/bytes value, as
    a non-negative int64 — the zone-map domain for string columns. Monotone
    w.r.t. bytewise (UTF8String) order: s1 <= s2 implies prefix(s1) <=
    prefix(s2), so numeric [vmin, vmax] checks are conservatively sound for
    string predicates (chunks sharing a >7-byte prefix just don't prune)."""
    if v is None:
        return None
    b = v.encode("utf-8") if isinstance(v, str) else bytes(v)
    return int.from_bytes(b[:7].ljust(7, b"\x00"), "big")


#: zone-map key for NaN: one above +inf's key — Spark orders NaN GREATER
#: than every other double, so a chunk containing NaN must report a vmax
#: that satisfies any ">= x" predicate (pruning stays conservative)
FLOAT_KEY_NAN = 9218868437227405312 + 1  # key(+inf) + 1


def float_key64(v) -> int | None:
    """Order-preserving map float -> int64 matching SPARK's total order
    (NaN greatest, -0.0 == 0.0) — the zone-map domain for float columns.
    Positive floats map to their raw bit pattern; negatives reflect below
    zero so more-negative values get smaller keys."""
    import math
    import struct

    if v is None:
        return None
    v = float(v)
    if math.isnan(v):
        return FLOAT_KEY_NAN
    if v == 0.0:
        v = 0.0  # -0.0 and +0.0 compare equal: one key
    bits = struct.unpack(">q", struct.pack(">d", v))[0]
    return bits if bits >= 0 else -(bits + (1 << 63)) - 1


def raw_size_of(arr: pa.Array, ptype: str) -> int:
    """Logical uncompressed size (value bytes, nulls free) for ratio metrics."""
    if ptype in ("string", "binary"):
        # lengths-only: computing the size must not copy the data buffer
        lengths, _ = core.bytes_ld(arr, with_data=False)
        return int(np.where(lengths > 0, lengths, 0).sum())
    if ptype == "list_float32":
        flat = arr.flatten() if hasattr(arr, "flatten") else arr.values
        return 4 * len(flat) + 8 * len(arr)
    width = {"timestamp_us": 8, "timestamp_ntz": 8, "int64": 8, "int32": 4,
             "date32": 4, "float32": 4, "float64": 8}[ptype]
    return width * (len(arr) - arr.null_count)


def encode_column_chunk(
    arr: pa.Array, ptype: str, codec_override: str | None = None,
    profile: str = "ratio",
) -> tuple[str, bytes, str, int, int]:
    """-> (codec, payload, params_json, n, n_nulls).
    ``profile``: 'ratio' (default, zstd/FSST frontier) or 'throughput' (lz4
    bulk backend — see codecs/select.py). Selection only; decode reads the
    codec name from the manifest, so mixed-profile tables decode fine."""
    n = len(arr)
    n_nulls = arr.null_count

    if ptype in ("string", "binary"):
        lengths, data = core.bytes_ld(arr)
        codec = codec_override or select.select_bytes_codec(
            lengths, data, profile
        )
        payload, params = core.BYTES_CODECS[codec][0](lengths, data)
        return codec, payload, _params_with_crc(params, payload), n, n_nulls

    if ptype in ("timestamp_us", "timestamp_ntz", "int64", "int32", "date32"):
        np_in = {"timestamp_us": "datetime64[us]", "timestamp_ntz": "datetime64[us]",
                 "int64": np.int64, "int32": np.int32, "date32": "datetime64[D]"}[ptype]
        vals, valid = _numeric_values_and_validity(arr, np_in)
        vals = vals.astype(np.int64) if vals.dtype != np.int64 else vals
        if vals.dtype.kind == "M":
            vals = vals.view(np.int64)
        with np.errstate(over="ignore"):
            if codec_override:
                codec = codec_override
                payload, params = core.INT_CODECS[codec][0](vals)
            else:
                codec, payload, params = select.select_and_encode_int(vals)
        payload = _wrap_nulls(payload, valid)
        return codec, payload, _params_with_crc(params, payload), n, n_nulls

    if ptype in ("float32", "float64"):
        np_dtype = np.float32 if ptype == "float32" else np.float64
        vals, valid = _numeric_values_and_validity(arr, np_dtype)
        if codec_override:
            codec = codec_override
            payload, params = core.FLOAT_CODECS[codec][0](vals)
        else:
            codec, payload, params = select.select_and_encode_float(
                vals, profile=profile
            )
        payload = _wrap_nulls(payload, valid)
        return codec, payload, _params_with_crc(params, payload), n, n_nulls

    if ptype == "list_float32":
        return _encode_list_float(arr, n, n_nulls)

    raise TypeError(f"unsupported ptype: {ptype}")


def _params_with_crc(params: dict, payload: bytes) -> str:
    """Serialize codec params with a crc32 of the FINAL payload bytes.
    zstd/lz4 frames carry no content checksum here, so a storage bit-flip
    can otherwise decompress into silently-wrong values — fatal to the
    bit-identity contract at 100 TB. ~2 GB/s on this host over the
    compressed (5-6x smaller) bytes = a few percent of decode. Old tables
    without the key still decode (check is skipped)."""
    import zlib

    params = dict(params)
    params["_crc"] = zlib.crc32(payload)
    return json.dumps(params)


class BlockIntegrityError(ValueError):
    """A block payload failed its crc32 — storage corruption, not a bug in
    the codec. Subclasses ValueError so the existing error contract holds."""


def decode_column_chunk(
    payload: bytes, codec: str, params_json: str, n: int, n_nulls: int,
    ptype: str, verify: bool = True
) -> pa.Array:
    """Decode one column chunk. Corruption anywhere — bad params JSON,
    checksum mismatch, truncated/garbled compressed sections — raises
    ValueError (BlockIntegrityError for checksum failures), never
    OSError/KeyError/struct.error: a reader must be able to catch one
    exception type and report WHICH block is bad.

    ``verify=False`` skips the crc32 pass (AND the UTF-8 validation it
    licenses) for TRUSTED local reads — e.g. re-reading bytes this process
    just wrote, or a measured kernel floor. The default stays on: at
    100 TB, storage rot is a when, not an if."""
    try:
        return _decode_column_chunk(payload, codec, params_json, n, n_nulls,
                                    ptype, verify)
    except (ValueError, TypeError):
        raise
    except Exception as e:
        raise ValueError(
            f"corrupted block payload (codec={codec}, ptype={ptype}): "
            f"{type(e).__name__}: {e}"
        ) from e


def _decode_column_chunk(
    payload: bytes, codec: str, params_json: str, n: int, n_nulls: int,
    ptype: str, verify: bool = True
) -> pa.Array:
    try:
        params = json.loads(params_json)
    except json.JSONDecodeError as e:
        raise ValueError(f"corrupted block params: {e}") from e
    crc = params.pop("_crc", None)
    integrity_checked = not verify  # caller vouches when verify=False
    if crc is not None and verify:
        import zlib

        if zlib.crc32(payload) != crc:
            raise BlockIntegrityError(
                f"block payload crc32 mismatch (codec={codec}, "
                f"ptype={ptype}, n={n}) — storage corruption"
            )
        integrity_checked = True

    if ptype in ("string", "binary"):
        lengths, data = core.BYTES_CODECS[codec][1](payload, params, n)
        return core.ld_to_arrow(lengths, data, ptype,
                                validated=integrity_checked)

    if ptype in ("timestamp_us", "timestamp_ntz", "int64", "int32", "date32"):
        inner, valid = _unwrap_nulls(payload, n, n_nulls)
        vals = core.INT_CODECS[codec][1](inner, params, n - n_nulls)
        return _numeric_to_arrow(vals, valid, ptype, n)

    if ptype in ("float32", "float64"):
        inner, valid = _unwrap_nulls(payload, n, n_nulls)
        vals = core.FLOAT_CODECS[codec][1](inner, params, n - n_nulls)
        return _numeric_to_arrow(vals, valid, ptype, n)

    if ptype == "list_float32":
        return _decode_list_float(payload, params, n, n_nulls)

    raise TypeError(f"unsupported ptype: {ptype}")


def _numeric_to_arrow(vals: np.ndarray, valid: np.ndarray | None, ptype: str, n: int) -> pa.Array:
    at = arrow_type_for(ptype)
    if ptype in ("timestamp_us", "timestamp_ntz"):
        vals = vals.view("datetime64[us]")
    elif ptype == "date32":
        # astype, NOT view: datetime64[D] is 8 bytes — viewing an int32 days
        # array as it would halve the element count and scramble values
        vals = vals.astype("datetime64[D]")
    elif ptype == "int32":
        vals = vals.astype(np.int32)
    if valid is None:
        return pa.array(vals, type=at)
    full = np.zeros(n, dtype=vals.dtype)
    full[valid] = vals
    return pa.array(full, type=at, mask=~valid)


# --- list<float32> (embedding vectors): offsets + flat values ---------------


def _encode_list_float(arr: pa.Array, n: int, n_nulls: int):
    arr = arr.cast(pa.list_(pa.float32()))
    if n_nulls:
        valid = np.array(arr.is_valid(), dtype=bool)
        arr_nn = arr.drop_null()
    else:
        valid = None
        arr_nn = arr
    offsets = np.array(arr_nn.offsets, dtype=np.int64)
    lengths = np.diff(offsets)
    flat = arr_nn.flatten().to_numpy(zero_copy_only=False).astype(np.float32)
    len_payload, len_params = core.int_for_encode(lengths)
    val_codec, val_payload, val_params = select.select_and_encode_float(flat)
    payload = core.pack_sections(len_payload, val_payload)
    params = {
        "l_ref": len_params["ref"], "l_width": len_params["width"],
        "n_flat": int(len(flat)), "val_codec": val_codec, "val": val_params,
    }
    payload = _wrap_nulls(payload, valid)
    return (
        f"list_{val_codec}", payload, _params_with_crc(params, payload),
        n, n_nulls,
    )


def _decode_list_float(payload: bytes, params: dict, n: int, n_nulls: int) -> pa.Array:
    inner, valid = _unwrap_nulls(payload, n, n_nulls)
    len_buf, val_buf = core.unpack_sections(inner)
    n_nn = n - n_nulls
    lengths = core.int_for_decode(
        len_buf, {"ref": params["l_ref"], "width": params["l_width"]}, n_nn
    )
    flat = core.FLOAT_CODECS[params["val_codec"]][1](
        val_buf, params["val"], int(params["n_flat"])
    )
    offsets = np.zeros(n_nn + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:].view(np.int32)[:])
    nn_arr = pa.ListArray.from_arrays(
        pa.array(offsets, type=pa.int32()), pa.array(flat, type=pa.float32())
    )
    if valid is None:
        return nn_arr
    # re-insert nulls Arrow-natively: null slots get zero-length offsets and
    # a validity bitmap (mirrors core.ld_to_arrow for binary) — the old
    # to_pylist() + per-row loop was the only Python-per-row path left on
    # nullable embedding decode
    full_lengths = np.zeros(n, dtype=np.int64)
    full_lengths[valid] = lengths
    full_offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(full_lengths, out=full_offsets[1:].view(np.int32)[:])
    validity = pa.py_buffer(np.packbits(valid, bitorder="little").tobytes())
    return pa.Array.from_buffers(
        pa.list_(pa.float32()),
        n,
        [validity, pa.py_buffer(full_offsets.tobytes())],
        null_count=int(n_nulls),
        children=[pa.array(flat, type=pa.float32())],
    )
