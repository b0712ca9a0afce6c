"""Pure-numpy codec kernels for the per-column compression engine.

Lineage to the reference (/root/reference, catid/cuda_float_compress) — these
kernels re-express its computational core in vectorized numpy, re-designed
for Spark chunk execution rather than translated:

* delta predictor          -> ``delta_encode``/``delta_decode``
  (reference: per-thread ``q[i]-q[i-1]``, src/cuszplus_f32.cu:384-391)
* zigzag                   -> ``zigzag_encode``/``zigzag_decode``
  (reference: src/cuszplus_f32.cu:161-162)
* bit-plane transpose      -> ``bitpack``/``bitunpack`` (plane-major layout)
  (reference: interleave_words_* src/cuszplus_f32.cu:168-275 + cross-group
  interleave :396-428 — the plane-major layout is the same "all equal
  significance bits adjacent" idea, done once per chunk with numpy)
* per-group max-bit-width  -> ``max_bits`` width selection
  (reference: ENABLE_VARLEN_BITS, cpu_compress_test/cpu_compress_test.cpp:119-178)
* Zstd level-1 backend     -> ``zstd_compress``/``zstd_decompress`` via pyarrow
  (reference: src/cuszplus_f32.cu:551-554, ZSTD_COMPRESSION_LEVEL 1 :17)

New codecs the reference lacks but the north rule requires: dictionary, RLE,
FSST (public algorithm: Boncz, Neumann, Leis — "FSST: Fast Random Access
String Compression", VLDB 2020), frame-of-reference bit-packing, byte-plane
shuffle for floats.

Every codec is exact/lossless: ``decode(encode(x)) == x`` bit-identically.
An optional lossy float front-end (``quantize``) mirrors the reference's
error-bounded mode and is kept out of the default paths.

Chunk payloads are raw ``bytes``; codec name + params travel in the Spark
manifest columns (the reference packed them into a 12-byte header,
src/cuszplus_f32.cu:30-35 — manifest columns are the Spark-native analog).
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa

ZSTD_LEVEL = 1  # reference conclusion: level 1 fastest AND best on transposed data

# ---------------------------------------------------------------------------
# Backend: Zstd via pyarrow (bundled, no new dependency)
# ---------------------------------------------------------------------------


# module-level codec instances: pa.compress/pa.decompress construct a new
# Codec (and a zstd context) per call — measured 12% of large-frame
# decompress throughput on this host (1.25 vs 1.11 GB/s) and ~20 us per
# small frame. One instance per backend, reused for every chunk.
_ZSTD = pa.Codec("zstd", compression_level=ZSTD_LEVEL)
_LZ4 = pa.Codec("lz4")


def zstd_compress(buf: bytes, level: int = ZSTD_LEVEL) -> bytes:
    if len(buf) == 0:
        return b""
    codec = _ZSTD if level == ZSTD_LEVEL else pa.Codec(
        "zstd", compression_level=level
    )
    return codec.compress(buf, asbytes=True)


def zstd_decompress(buf: bytes, decompressed_size: int) -> bytes:
    if decompressed_size == 0:
        return b""
    return _ZSTD.decompress(
        buf, decompressed_size=decompressed_size, asbytes=True
    )


def lz4_compress(buf: bytes) -> bytes:
    """LZ4-frame backend for the throughput codec profile: the encode kernel
    is 71% inside zstd-1 on web text (BASELINE.md round-3 profiling), so the
    only way to a materially faster point on the ratio/GB-s frontier is a
    cheaper entropy stage — zstd's level knob can't go below its own match
    finder; lz4 can."""
    if len(buf) == 0:
        return b""
    return _LZ4.compress(buf, asbytes=True)


def lz4_decompress(buf: bytes, decompressed_size: int) -> bytes:
    if decompressed_size == 0:
        return b""
    return _LZ4.decompress(
        buf, decompressed_size=decompressed_size, asbytes=True
    )


# ---------------------------------------------------------------------------
# Section container: N length-prefixed byte sections in one payload
# ---------------------------------------------------------------------------


def pack_sections(*sections: bytes) -> bytes:
    head = struct.pack("<I", len(sections)) + b"".join(
        struct.pack("<Q", len(s)) for s in sections
    )
    return head + b"".join(sections)


def unpack_sections(buf: bytes) -> list[bytes]:
    (n,) = struct.unpack_from("<I", buf, 0)
    sizes = struct.unpack_from("<" + "Q" * n, buf, 4)
    out = []
    off = 4 + 8 * n
    for sz in sizes:
        out.append(buf[off : off + sz])
        off += sz
    return out


# ---------------------------------------------------------------------------
# Integer primitives
# ---------------------------------------------------------------------------


def zigzag_encode(v: np.ndarray) -> np.ndarray:
    """int64 -> uint64, sign to LSB so small magnitudes become small uints."""
    v = v.astype(np.int64, copy=False)
    out = v << np.int64(1)
    sign = v >> np.int64(63)
    out ^= sign
    return out.view(np.uint64)


def zigzag_decode(z: np.ndarray) -> np.ndarray:
    z = z.astype(np.uint64, copy=False)
    out = z >> np.uint64(1)
    sign = z & np.uint64(1)
    np.subtract(np.uint64(0), sign, out=sign)
    out ^= sign
    return out.view(np.int64)


def delta_encode(v: np.ndarray) -> tuple[int, np.ndarray]:
    """Previous-value predictor over the whole chunk. Returns (first, deltas)."""
    v = v.astype(np.int64, copy=False)
    if len(v) == 0:
        return 0, v
    # wraparound int64 arithmetic is fine: decode uses the same modular cumsum
    d = np.empty_like(v)
    d[0] = 0
    np.subtract(v[1:], v[:-1], out=d[1:])
    return int(v[0]), d


def delta_decode(first: int, d: np.ndarray) -> np.ndarray:
    if len(d) == 0:
        return d.astype(np.int64)
    out = np.cumsum(d.astype(np.int64, copy=False), dtype=np.int64)
    out += np.int64(first)
    return out


def max_bits(u: np.ndarray) -> int:
    """Bit width needed for the largest value (0 for an all-zero chunk)."""
    if len(u) == 0:
        return 0
    m = int(u.max())
    return m.bit_length()


def bitpack(u: np.ndarray, width: int) -> bytes:
    """Pack uint64 values at ``width`` bits, PLANE-MAJOR: all bit-k slices of
    the chunk are stored contiguously (the reference's bit-plane transpose +
    cross-group interleave collapsed into one numpy transpose). Plane-major
    makes the Zstd backend see long runs, same rationale as
    src/cuszplus_f32.cu:53-62."""
    n = len(u)
    if width == 0 or n == 0:
        return b""
    u = np.ascontiguousarray(u, dtype="<u8")
    ub = u.view(np.uint8).reshape(n, 8)  # little-endian value bytes
    row_bytes = (n + 7) // 8
    planes = np.empty((width, row_bytes), dtype=np.uint8)
    # byte-lane processing keeps the working set at O(n) bytes instead of a
    # full (n, 64) bit matrix; plane extraction is shift-mask + packbits,
    # all in numpy's C core
    for j in range((width + 7) // 8):
        lane = np.ascontiguousarray(ub[:, j])  # byte j of every value
        for b in range(min(8, width - 8 * j)):
            bits = (lane >> np.uint8(b)) & np.uint8(1)
            planes[8 * j + b] = np.packbits(bits, bitorder="little")
    return planes.tobytes()


def bitunpack(buf: bytes, width: int, n: int) -> np.ndarray:
    if width == 0 or n == 0:
        return np.zeros(n, dtype=np.uint64)
    row_bytes = (n + 7) // 8
    planes = np.frombuffer(buf, dtype=np.uint8).reshape(width, row_bytes)
    out_bytes = np.zeros((n, 8), dtype=np.uint8)  # little-endian value bytes
    for j in range((width + 7) // 8):
        take = min(8, width - 8 * j)
        stack = np.unpackbits(
            planes[8 * j : 8 * j + take], axis=1, count=n, bitorder="little"
        )  # (take, n)
        # combine each value's `take` bits into its byte j via shift-OR
        # (7x faster than packbits along the strided axis)
        acc = stack[0].copy()
        for b in range(1, take):
            acc |= stack[b] << np.uint8(b)
        out_bytes[:, j] = acc
    return out_bytes.view("<u8").reshape(n)


def rle_runs(v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Run-length split: (run_values, run_lengths)."""
    n = len(v)
    if n == 0:
        return v[:0], np.zeros(0, dtype=np.int64)
    change = np.flatnonzero(v[1:] != v[:-1])
    starts = np.concatenate(([0], change + 1))
    lengths = np.diff(np.concatenate((starts, [n])))
    return v[starts], lengths.astype(np.int64)


def rle_expand(values: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    return np.repeat(values, lengths)


def ragged_positions(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Flat positions of variable-length slots: ``starts[i] + j`` for
    ``j < lens[i]``, slot after slot. The one ragged-gather index (null
    repack, dictionary expansion, FSST symbol copy): a numpy gather with it
    replaces a per-value Python loop."""
    cs = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=cs[1:])
    within = np.arange(int(lens.sum()), dtype=np.int64) - np.repeat(cs, lens)
    return np.repeat(starts, lens) + within


# ---------------------------------------------------------------------------
# Integer codecs: encode(np.int64) -> (payload, params); decode inverse.
# params are JSON-safe scalars; n (value count) is carried by the manifest.
# ---------------------------------------------------------------------------


def _enc_uints(u: np.ndarray) -> tuple[bytes, int]:
    """FOR-style width select + plane-major bitpack + zstd. Returns
    (payload, width)."""
    w = max_bits(u)
    packed = bitpack(u, w)
    return zstd_compress(packed), w


def _dec_uints(buf: bytes, width: int, n: int) -> np.ndarray:
    row_bytes = (n + 7) // 8
    packed = zstd_decompress(buf, width * row_bytes)
    return bitunpack(packed, width, n)


def int_raw_encode(v: np.ndarray) -> tuple[bytes, dict]:
    body = v.astype(np.int64, copy=False).tobytes()
    return zstd_compress(body), {}


def int_raw_decode(payload: bytes, params: dict, n: int) -> np.ndarray:
    body = zstd_decompress(payload, n * 8)
    return np.frombuffer(body, dtype=np.int64).copy()


def int_for_encode(v: np.ndarray) -> tuple[bytes, dict]:
    """Frame-of-reference: u = v - min, then width-packed bit planes.
    Order-free sibling of the reference's delta predictor (SURVEY §2 op N)."""
    v = v.astype(np.int64, copy=False)
    if len(v) == 0:
        return b"", {"ref": 0, "width": 0}
    ref = int(v.min())
    u = (v - np.int64(ref)).view(np.uint64)
    body, w = _enc_uints(u)
    return body, {"ref": ref, "width": w}


def int_for_decode(payload: bytes, params: dict, n: int) -> np.ndarray:
    u = _dec_uints(payload, int(params["width"]), n)
    return (u.view(np.int64) + np.int64(params["ref"])).astype(np.int64)


def int_delta_encode(v: np.ndarray) -> tuple[bytes, dict]:
    """The literal reference integer pipeline, lossless: delta -> zigzag ->
    bit-plane pack -> zstd (src/cuszplus_f32.cu:384-428 + :551-554)."""
    first, d = delta_encode(v)
    z = zigzag_encode(d)
    body, w = _enc_uints(z)
    return body, {"first": first, "width": w}


def int_delta_decode(payload: bytes, params: dict, n: int) -> np.ndarray:
    z = _dec_uints(payload, int(params["width"]), n)
    d = zigzag_decode(z)
    return delta_decode(int(params["first"]), d)


def int_zz_encode(v: np.ndarray) -> tuple[bytes, dict]:
    """Zigzag + plane-major bitpack with NO predictor. Optimal when adjacent
    values are independent (quantized model weights): a delta predictor adds
    sqrt(2) noise, ~+0.5 bit/value — measured 3.28x vs 3.14x on the layered
    model-weight fixture. The reference froze delta offline
    (src/cuszplus_f32.cu:98-106); our selector re-makes the choice per chunk."""
    z = zigzag_encode(v.astype(np.int64, copy=False))
    body, w = _enc_uints(z)
    return body, {"width": w}


def int_zz_decode(payload: bytes, params: dict, n: int) -> np.ndarray:
    z = _dec_uints(payload, int(params["width"]), n)
    return zigzag_decode(z)


def int_rle_encode(v: np.ndarray) -> tuple[bytes, dict]:
    values, lengths = rle_runs(v.astype(np.int64, copy=False))
    vals_payload, vals_params = int_delta_encode(values)
    len_payload, len_params = int_for_encode(lengths)
    payload = pack_sections(vals_payload, len_payload)
    return payload, {
        "n_runs": len(values),
        "v_first": vals_params["first"],
        "v_width": vals_params["width"],
        "l_ref": len_params["ref"],
        "l_width": len_params["width"],
    }


def int_rle_decode(payload: bytes, params: dict, n: int) -> np.ndarray:
    vals_buf, len_buf = unpack_sections(payload)
    n_runs = int(params["n_runs"])
    values = int_delta_decode(
        vals_buf, {"first": params["v_first"], "width": params["v_width"]}, n_runs
    )
    lengths = int_for_decode(
        len_buf, {"ref": params["l_ref"], "width": params["l_width"]}, n_runs
    )
    return rle_expand(values, lengths)


def int_dict_encode(v: np.ndarray) -> tuple[bytes, dict]:
    v = v.astype(np.int64, copy=False)
    uniq, codes = np.unique(v, return_inverse=True)
    dict_payload, dict_params = int_delta_encode(uniq)  # sorted -> delta-friendly
    codes_payload, codes_params = int_for_encode(codes.astype(np.int64))
    payload = pack_sections(dict_payload, codes_payload)
    return payload, {
        "card": len(uniq),
        "d_first": dict_params["first"],
        "d_width": dict_params["width"],
        "c_ref": codes_params["ref"],
        "c_width": codes_params["width"],
    }


def int_dict_decode(payload: bytes, params: dict, n: int) -> np.ndarray:
    dict_buf, codes_buf = unpack_sections(payload)
    card = int(params["card"])
    uniq = int_delta_decode(
        dict_buf, {"first": params["d_first"], "width": params["d_width"]}, card
    )
    codes = int_for_decode(
        codes_buf, {"ref": params["c_ref"], "width": params["c_width"]}, n
    )
    return uniq[codes]


def int_dod_encode(v: np.ndarray) -> tuple[bytes, dict]:
    """Delta-of-delta (Gorilla-style, public algorithm): second differences
    of near-regularly-spaced values (crawl timestamps) are near-zero, so the
    bit-plane pack collapses. Exact inverse via double cumsum."""
    v = v.astype(np.int64, copy=False)
    if len(v) == 0:
        return b"", {"first": 0, "d_first": 0, "width": 0}
    first, d = delta_encode(v)
    d_first, dd = delta_encode(d)
    z = zigzag_encode(dd)
    body, w = _enc_uints(z)
    return body, {"first": first, "d_first": d_first, "width": w}


def int_dod_decode(payload: bytes, params: dict, n: int) -> np.ndarray:
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    z = _dec_uints(payload, int(params["width"]), n)
    dd = zigzag_decode(z)
    d = delta_decode(int(params["d_first"]), dd)
    return delta_decode(int(params["first"]), d)


def int_patched_encode(v: np.ndarray) -> tuple[bytes, dict]:
    """Patched frame-of-reference (FastPFor-style): pack everything at the
    99th-percentile width; outliers keep their low bits in place and park
    their high bits in an exception list. Direct descendant of the
    reference's ENABLE_EXCEPTION_LIST experiment
    (cpu_compress_test/cpu_compress_test.cpp:36-39,138-177), which it
    rejected for GPU complexity (src/cuszplus_f32.cu:107-108) — cheap in
    numpy, and exactly right for one-outlier chunks."""
    v = v.astype(np.int64, copy=False)
    n = len(v)
    if n == 0:
        return b"", {"ref": 0, "width": 0, "n_exc": 0}
    ref = int(v.min())
    u = (v - np.int64(ref)).view(np.uint64)
    w_full = max_bits(u)
    # width covering 99% of values (bit_length of the p99 value)
    w = int(np.partition(u, max(0, int(n * 0.99) - 1))[max(0, int(n * 0.99) - 1)]).bit_length()
    if w >= w_full:
        w = w_full
        exc_idx = np.zeros(0, dtype=np.int64)
    else:
        exc_idx = np.flatnonzero(u >> np.uint64(w)).astype(np.int64)
    low = u & np.uint64((1 << w) - 1 if w else 0)
    body = zstd_compress(bitpack(low, w))
    if len(exc_idx):
        idx_payload, idx_params = int_delta_encode(exc_idx)
        high = (u[exc_idx] >> np.uint64(w)).view(np.int64)
        high_payload, high_params = int_for_encode(high)
        payload = pack_sections(body, idx_payload, high_payload)
        return payload, {
            "ref": ref, "width": w, "n_exc": int(len(exc_idx)),
            "i_first": idx_params["first"], "i_width": idx_params["width"],
            "h_ref": high_params["ref"], "h_width": high_params["width"],
        }
    return pack_sections(body), {"ref": ref, "width": w, "n_exc": 0}


def int_patched_decode(payload: bytes, params: dict, n: int) -> np.ndarray:
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    sections = unpack_sections(payload)
    w = int(params["width"])
    row_bytes = (n + 7) // 8
    u = bitunpack(zstd_decompress(sections[0], w * row_bytes), w, n)
    n_exc = int(params["n_exc"])
    if n_exc:
        exc_idx = int_delta_decode(
            sections[1], {"first": params["i_first"], "width": params["i_width"]}, n_exc
        )
        high = int_for_decode(
            sections[2], {"ref": params["h_ref"], "width": params["h_width"]}, n_exc
        ).view(np.uint64)
        u[exc_idx] |= high << np.uint64(w)
    return (u.view(np.int64) + np.int64(params["ref"])).astype(np.int64)


INT_CODECS = {
    "int_raw": (int_raw_encode, int_raw_decode),
    "int_for": (int_for_encode, int_for_decode),
    "int_zz": (int_zz_encode, int_zz_decode),
    "int_delta": (int_delta_encode, int_delta_decode),
    "int_rle": (int_rle_encode, int_rle_decode),
    "int_dict": (int_dict_encode, int_dict_decode),
    "int_patched": (int_patched_encode, int_patched_decode),
    "int_dod": (int_dod_encode, int_dod_decode),
}


def encode_int_chunk(v: np.ndarray, codec: str) -> tuple[bytes, dict]:
    return INT_CODECS[codec][0](v)


def decode_int_chunk(payload: bytes, codec: str, params: dict, n: int) -> np.ndarray:
    return INT_CODECS[codec][1](payload, params, n)


# ---------------------------------------------------------------------------
# FSST — Fast Static Symbol Table (public algorithm, VLDB 2020).
# Simplified from-scratch implementation: up to 255 symbols of 1..8 bytes
# built from a sample by iterative pair-merging; greedy longest-match encode;
# code 255 = escape marker followed by one literal byte.
# ---------------------------------------------------------------------------

_FSST_ESCAPE = 255
_FSST_MAX_SYMBOLS = 255
_FSST_MAX_LEN = 8
_FSST_GENERATIONS = 4
_FSST_SAMPLE = 1 << 16


_FSST_MASKS = np.array(
    [(1 << (8 * ln)) - 1 if ln < 8 else (1 << 64) - 1 for ln in range(9)],
    dtype=np.uint64,
)


def _fsst_windows64(arr: np.ndarray) -> np.ndarray:
    """w64[i] = little-endian uint64 of arr[i:i+8] (zero-padded past the
    end) — the shared match substrate for encode AND training. Built from 8
    strided uint64 VIEWS of the padded buffer (words starting at byte offset
    j land at positions j, j+8, ...), one copy pass total — the 8
    astype(uint64)+shift version cost ~40% of encode wall time."""
    n = len(arr)
    m = (n + 7) // 8 + 1
    pad = np.zeros(8 * m + 8, dtype=np.uint8)
    pad[:n] = arr
    out = np.empty(8 * m, dtype=np.uint64)
    for j in range(8):
        out[j::8] = pad[j : j + 8 * m].view("<u8")
    return out[:n]


def _fsst_longest_match(
    w64: np.ndarray, n: int, symbols: list[bytes]
) -> tuple[np.ndarray, np.ndarray]:
    """Greedy longest-match per position against the symbol table: a
    length-l symbol matches where (window & mask_l) ∈ {that length's symbol
    words} (exact — l ≤ 8 bytes fit the uint64). Returns (match_len,
    match_code); positions with no match have len 0 / code ESCAPE."""
    by_len: dict[int, list[tuple[int, int]]] = {}
    for code, s in enumerate(symbols):
        word = int.from_bytes(s.ljust(8, b"\0"), "little")
        by_len.setdefault(len(s), []).append((word, code))
    match_len = np.zeros(n, dtype=np.int64)
    match_code = np.full(n, _FSST_ESCAPE, dtype=np.uint8)
    # only still-unmatched positions are probed at each (shorter) length, so
    # total work shrinks as longer symbols claim positions (on text-heavy
    # data most positions match within the first two lengths)
    unmatched = None  # None = all positions (skip the gather on round 1)
    for length in sorted(by_len, reverse=True):  # longest first
        pairs = sorted(by_len[length])
        keys = np.array([p[0] for p in pairs], dtype=np.uint64)
        codes = np.array([p[1] for p in pairs], dtype=np.uint8)
        sub = w64 if unmatched is None else w64[unmatched]
        masked = sub & _FSST_MASKS[length]
        # membership via searchsorted against the (tiny) sorted key set:
        # O(n log k). np.isin would sort the n-element array per length —
        # the encode hot-spot in profiling.
        pos = np.searchsorted(keys, masked)
        np.minimum(pos, len(keys) - 1, out=pos)
        hit = keys[pos] == masked
        if length > 1:  # don't match past the end of data
            if unmatched is None:
                hit[n - length + 1 :] = False
            else:
                hit &= unmatched <= n - length
        if unmatched is None:
            if hit.any():
                match_len[hit] = length
                match_code[hit] = codes[pos[hit]]
            unmatched = np.flatnonzero(~hit)
        else:
            if hit.any():
                at = unmatched[hit]
                match_len[at] = length
                match_code[at] = codes[pos[hit]]
            unmatched = unmatched[~hit]
        if len(unmatched) == 0:
            break
    return match_len, match_code


def _unique_token_counts(words: np.ndarray, lens: np.ndarray):
    """(unique_word, unique_len, count) over (word, len) token keys — the
    length must be part of the key because a short token and a longer token
    with trailing NUL bytes share the same masked word."""
    k = len(words)
    order = np.lexsort((lens, words))
    sw, sl = words[order], lens[order]
    boundary = np.ones(k, dtype=bool)
    boundary[1:] = (sw[1:] != sw[:-1]) | (sl[1:] != sl[:-1])
    idx = np.flatnonzero(boundary)
    counts = np.diff(np.append(idx, k))
    return sw[idx], sl[idx], counts.astype(np.int64)


def fsst_train(sample: bytes) -> list[bytes]:
    """Build a symbol table from a byte sample by iterative concatenation of
    the most valuable symbols (gain = (len-1) * freq), FSST-paper style.

    Fully vectorized: each generation tokenizes the sample with the SAME
    longest-match + chain-parse machinery the encoder uses
    (:func:`_fsst_longest_match` / :func:`_parse_chain_segmented`), then
    counts token and adjacent-pair frequencies with one lexsort each — no
    per-position Python (the old greedy dict-walk was the last interpreted
    loop on the encode hot path)."""
    if len(sample) == 0:  # len(), not truthiness: sample may be an np view
        return []
    sample = sample[:_FSST_SAMPLE]
    arr = np.frombuffer(sample, dtype=np.uint8)
    n = len(arr)
    # generation 0: most frequent single bytes
    counts = np.bincount(arr, minlength=256)
    symbols = [bytes([b]) for b in np.argsort(counts)[::-1][:64] if counts[b] > 0]
    w64 = _fsst_windows64(arr)
    positions = np.arange(n, dtype=np.int64)
    for _ in range(_FSST_GENERATIONS):
        match_len, _ = _fsst_longest_match(w64, n, symbols)
        step = np.maximum(match_len, 1)
        path = _parse_chain_segmented(positions + step, n)
        tlen = step[path]
        words = w64[path] & _FSST_MASKS[tlen]
        uw, ul, ucnt = _unique_token_counts(words, tlen)
        # gain: (len-1)*freq for multi-byte symbols, freq for single bytes
        # (so frequent literals stay in the table as 1-byte symbols)
        gain_tok = np.where(ul > 1, (ul - 1) * ucnt, ucnt)
        # adjacent-pair concatenations that still fit 8 bytes
        clen = tlen[:-1] + tlen[1:]
        keep = clen <= _FSST_MAX_LEN
        if keep.any():
            shift = (tlen[:-1][keep] * 8).astype(np.uint64)
            cw = words[:-1][keep] | (words[1:][keep] << shift)
            pw, pl, pcnt = _unique_token_counts(cw, clen[keep])
            gain_pair = (pl - 1) * pcnt
            allw = np.concatenate([uw, pw])
            alll = np.concatenate([ul, pl])
            allg = np.concatenate([gain_tok, gain_pair])
        else:
            allw, alll, allg = uw, ul, gain_tok
        # max gain per (word, len) key (a pair may also exist as a symbol)
        order = np.lexsort((alll, allw))
        sw, sl, sg = allw[order], alll[order], allg[order]
        boundary = np.ones(len(sw), dtype=bool)
        boundary[1:] = (sw[1:] != sw[:-1]) | (sl[1:] != sl[:-1])
        idx = np.flatnonzero(boundary)
        gmax = np.maximum.reduceat(sg, idx)
        kw, kl = sw[idx], sl[idx]
        # rank by gain desc; ties break on (word, len) ascending so the
        # table is deterministic for identical samples
        top = np.lexsort((kl, kw, -gmax))[:_FSST_MAX_SYMBOLS]
        symbols = [
            int(kw[i]).to_bytes(8, "little")[: int(kl[i])] for i in top
        ]
    return symbols




def _parse_chain_segmented(nxt: np.ndarray, n: int, seg: int = 1 << 13) -> np.ndarray:
    """Positions of the chain 0 -> nxt[0] -> nxt[nxt[0]] -> ... (< n),
    extracted per 64K-position segment with pointer doubling. Invariant per
    round: path holds the first 2^k chain positions of the segment (all
    distinct, ascending) and jump advances 2^k tokens, so jump[path] is
    exactly the next block of the chain — no dedup or sort needed."""
    chunks = []
    pos = 0
    while pos < n:
        length = min(seg, n - pos)
        local = nxt[pos : pos + length] - pos
        jump = np.minimum(np.append(local, length), length)  # sentinel = length
        path = np.array([0], dtype=np.int64)
        while True:
            stepped = jump[path]
            new = stepped[stepped < length]
            if len(new) == 0:
                break
            path = np.concatenate([path, new])
            jump = jump[jump]  # squaring: now advances twice as many tokens
        chunks.append(path + pos)
        # the chain leaves this segment from its last in-segment position
        pos = int(nxt[pos + path[-1]])
    return np.concatenate(chunks) if chunks else np.zeros(0, dtype=np.int64)




def fsst_encode_bytes(data: bytes, symbols: list[bytes]) -> bytes:
    """Vectorized greedy longest-match FSST encode.

    1. Exact longest-match per position: view every 8-byte window as a
       little-endian uint64; a length-l symbol matches where
       (window & mask_l) ∈ {that length's symbol words} (np.isin, exact —
       no hash collisions since l ≤ 8 bytes fit the word).
    2. The greedy parse (jump len(match) or 1) is a single out-degree-1
       chain; its position set is extracted with pointer-doubling
       (O(log n) numpy passes), not a per-byte Python loop.
    """
    n = len(data)
    if n == 0:
        return b""
    if not symbols:
        out = np.empty(2 * n, dtype=np.uint8)
        out[0::2] = _FSST_ESCAPE
        out[1::2] = np.frombuffer(data, dtype=np.uint8)
        return out.tobytes()

    arr = np.frombuffer(data, dtype=np.uint8)
    w64 = _fsst_windows64(arr)
    match_len, match_code = _fsst_longest_match(w64, n, symbols)

    # greedy parse: next[i] = i + max(match_len[i], 1); the parse positions
    # are the chain from 0 under next[], extracted segment-locally with
    # pointer doubling (cache-resident gathers; see _parse_chain_segmented).
    step = np.maximum(match_len, 1)
    nxt = np.arange(n, dtype=np.int64) + step
    path = _parse_chain_segmented(nxt, n)
    tok_len = match_len[path]
    is_sym = tok_len > 0
    out_sizes = np.where(is_sym, 1, 2)
    offsets = np.zeros(len(path) + 1, dtype=np.int64)
    np.cumsum(out_sizes, out=offsets[1:])
    out = np.empty(offsets[-1], dtype=np.uint8)
    out[offsets[:-1][is_sym]] = match_code[path[is_sym]]
    esc_off = offsets[:-1][~is_sym]
    out[esc_off] = _FSST_ESCAPE
    out[esc_off + 1] = arr[path[~is_sym]]
    return out.tobytes()


def fsst_decode_bytes(enc: bytes, symbols: list[bytes]) -> bytes:
    """Vectorized decode, single O(n) pass — no chain walk.

    Token starts are computable directly: a byte is NOT a token start iff it
    is the literal of an escape. Escapes are exactly the even-offset bytes of
    every maximal run of 0xFF: the first byte of such a run is always a start
    (the byte before it is non-0xFF, hence never an escape), and within a run
    escape/literal strictly alternate. One parity test per byte replaces the
    O(log n) gather rounds of the old pointer-doubling walk.
    """
    n = len(enc)
    if n == 0:
        return b""
    codes = np.frombuffer(enc, dtype=np.uint8)
    m = codes == _FSST_ESCAPE
    run_start = m.copy()
    run_start[1:] &= ~m[:-1]
    run_id = np.cumsum(run_start) - 1  # meaningful only where m
    rs_pos = np.flatnonzero(run_start)
    if len(rs_pos):
        pos_in_run = np.arange(n, dtype=np.int64) - rs_pos[np.maximum(run_id, 0)]
        is_escape = m & (pos_in_run % 2 == 0)
    else:
        is_escape = m  # no 0xFF bytes at all
    not_start = np.empty(n, dtype=bool)
    not_start[0] = False
    not_start[1:] = is_escape[:-1]
    starts = np.flatnonzero(~not_start)

    tok = codes[starts]
    sym_lens = np.zeros(256, dtype=np.int64)
    sym_mat = np.zeros((256, _FSST_MAX_LEN), dtype=np.uint8)
    for c, s in enumerate(symbols):
        sym_lens[c] = len(s)
        sym_mat[c, : len(s)] = np.frombuffer(s, dtype=np.uint8)
    is_esc = tok == _FSST_ESCAPE
    lens = np.where(is_esc, 1, sym_lens[tok])
    offsets = np.zeros(len(starts) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    out = np.empty(offsets[-1], dtype=np.uint8)
    # literals: one scatter
    esc_out = offsets[:-1][is_esc]
    out[esc_out] = codes[np.minimum(starts[is_esc] + 1, n - 1)]
    # symbols: one ragged gather from the flat symbol matrix, no per-code loop
    ne_len = lens[~is_esc]
    out[ragged_positions(offsets[:-1][~is_esc], ne_len)] = sym_mat.ravel()[
        ragged_positions(tok[~is_esc].astype(np.int64) * _FSST_MAX_LEN, ne_len)
    ]
    return out.tobytes()


def fsst_serialize_table(symbols: list[bytes]) -> bytes:
    return pack_sections(*symbols) if symbols else pack_sections()


def fsst_deserialize_table(buf: bytes) -> list[bytes]:
    return unpack_sections(buf)


# ---------------------------------------------------------------------------
# Byte-string codecs. The codec domain is (lengths, data): lengths is int64
# per value (-1 for null), data the non-null values concatenated, both taken
# straight from Arrow buffers by ``bytes_ld``. Lengths go through the integer
# delta codec; data through zstd / lz4 / fsst+zstd / dict / rle. The list
# API (``encode_bytes_chunk``/``decode_bytes_chunk``) adapts list[bytes |
# None] through Arrow onto the same table, so the wire format has one home.
# ---------------------------------------------------------------------------

_EMPTY_U8 = np.empty(0, dtype=np.uint8)


def bytes_ld(arr: pa.Array, with_data: bool = True) -> tuple[np.ndarray, object]:
    """(lengths[-1=null], concatenated data) from a string/binary array,
    via buffers (no per-item Python objects). ``data`` is a ZERO-COPY
    np.uint8 view into the Arrow buffer whenever the values are already
    contiguous (a fresh copy only on the null-slots-hold-bytes repack
    path) — every consumer (zstd/lz4 via pa.Codec, pack_sections' join,
    np.frombuffer, pa.py_buffer) takes buffer-protocol objects, so a
    per-column ``.tobytes()`` copy would be pure overhead on the encode
    hot path. ``with_data=False`` skips the data entirely (lengths-only
    callers like raw_size_of)."""
    if not (
        pa.types.is_large_string(arr.type) or pa.types.is_large_binary(arr.type)
    ):
        arr = arr.cast(
            pa.large_string() if pa.types.is_string(arr.type) else pa.large_binary()
        )
    if isinstance(arr, pa.ChunkedArray):
        # chunk(0) is zero-copy; combine_chunks copies even for one chunk
        arr = arr.chunk(0) if arr.num_chunks == 1 else arr.combine_chunks()
    n = len(arr)
    bufs = arr.buffers()
    offsets = np.frombuffer(bufs[1], dtype=np.int64, count=n + 1, offset=arr.offset * 8)
    lengths = np.diff(offsets).astype(np.int64)
    data_buf = bufs[2]
    if arr.null_count:
        valid = np.array(arr.is_valid(), dtype=bool)
        if (lengths[~valid] != 0).any():
            marked = np.where(valid, lengths, -1)
            if not with_data:
                return marked, None
            # a VALID Arrow array may keep bytes under null slots (sliced /
            # externally-built buffers); slicing offsets[0]:offsets[-1] would
            # then misalign every value after the null — repack instead
            data = np.frombuffer(data_buf, dtype=np.uint8)[
                ragged_positions(offsets[:-1][valid], lengths[valid])
            ]
            return marked, data
        lengths = np.where(valid, lengths, -1)
    if not with_data:
        return lengths, None
    if data_buf is not None and offsets[-1] > offsets[0]:
        data = np.frombuffer(data_buf, dtype=np.uint8)[
            offsets[0] : offsets[-1]
        ]
    else:
        data = _EMPTY_U8
    return lengths, data


def ld_to_arrow(lengths: np.ndarray, data: bytes, ptype: str,
                validated: bool = True) -> pa.Array:
    """Inverse of ``bytes_ld``: a large_string (``ptype='string'``) or
    large_binary array over (lengths, data), built from buffers."""
    sizes = np.where(lengths >= 0, lengths, 0).astype(np.int64)
    offsets = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(sizes, out=offsets[1:])
    null_mask = lengths < 0
    validity = None
    if null_mask.any():
        validity = pa.py_buffer(np.packbits(~null_mask, bitorder="little").tobytes())
    # large_string shares large_binary's buffer layout; building it directly
    # skips the cast's UTF8 validation pass (~13% of the 1-core decode floor).
    # Safe WHEN the payload's integrity was established (crc32 verified, or
    # the caller opted out for a trusted read): the data buffer is then our
    # own encoder's output, which only ever stored bytes from a valid Arrow
    # string column. LEGACY tables carry no crc — there a storage bit-flip
    # could otherwise smuggle invalid UTF-8 into an Arrow string array, so
    # the validating cast stays on that path (validated=False).
    if ptype == "string" and not validated:
        binary = pa.Array.from_buffers(
            pa.large_binary(), len(lengths),
            [validity, pa.py_buffer(offsets), pa.py_buffer(data)],
            null_count=int(null_mask.sum()),
        )
        return binary.cast(pa.large_string())  # raises ArrowInvalid on rot
    at = pa.large_string() if ptype == "string" else pa.large_binary()
    return pa.Array.from_buffers(
        at,
        len(lengths),
        # py_buffer(offsets) wraps the numpy array zero-copy (and holds a
        # reference); .tobytes() would add a full extra pass over offsets
        [validity, pa.py_buffer(offsets), pa.py_buffer(data)],
        null_count=int(null_mask.sum()),
    )


def _lengths_encode(lengths: np.ndarray) -> tuple[bytes, dict]:
    """The lengths section every byte-string codec leads with."""
    payload, params = int_delta_encode(lengths)
    return payload, {"l_first": params["first"], "l_width": params["width"]}


def _lengths_decode(buf: bytes, params: dict, n: int) -> np.ndarray:
    return int_delta_decode(
        buf, {"first": params["l_first"], "width": params["l_width"]}, n
    )


def _bulk_codec(compress, decompress):
    """(encode, decode) of lengths + one compressed data section: bytes_zstd
    and bytes_lz4 (the throughput profile's backend: ~3-5x faster entropy
    stage for ~15-25% worse ratio on web text)."""
    def encode(lengths, data):
        len_payload, params = _lengths_encode(lengths)
        payload = pack_sections(len_payload, compress(data))
        return payload, {**params, "data_size": len(data)}

    def decode(payload, params, n):
        len_buf, data_buf = unpack_sections(payload)
        return (_lengths_decode(len_buf, params, n),
                decompress(data_buf, int(params["data_size"])))

    return encode, decode


_zstd_encode, _zstd_decode = _bulk_codec(zstd_compress, zstd_decompress)


def _fsst_encode(lengths, data):
    symbols = fsst_train(data)
    enc = fsst_encode_bytes(data, symbols)
    len_payload, params = _lengths_encode(lengths)
    payload = pack_sections(
        len_payload, fsst_serialize_table(symbols), zstd_compress(enc)
    )
    return payload, {**params, "enc_size": len(enc), "data_size": len(data)}


def _fsst_decode(payload, params, n):
    len_buf, table_buf, enc_buf = unpack_sections(payload)
    symbols = fsst_deserialize_table(table_buf)
    enc = zstd_decompress(enc_buf, int(params["enc_size"]))
    return _lengths_decode(len_buf, params, n), fsst_decode_bytes(enc, symbols)


def _raw_encode(lengths, data):
    len_payload, params = _lengths_encode(lengths)
    return pack_sections(len_payload, data), params


def _raw_decode(payload, params, n):
    len_buf, data = unpack_sections(payload)
    return _lengths_decode(len_buf, params, n), data


def _dict_section_encode(lengths, data) -> tuple[bytes, dict, np.ndarray]:
    """The dictionary section of bytes_dict/bytes_rle: factorize through
    Arrow's dictionary_encode (C++, first-seen order), store the distinct
    values as a bytes_zstd chunk under ``d_``-prefixed params. Returns
    (payload, params, codes) with codes 0 = null, 1..card."""
    dd = ld_to_arrow(lengths, data, "binary").dictionary_encode()
    ind = dd.indices.fill_null(-1) if dd.indices.null_count else dd.indices
    codes = ind.to_numpy(zero_copy_only=False).astype(np.int64) + 1
    payload, params = _zstd_encode(*bytes_ld(dd.dictionary))
    params = {"card": len(dd.dictionary),
              **{f"d_{k}": v for k, v in params.items()}}
    return payload, params, codes


def _dict_section_decode(buf, params, codes) -> tuple[np.ndarray, object]:
    """Expand dictionary codes (0 = null, 1..card) to (lengths, data) with
    one ragged gather — no per-value Python."""
    u_lengths, u_data = _zstd_decode(
        buf, {k[2:]: v for k, v in params.items() if k.startswith("d_")},
        int(params["card"]),
    )
    if len(u_lengths) == 0:  # all-null chunk: empty dictionary, every code 0
        return np.full(len(codes), -1, dtype=np.int64), b""
    lengths = np.where(codes == 0, -1, u_lengths[np.maximum(codes - 1, 0)])
    sel = codes[codes > 0] - 1
    u_starts = np.cumsum(u_lengths) - u_lengths
    data = np.frombuffer(u_data, dtype=np.uint8)[
        ragged_positions(u_starts[sel], u_lengths[sel])
    ]
    return lengths, data


def _dict_encode(lengths, data):
    dict_payload, params, codes = _dict_section_encode(lengths, data)
    codes_payload, codes_params = int_for_encode(codes)
    params.update(c_ref=codes_params["ref"], c_width=codes_params["width"])
    return pack_sections(dict_payload, codes_payload), params


def _dict_decode(payload, params, n):
    dict_buf, codes_buf = unpack_sections(payload)
    codes = int_for_decode(
        codes_buf, {"ref": params["c_ref"], "width": params["c_width"]}, n
    )
    return _dict_section_decode(dict_buf, params, codes)


def _rle_encode(lengths, data):
    """Dictionary + RLE on the code stream — the low-cardinality path for
    columns like ``lang`` (sorted-within-partition input makes long runs)."""
    dict_payload, params, codes = _dict_section_encode(lengths, data)
    codes_payload, params["r"] = int_rle_encode(codes)
    return pack_sections(dict_payload, codes_payload), params


def _rle_decode(payload, params, n):
    dict_buf, codes_buf = unpack_sections(payload)
    codes = int_rle_decode(codes_buf, params["r"], n)
    return _dict_section_decode(dict_buf, params, codes)


#: name -> (encode(lengths, data) -> (payload, params),
#:          decode(payload, params, n) -> (lengths, data)). Param keys and
#: their order are part of the stored format (the params JSON is per chunk).
BYTES_CODECS = {
    "bytes_raw": (_raw_encode, _raw_decode),
    "bytes_zstd": (_zstd_encode, _zstd_decode),
    "bytes_lz4": _bulk_codec(lz4_compress, lz4_decompress),
    "bytes_fsst": (_fsst_encode, _fsst_decode),
    "bytes_dict": (_dict_encode, _dict_decode),
    "bytes_rle": (_rle_encode, _rle_decode),
}


def encode_bytes_chunk(items: list, codec: str) -> tuple[bytes, dict]:
    return BYTES_CODECS[codec][0](*bytes_ld(pa.array(items, pa.large_binary())))


def decode_bytes_chunk(payload: bytes, codec: str, params: dict, n: int) -> list:
    lengths, data = BYTES_CODECS[codec][1](payload, params, n)
    return ld_to_arrow(lengths, data, "binary").to_pylist()


# ---------------------------------------------------------------------------
# Float codecs (lossless by default). float32/float64 arrays.
# ---------------------------------------------------------------------------


def float_byteplane_encode(v: np.ndarray) -> tuple[bytes, dict]:
    """Byte-plane shuffle (transpose bytes so equal-significance bytes are
    adjacent) + zstd — the byte-granularity analog of the reference's bit-plane
    interleave (src/cuszplus_f32.cu:243-275 is its 8-bit variant)."""
    itemsize = v.dtype.itemsize
    b = v.tobytes()
    mat = np.frombuffer(b, dtype=np.uint8).reshape(-1, itemsize)
    shuffled = mat.T.copy().tobytes()
    return zstd_compress(shuffled), {"itemsize": itemsize, "dtype": str(v.dtype)}


def float_byteplane_decode(payload: bytes, params: dict, n: int) -> np.ndarray:
    itemsize = int(params["itemsize"])
    raw = zstd_decompress(payload, n * itemsize)
    mat = np.frombuffer(raw, dtype=np.uint8).reshape(itemsize, n)
    return np.frombuffer(mat.T.copy().tobytes(), dtype=np.dtype(params["dtype"])).copy()


def float_raw_encode(v: np.ndarray) -> tuple[bytes, dict]:
    return zstd_compress(v.tobytes()), {
        "itemsize": v.dtype.itemsize,
        "dtype": str(v.dtype),
    }


def float_raw_decode(payload: bytes, params: dict, n: int) -> np.ndarray:
    raw = zstd_decompress(payload, n * int(params["itemsize"]))
    return np.frombuffer(raw, dtype=np.dtype(params["dtype"])).copy()


def float_quantize_encode(
    v: np.ndarray, max_error: float = 1e-4
) -> tuple[bytes, dict]:
    """Lossy, error-bounded: the reference front-end. q = round_half_even(
    x / eps) with eps = 2*max_error (src/cuda_float_compress.cpp:34,
    src/cuszplus_f32.cu:384-388), then the best EXACT integer codec selected
    per chunk (delta vs no-predictor zigzag vs delta-of-delta — model-weight
    chunks are near-iid, so no-predictor usually wins; see int_zz_encode).
    Guarantees |decode - x| <= max_error. Inputs the int64 quantizer cannot
    represent — non-finite values, or |x|/eps >= 2^62 — raise ValueError
    instead of silently corrupting (the reference's int32 quantizer has the
    same domain limit but no guard, src/cuszplus_f32.cu:41-50; an engine
    refusing loudly beats garbage at 100 TB). Use the lossless float path
    for such data."""
    from cuda_float_compress_spark.codecs import select

    eps = 2.0 * max_error
    scaled = v.astype(np.float64) / eps
    if len(scaled) and (
        not np.isfinite(scaled).all()
        or np.abs(scaled).max() >= float(2**62)
    ):
        raise ValueError(
            "lossy quantization cannot represent non-finite values or "
            f"|x|/eps >= 2^62 (eps={eps}); use the lossless float codec "
            "(compress_lossless_f32 / engine float columns) for this data"
        )
    q = np.rint(scaled).astype(np.int64)
    codec, payload, params = select.select_and_encode_int(
        q, candidates=["int_delta", "int_zz", "int_dod"]
    )
    params = dict(params)
    params["codec"] = codec
    params["eps"] = eps
    params["dtype"] = str(v.dtype)
    return payload, params


def float_quantize_decode(payload: bytes, params: dict, n: int) -> np.ndarray:
    codec = params.get("codec", "int_delta")
    q = INT_CODECS[codec][1](payload, params, n)
    return (q.astype(np.float64) * float(params["eps"])).astype(
        np.dtype(params["dtype"])
    )


def float_byteplane_lz4_encode(v: np.ndarray) -> tuple[bytes, dict]:
    """Byte-plane shuffle + lz4 (throughput profile twin of float_byteplane)."""
    itemsize = v.dtype.itemsize
    mat = np.frombuffer(v.tobytes(), dtype=np.uint8).reshape(-1, itemsize)
    return lz4_compress(mat.T.copy().tobytes()), {
        "itemsize": itemsize, "dtype": str(v.dtype),
    }


def float_byteplane_lz4_decode(payload: bytes, params: dict, n: int) -> np.ndarray:
    itemsize = int(params["itemsize"])
    raw = lz4_decompress(payload, n * itemsize)
    mat = np.frombuffer(raw, dtype=np.uint8).reshape(itemsize, n)
    return np.frombuffer(mat.T.copy().tobytes(), dtype=np.dtype(params["dtype"])).copy()


# --- ALP: adaptive lossless floating-point (Afroozeh & Boncz, SIGMOD 2024,
# public paper; also DuckDB's float codec). Two schemes:
#   float_alp    — decimal floats: d = round(v * 10^s) round-trips
#                  bit-identically for some per-chunk scale s, so the chunk
#                  becomes an INTEGER chunk (reuse the int codec frontier:
#                  FoR/delta/zigzag + bitpack) plus a patched exception list
#                  for the values that don't (same patched-FOR idea as
#                  int_patched_encode).
#   float_alprd  — "real doubles": no decimal scale fits, but the HIGH bits
#                  of the IEEE pattern (sign+exponent+leading mantissa) are
#                  low-cardinality in real data; dictionary-encode the high
#                  part, bitpack the raw low bits, patch dict misses.
# Correctness never depends on float subtleties: the encoder REPLAYS the
# exact decode expression and bit-compares, so any value the replay can't
# reproduce becomes an exception carrying its raw IEEE word.

_ALP_SCALES = tuple(range(-3, 19))  # 10^-3 .. 10^18 (10^18 < 2^63)
_ALP_SAMPLE = 512


def _alp_digits_to_float(d: np.ndarray, s: int, dtype: np.dtype) -> np.ndarray:
    """THE decode expression (encoder replays it bit-exactly for the check).
    Division for s >= 0, multiplication for s < 0 — pinning one form per
    sign keeps encode and decode rounding identical."""
    f = d.astype(np.float64)
    out = f / (10.0 ** s) if s >= 0 else f * (10.0 ** (-s))
    return out.astype(dtype)


def _alp_try_scale(v64: np.ndarray, s: int, dtype: np.dtype,
                   bits: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(digits, exact_mask) for scale s. Non-finite / overflow-unsafe values
    are masked out before the int cast (nan would poison astype)."""
    with np.errstate(over="ignore", invalid="ignore"):
        scaled = v64 * (10.0 ** s) if s >= 0 else v64 / (10.0 ** (-s))
    safe = np.isfinite(scaled) & (np.abs(scaled) < float(2 ** 62))
    d = np.rint(np.where(safe, scaled, 0.0)).astype(np.int64)
    replay = _alp_digits_to_float(d, s, dtype)
    exact = safe & (replay.view(bits.dtype) == bits)
    return d, exact


def float_alp_encode(v: np.ndarray) -> tuple[bytes, dict]:
    """ALP decimal scheme. Scale chosen on a sample (most exact hits, then
    smallest digit span), one full pass encodes; misses are patched with
    their raw IEEE words so the codec is valid (if large) on ANY input —
    the selector simply won't pick it when exceptions dominate."""
    from cuda_float_compress_spark.codecs import select

    dtype = v.dtype
    ubits = v.view(np.uint32 if dtype.itemsize == 4 else np.uint64)
    v64 = v.astype(np.float64)
    n = len(v)
    if n == 0:
        return pack_sections(b"", b"", b""), {
            "s": 0, "codec": "int_raw", "n_exc": 0, "dtype": str(dtype),
        }
    step = max(1, n // _ALP_SAMPLE)
    vs, bs = v64[::step], ubits[::step]
    best_s, best_hits, best_span = 0, -1, None
    for s in _ALP_SCALES:
        d, exact = _alp_try_scale(vs, s, dtype, bs)
        hits = int(exact.sum())
        span = int(d[exact].max() - d[exact].min()) if hits else 0
        if hits > best_hits or (hits == best_hits and best_span is not None
                                and span < best_span):
            best_s, best_hits, best_span = s, hits, span
    d, exact = _alp_try_scale(v64, best_s, dtype, ubits)
    exc_pos = np.flatnonzero(~exact).astype(np.uint32)
    if len(exc_pos):
        # neutral fill keeps FoR/bitpack width driven by the real digits
        fill = d[exact][0] if exact.any() else np.int64(0)
        d[~exact] = fill
    codec, payload, params = select.select_and_encode_int(
        d, candidates=["int_for", "int_zz", "int_delta"]
    )
    params = dict(params)
    params.update({
        "s": best_s, "codec": codec, "n_exc": int(len(exc_pos)),
        "dtype": str(dtype),
    })
    return (
        pack_sections(payload, exc_pos.tobytes(), ubits[exc_pos].tobytes()),
        params,
    )


def float_alp_decode(payload: bytes, params: dict, n: int) -> np.ndarray:
    dtype = np.dtype(params["dtype"])
    digits_buf, pos_buf, exc_buf = unpack_sections(payload)
    if n == 0:
        return np.empty(0, dtype=dtype)
    d = INT_CODECS[params["codec"]][1](digits_buf, params, n)
    out = _alp_digits_to_float(d, int(params["s"]), dtype)
    if int(params["n_exc"]):
        pos = np.frombuffer(pos_buf, dtype=np.uint32)
        ut = np.uint32 if dtype.itemsize == 4 else np.uint64
        out = out.copy()
        out.view(ut)[pos] = np.frombuffer(exc_buf, dtype=ut)
    return out


_ALPRD_MAX_DICT = 256


def float_alprd_encode(v: np.ndarray) -> tuple[bytes, dict]:
    """ALP-RD: split each IEEE word at a searched cut into a low-cardinality
    HIGH part (dictionary + bitpacked codes) and raw LOW bits (bitpacked).
    Words whose high part misses the (≤256-entry, frequency-ranked) dict are
    patched as exceptions. The cut minimizes modeled bits over a handful of
    candidates — real data concentrates sign/exponent/leading-mantissa."""
    dtype = v.dtype
    w = dtype.itemsize * 8
    ut = np.uint32 if w == 32 else np.uint64
    u = v.view(ut)
    n = len(v)
    if n == 0:
        return pack_sections(b"", b"", b"", b"", b""), {
            "r": w - 8, "dw": 0, "ndict": 0, "n_exc": 0, "dtype": str(dtype),
        }
    cuts = ([16, 20, 24, 12, 28] if w == 32
            else [40, 44, 48, 36, 52, 56])
    best = None
    step = max(1, n // _ALP_SAMPLE)
    us = u[::step]
    for r in cuts:
        high = us >> np.uint64(r) if w == 64 else us >> np.uint32(r)
        vals, counts = np.unique(high, return_counts=True)
        ndict = min(len(vals), _ALPRD_MAX_DICT)
        miss = (len(us) - counts[np.argsort(counts)[::-1][:ndict]].sum())
        dw = int(ndict - 1).bit_length()
        bits_total = (len(us) * (r + dw)
                      + miss / max(1, len(us)) * len(us) * (w + 32)
                      + ndict * w)
        if best is None or bits_total < best[0]:
            best = (bits_total, r)
    r = best[1]
    shift = np.uint64(r) if w == 64 else np.uint32(r)
    high = u >> shift
    vals, counts = np.unique(high, return_counts=True)
    order = np.argsort(counts)[::-1][:_ALPRD_MAX_DICT]
    dict_vals = vals[order]
    # code assignment via searchsorted over the sorted dict
    sorted_dict = np.sort(dict_vals)
    idx = np.searchsorted(sorted_dict, high)
    idx_clip = np.minimum(idx, len(sorted_dict) - 1)
    hit = sorted_dict[idx_clip] == high
    codes = np.where(hit, idx_clip, 0).astype(np.uint64)
    exc_pos = np.flatnonzero(~hit).astype(np.uint32)
    dw = int(len(sorted_dict) - 1).bit_length()
    low_mask = (np.uint64(1) << np.uint64(r)) - np.uint64(1)
    low = (u.astype(np.uint64) & low_mask)
    return (
        pack_sections(
            # codes are low-entropy (clustered exponents) — worth the zstd
            # pass; the low bits are near-random mantissa tails, stored raw
            zstd_compress(bitpack(codes, dw)),
            bitpack(low, r),
            sorted_dict.astype(np.uint64).tobytes(),
            exc_pos.tobytes(),
            u[exc_pos].tobytes(),
        ),
        {
            "r": int(r), "dw": dw, "ndict": int(len(sorted_dict)),
            "n_exc": int(len(exc_pos)), "dtype": str(dtype),
        },
    )


def float_alprd_decode(payload: bytes, params: dict, n: int) -> np.ndarray:
    dtype = np.dtype(params["dtype"])
    w = dtype.itemsize * 8
    ut = np.uint32 if w == 32 else np.uint64
    if n == 0:
        return np.empty(0, dtype=dtype)
    codes_buf, low_buf, dict_buf, pos_buf, exc_buf = unpack_sections(payload)
    r, dw = int(params["r"]), int(params["dw"])
    sorted_dict = np.frombuffer(dict_buf, dtype=np.uint64)
    codes = bitunpack(
        zstd_decompress(codes_buf, dw * ((n + 7) // 8)), dw, n
    )
    low = bitunpack(low_buf, r, n)
    u = ((sorted_dict[codes] << np.uint64(r)) | low).astype(ut)
    if int(params["n_exc"]):
        pos = np.frombuffer(pos_buf, dtype=np.uint32)
        u[pos] = np.frombuffer(exc_buf, dtype=ut)
    return u.view(dtype).copy()


def float_xor_encode(v: np.ndarray) -> tuple[bytes, dict]:
    """Gorilla-style XOR-with-previous (Facebook's time-series scheme,
    public VLDB'15 paper) + byte-plane shuffle + zstd: successive values
    on smooth series share sign/exponent/leading-mantissa bits, so the
    XOR stream is mostly zero bytes that the plane shuffle groups into
    long runs. Exact for every bit pattern (nan/inf/-0.0 included) —
    XOR is its own inverse."""
    itemsize = v.dtype.itemsize
    ut = np.uint32 if itemsize == 4 else np.uint64
    u = v.view(ut)
    x = np.empty_like(u)
    if len(u):
        x[0] = u[0]
        np.bitwise_xor(u[1:], u[:-1], out=x[1:])
    mat = x.view(np.uint8).reshape(-1, itemsize)
    return zstd_compress(mat.T.copy().tobytes()), {
        "itemsize": itemsize, "dtype": str(v.dtype),
    }


def float_xor_decode(payload: bytes, params: dict, n: int) -> np.ndarray:
    itemsize = int(params["itemsize"])
    dtype = np.dtype(params["dtype"])
    ut = np.uint32 if itemsize == 4 else np.uint64
    raw = zstd_decompress(payload, n * itemsize)
    mat = np.frombuffer(raw, dtype=np.uint8).reshape(itemsize, n)
    x = np.frombuffer(mat.T.copy().tobytes(), dtype=ut)
    u = np.bitwise_xor.accumulate(x)  # exact prefix-xor inverse
    return u.view(dtype).copy()


FLOAT_CODECS = {
    "float_raw": (float_raw_encode, float_raw_decode),
    "float_byteplane": (float_byteplane_encode, float_byteplane_decode),
    "float_byteplane_lz4": (float_byteplane_lz4_encode, float_byteplane_lz4_decode),
    "float_alp": (float_alp_encode, float_alp_decode),
    "float_alprd": (float_alprd_encode, float_alprd_decode),
    "float_xor": (float_xor_encode, float_xor_decode),
}


def encode_float_chunk(v: np.ndarray, codec: str) -> tuple[bytes, dict]:
    return FLOAT_CODECS[codec][0](v)


def decode_float_chunk(payload: bytes, codec: str, params: dict, n: int) -> np.ndarray:
    return FLOAT_CODECS[codec][1](payload, params, n)
