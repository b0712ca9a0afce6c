"""Multimodal column plumbing: image/audio as opaque ``binary`` columns
with typed metadata, processed through Arrow-batched ``mapInPandas``.

REAL decoders (pure numpy, no external libs): uncompressed 24-bit BMP,
binary PPM (P6), PCM-16 WAV and 8-bit PNG (zlib + all five scanline
filters), each with an ``encode_*`` twin that tests build fixtures with.
JPEG and WebP are read from their headers only: :func:`jpeg_dims` walks
the markers to the first SOF segment, and :func:`webp_dims` reads the
VP8X canvas, the lossless VP8L header or the lossy VP8 keyframe header.
``decode_image`` refuses JPEG/WebP pixels, and any other format unless
``fake=True``, when a deterministic fake decoder stands in so the
Spark-side plumbing (schema, partitioning, UDF signature, batch shape)
stays real and tested. The byte-level feature extractor
(histogram/entropy) is real for every format.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

MEDIA_META_SCHEMA = (
    "url string, media_type string, n_bytes long, magic string, "
    "byte_entropy double, fake_width int, fake_height int"
)

_MAGICS = {
    b"\x89PNG": "image/png",
    b"\xff\xd8\xff": "image/jpeg",
    b"GIF8": "image/gif",
    b"BM": "image/bmp",
    b"P6": "image/x-portable-pixmap",
    b"OggS": "audio/ogg",
    b"\x1aE\xdf\xa3": "video/webm",
}


def sniff_media_type(payload: bytes) -> str:
    if payload[:4] == b"RIFF":  # container family: subtype at offset 8
        sub = payload[8:12]
        if sub == b"WEBP":
            return "image/webp"
        if sub == b"AVI ":
            return "video/x-msvideo"
        if sub == b"WAVE":
            return "audio/wav"
        # other RIFF families (RMID, CDDA, ANI, ...) are not audio — fall
        # through to the unknown path rather than mislabel them
        return "application/octet-stream"
    for magic, mt in _MAGICS.items():
        if payload[: len(magic)] == magic:
            return mt
    return "application/octet-stream"


def decode_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed 24-bit BMP (BITMAPINFOHEADER) -> HxWx3 RGB uint8.
    Rows are 4-byte padded, stored bottom-up (negative height = top-down),
    pixels BGR."""
    if payload[:2] != b"BM" or len(payload) < 54:
        raise ValueError("not a BMP payload")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size, w, h = struct.unpack_from("<Iii", payload, 14)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if hdr_size < 40 or bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={compression})")
    top_down = h < 0
    h = abs(h)
    row_bytes = (w * 3 + 3) & ~3
    need = data_off + row_bytes * h
    if len(payload) < need:
        raise ValueError("truncated BMP payload")
    rows = np.frombuffer(payload, dtype=np.uint8, count=row_bytes * h,
                         offset=data_off).reshape(h, row_bytes)
    img = rows[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]  # BGR -> RGB
    if not top_down:
        img = img[::-1]
    return np.ascontiguousarray(img)


def encode_bmp(img: np.ndarray) -> bytes:
    """HxWx3 RGB uint8 -> uncompressed 24-bit BMP bytes (test/fixture twin
    of decode_bmp)."""
    h, w, _ = img.shape
    row_bytes = (w * 3 + 3) & ~3
    rows = np.zeros((h, row_bytes), dtype=np.uint8)
    rows[:, : w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    data = rows.tobytes()
    header = struct.pack("<2sIHHI", b"BM", 54 + len(data), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data),
                      2835, 2835, 0, 0)
    return header + dib + data


def decode_ppm(payload: bytes) -> np.ndarray:
    """Binary PPM (P6) -> HxWx3 RGB uint8."""
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    # header: P6 <w> <h> <maxval> single-whitespace-delimited (comments ok)
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment to EOL
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    if maxval != 255:
        raise ValueError("only maxval=255 PPM supported")
    need = pos + w * h * 3
    if len(payload) < need:
        raise ValueError("truncated PPM payload")
    return np.frombuffer(payload, dtype=np.uint8, count=w * h * 3,
                         offset=pos).reshape(h, w, 3).copy()


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """PCM-16 WAV -> (samples[n, channels] int16, sample_rate)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if len(body) < 16:  # truncated fmt chunk — malformed, not fatal
                raise ValueError("truncated fmt chunk")
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are 2-byte aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_fmt, channels, rate, _, _, bits = fmt
    if audio_fmt != 1 or bits != 16:
        raise ValueError(f"only PCM-16 supported (fmt={audio_fmt}, bits={bits})")
    if channels == 0:
        raise ValueError("fmt declares 0 channels")
    samples = np.frombuffer(data, dtype="<i2")
    if len(samples) % channels:
        raise ValueError("data chunk not a whole number of frames")
    return samples.reshape(-1, channels), rate


def encode_wav(samples: np.ndarray, rate: int = 16000) -> bytes:
    """(n, channels) int16 -> PCM-16 WAV bytes (test/fixture twin)."""
    if samples.ndim == 1:
        samples = samples[:, None]
    channels = samples.shape[1]
    data = samples.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * channels * 2,
                      channels * 2, 16)
    body = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
# hard cap on the inflated scanline buffer (256 MB ~ a 9000x9000 RGBA image);
# anything claiming more is hostile or out of scope for this decoder
_MAX_PNG_RAW_BYTES = 1 << 28


def _paeth_scalar(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (spec 9.4): nearest of left/up/up-left to a+b-c,
    ties breaking left, up, up-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def decode_png(payload: bytes) -> np.ndarray:
    """Pure-numpy+zlib PNG decode -> HxWx3 uint8 (no imaging library).

    Supports the web-dominant profile: 8-bit depth, color types 0 (gray),
    2 (RGB), 3 (palette), 4 (gray+alpha), 6 (RGBA), non-interlaced, all five
    scanline filters. Alpha is dropped (pipelines downstream are RGB).
    Filters None/Sub/Up are fully vectorized per row (Sub is a per-lane
    cumsum mod 256); Average/Paeth rows carry a true sequential dependence
    on the reconstructed left neighbor, so those rows fall back to a
    per-byte loop — bounded per row, and rare in practice for fixture-scale
    payloads this decoder serves."""
    import zlib

    if payload[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos = 8
    ihdr = None
    plte = None
    idat = []
    n = len(payload)
    while pos + 8 <= n:
        ln = int.from_bytes(payload[pos : pos + 4], "big")
        typ = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + ln]
        if len(body) != ln:
            raise ValueError("truncated PNG chunk")
        if typ == b"IHDR":
            if len(body) != 13:
                raise ValueError(f"bad IHDR length {len(body)}")
            ihdr = struct.unpack(">IIBBBBB", body)
        elif typ == b"PLTE":
            if len(body) % 3:
                raise ValueError("bad PLTE length")
            plte = np.frombuffer(body, np.uint8).reshape(-1, 3)
        elif typ == b"IDAT":
            idat.append(body)
        elif typ == b"IEND":
            break
        pos += 12 + ln  # length + type + data + crc
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    w, h, bit, color, comp, filt_method, interlace = ihdr
    if bit != 8 or comp != 0 or filt_method != 0 or interlace != 0:
        raise ValueError(
            f"unsupported PNG (bit={bit}, interlace={interlace}) — only "
            "8-bit non-interlaced is implemented"
        )
    nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
    if nch is None:
        raise ValueError(f"unsupported PNG color type {color}")
    if color == 3 and plte is None:
        raise ValueError("palette PNG without PLTE")
    stride = w * nch
    expected = h * (stride + 1)
    # Bound the decompression BY the IHDR-derived size BEFORE inflating:
    # zlib expands up to ~1000x, so a small malicious/corrupt PNG could
    # otherwise allocate gigabytes here and OOM the executor — memory
    # exhaustion is not catchable by the row-skip try/except in
    # extract_media_features. decompressobj(max_length) caps the
    # output buffer; one extra probe byte detects oversized streams.
    if expected > _MAX_PNG_RAW_BYTES:
        raise ValueError(
            f"PNG dimensions {w}x{h}x{nch} exceed the decoder cap "
            f"({expected} > {_MAX_PNG_RAW_BYTES} raw bytes)"
        )
    try:
        dec = zlib.decompressobj()
        raw = dec.decompress(b"".join(idat), expected)
        extra = dec.decompress(dec.unconsumed_tail, 1) if not dec.eof else b""
    except zlib.error as e:
        raise ValueError(f"corrupt IDAT stream: {e}") from None
    if extra:
        raise ValueError("IDAT stream larger than IHDR dimensions")
    if len(raw) != expected:
        raise ValueError("IDAT length does not match dimensions")
    rr = np.frombuffer(raw, np.uint8).reshape(h, stride + 1)
    ftypes = rr[:, 0]
    rows = rr[:, 1:].astype(np.int32)
    out = np.zeros((h, stride), np.uint8)
    zero_prev = np.zeros(stride, np.int32)
    for y in range(h):
        f = int(ftypes[y])
        cur = rows[y]
        prev = out[y - 1].astype(np.int32) if y else zero_prev
        if f == 0:  # None
            rec = cur
        elif f == 1:  # Sub: recon = cumsum of filt per byte lane, mod 256
            rec = (np.cumsum(cur.reshape(w, nch), axis=0) & 0xFF).reshape(-1)
        elif f == 2:  # Up
            rec = (cur + prev) & 0xFF
        elif f == 3:  # Average (sequential on recon-left)
            rec = np.empty(stride, np.int32)
            for x in range(stride):
                left = rec[x - nch] if x >= nch else 0
                rec[x] = (cur[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif f == 4:  # Paeth (sequential on recon-left)
            rec = np.empty(stride, np.int32)
            for x in range(stride):
                left = rec[x - nch] if x >= nch else 0
                ul = prev[x - nch] if x >= nch else 0
                rec[x] = (cur[x] + _paeth_scalar(int(left), int(prev[x]), int(ul))) & 0xFF
            # (per-byte loop: Paeth's left-neighbor dependence is inherently
            # sequential — bounded to this row)
        else:
            raise ValueError(f"bad PNG filter type {f}")
        out[y] = rec.astype(np.uint8)
    arr = out.reshape(h, w, nch)
    if color == 2:
        return arr
    if color == 6:
        return arr[:, :, :3]  # drop alpha
    if color == 3:
        idx = arr[:, :, 0]
        if int(idx.max(initial=0)) >= len(plte):
            raise ValueError("palette index out of range")
        return plte[idx]
    # gray / gray+alpha -> replicate the luma channel
    return np.repeat(arr[:, :, :1], 3, axis=2)


def encode_png(img: np.ndarray, filters=None) -> bytes:
    """HxWx3 (or HxW) uint8 -> PNG bytes (test/fixture twin of decode_png).
    ``filters``: per-row filter type (int or list, default 0) — lets tests
    exercise every scanline filter; filtering uses the RECONSTRUCTED
    neighbors, so encode is fully vectorized."""
    import zlib

    if img.ndim == 2:
        img = img[:, :, None]
    h, w, nch = img.shape
    color = {1: 0, 3: 2, 4: 6}[nch]
    rows = img.reshape(h, w * nch).astype(np.int32)
    stride = w * nch
    if filters is None:
        ftypes = [0] * h
    elif isinstance(filters, int):
        ftypes = [filters] * h
    else:
        ftypes = list(filters)
    lines = []
    for y in range(h):
        cur = rows[y]
        prev = rows[y - 1] if y else np.zeros(stride, np.int32)
        left = np.zeros(stride, np.int32)
        left[nch:] = cur[:-nch]
        ul = np.zeros(stride, np.int32)
        ul[nch:] = prev[:-nch]
        f = ftypes[y]
        if f == 0:
            filt = cur
        elif f == 1:
            filt = cur - left
        elif f == 2:
            filt = cur - prev
        elif f == 3:
            filt = cur - ((left + prev) >> 1)
        elif f == 4:
            p = left + prev - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - ul)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul)
            )
            filt = cur - pred
        else:
            raise ValueError(f"bad filter type {f}")
        lines.append(bytes([f]) + (filt & 0xFF).astype(np.uint8).tobytes())
    raw = zlib.compress(b"".join(lines))

    def chunk(typ: bytes, body: bytes) -> bytes:
        crc = zlib.crc32(typ + body) & 0xFFFFFFFF
        return struct.pack(">I", len(body)) + typ + body + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        _PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", raw)
        + chunk(b"IEND", b"")
    )


_JPEG_MAGIC = b"\xff\xd8\xff"
# more pixels than this (8.4 MP, ~350 MB of working set for a full decode)
# is refused as a hostile header
_MAX_JPEG_PIXELS = 1 << 23


def jpeg_dims(payload: bytes) -> tuple[int, int]:
    """(width, height) of a JPEG from its first SOF0/1/2 segment (baseline,
    extended or progressive huffman), walking the markers before it and
    reading no entropy data. Raises ValueError on a header out of that
    profile: another coding process (lossless, arithmetic, differential),
    precision other than 8, 0 or more than 2^23 pixels, a component count
    other than 1 or 3, sampling factors outside 1-2, or a truncated
    segment."""
    if payload[:3] != _JPEG_MAGIC:
        raise ValueError("not a JPEG payload")
    pos, n = 2, len(payload)
    while True:
        if pos + 4 > n:
            raise ValueError("truncated JPEG (no SOF)")
        if payload[pos] != 0xFF:
            raise ValueError("JPEG marker expected")
        while pos + 1 < n and payload[pos + 1] == 0xFF:
            pos += 1  # 0xFF fill bytes before a marker are legal padding
        if pos + 3 >= n:
            raise ValueError("truncated JPEG marker")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD8 or 0xD0 <= marker <= 0xD7:  # SOI / bare RST
            continue
        if marker in (0xD9, 0xDA):  # EOI / SOS
            raise ValueError("JPEG image data before SOF")
        seg_len = struct.unpack_from(">H", payload, pos)[0]
        body = payload[pos + 2:pos + seg_len]
        if len(body) != seg_len - 2:
            raise ValueError("truncated JPEG segment")
        if marker in (0xC0, 0xC1, 0xC2):
            if len(body) < 6:
                raise ValueError("truncated SOF segment")
            prec, h, w, ncomp = struct.unpack_from(">BHHB", body)
            if prec != 8:
                raise ValueError(f"unsupported JPEG precision {prec}")
            if not 0 < h * w <= _MAX_JPEG_PIXELS:
                raise ValueError(f"JPEG dimensions {w}x{h} out of range")
            if ncomp not in (1, 3) or len(body) < 6 + 3 * ncomp:
                raise ValueError(f"unsupported component count {ncomp}")
            for hv in body[7:6 + 3 * ncomp:3]:
                if not (1 <= hv >> 4 <= 2 and 1 <= hv & 0x0F <= 2):
                    raise ValueError(f"unsupported sampling factors {hv:#04x}")
            return w, h
        if marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                      0xCD, 0xCE, 0xCF):
            raise ValueError(
                "unsupported JPEG coding process (lossless/arithmetic/"
                "differential) — baseline and progressive huffman only"
            )
        pos += seg_len  # APPn / DQT / COM / others


def _is_webp(payload: bytes) -> bool:
    return payload[:4] == b"RIFF" and payload[8:12] == b"WEBP"


def vp8_keyframe_dims(body: bytes) -> tuple[int, int]:
    """Lossy VP8 ('VP8 ' chunk) keyframe dimensions from the UNCOMPRESSED
    part of the frame header (RFC 6386 §9.1): a 3-byte little-endian frame
    tag (bit 0 = interframe flag), the 3-byte start code 9D 01 2A, then two
    16-bit LE fields carrying 14-bit width/height plus 2-bit upscale
    codes. No boolean decoding required."""
    if len(body) < 10:
        raise ValueError("truncated VP8 chunk")
    tag = body[0] | (body[1] << 8) | (body[2] << 16)
    if tag & 1:
        raise NotImplementedError(
            "VP8 interframe — only keyframe headers are parsed"
        )
    if body[3:6] != b"\x9d\x01\x2a":
        raise ValueError("bad VP8 keyframe start code")
    wv = body[6] | (body[7] << 8)
    hv = body[8] | (body[9] << 8)
    return wv & 0x3FFF, hv & 0x3FFF


def webp_dims(payload: bytes) -> tuple[int, int]:
    """(width, height) of a WebP payload from headers only: the VP8X
    canvas of an extended file, else the lossless (VP8L) header, else the
    lossy VP8 keyframe header — whichever chunk comes first."""
    if len(payload) < 20 or not _is_webp(payload):
        raise ValueError("not a WebP payload")
    pos = 12
    while pos + 8 <= len(payload):
        tag = payload[pos:pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8:pos + 8 + size]
        if len(body) != size:
            raise ValueError("truncated WebP chunk")
        if tag == b"VP8X":
            if size < 10:
                raise ValueError("truncated VP8X chunk")
            w = 1 + (body[4] | (body[5] << 8) | (body[6] << 16))
            h = 1 + (body[7] | (body[8] << 8) | (body[9] << 16))
            return w, h
        if tag == b"VP8L":
            # signature byte 0x2F, then 14-bit width-1 and height-1, LSB
            # first
            if size < 5 or body[0] != 0x2F:
                raise ValueError("bad VP8L header")
            bits = int.from_bytes(body[1:5], "little")
            return (bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1
        if tag == b"VP8 ":
            return vp8_keyframe_dims(body)
        pos += 8 + size + (size & 1)
    raise ValueError("no image chunk in WebP payload")


def decode_image(payload: bytes, fake: bool = False) -> np.ndarray:
    """Decode an image payload to an HxWx3 array. REAL for BMP 24-bit,
    PPM P6 and PNG (8-bit, pure numpy+zlib — see decode_png). JPEG and
    WebP pixels are out of scope whether ``fake`` is set or not (their
    dimensions come from headers: :func:`jpeg_dims`, :func:`webp_dims`);
    any other payload needs ``fake=True`` for the deterministic stand-in
    (plumbing tests)."""
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[:2] == b"P6":
        return decode_ppm(payload)
    if payload[:8] == _PNG_MAGIC:
        return decode_png(payload)
    if payload[:3] == _JPEG_MAGIC or _is_webp(payload):
        raise NotImplementedError(
            "JPEG/WebP pixel decode is out of scope; read their dimensions "
            "with jpeg_dims/webp_dims"
        )
    if not fake:
        raise NotImplementedError(
            "unrecognized image format; use BMP/PPM/PNG payloads or "
            "fake=True"
        )
    # deterministic fake: dimensions + pixels derived from the byte content
    h = 4 + (len(payload) % 13)
    w = 4 + (len(payload) % 17)
    seed = int.from_bytes(payload[:8].ljust(8, b"\0"), "little") & 0x7FFFFFFF
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, (h, w, 3), dtype=np.uint8)


def extract_media_features(
    df: DataFrame, url_col: str = "url", bin_col: str = "html", fake_decode: bool = True
) -> DataFrame:
    """mapInPandas over binary payloads: magic sniff, byte-entropy and
    image dims (JPEG/WebP from headers, BMP/PPM/PNG decoded, anything else
    from the fake decoder unless ``fake_decode=False``); a payload whose
    dims cannot be read reports 0x0. Arrow-batched; one numpy pass per
    batch, no per-row Python beyond the payload loop (payloads are opaque
    blobs)."""

    def feats(batches):
        for pdf in batches:
            urls = pdf[url_col]
            blobs = pdf[bin_col]
            rows = []
            for u, b in zip(urls, blobs):
                b = b if b is not None else b""
                if len(b):
                    counts = np.bincount(
                        np.frombuffer(b, dtype=np.uint8), minlength=256
                    ).astype(np.float64)
                    p = counts[counts > 0] / len(b)
                    entropy = float(-(p * np.log2(p)).sum())
                else:
                    entropy = 0.0
                dims = (0, 0)
                try:
                    if b[:3] == _JPEG_MAGIC:
                        dims = jpeg_dims(b)
                    elif _is_webp(b):
                        dims = webp_dims(b)
                    elif len(b):
                        img = decode_image(b, fake=fake_decode)
                        dims = (img.shape[1], img.shape[0])
                except (ValueError, NotImplementedError, struct.error):
                    pass  # magic-like prefix on non-image bytes: 0x0
                rows.append(
                    (
                        u,
                        sniff_media_type(b),
                        len(b),
                        b[:4].hex(),
                        round(entropy, 6),
                        dims[0],
                        dims[1],
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "url", "media_type", "n_bytes", "magic",
                    "byte_entropy", "fake_width", "fake_height",
                ],
            )

    return df.select(url_col, bin_col).mapInPandas(feats, schema=MEDIA_META_SCHEMA)
