"""Per-chunk Bloom filters for point-predicate pruning on high-cardinality
unsorted columns.

Zone maps (``encode.py`` vmin/vmax) prune ranges only when the clustering
correlates with the column; an equality probe on ``url`` — the engine's
primary key column — against a host-hash-partitioned table otherwise
decodes every chunk.  A small per-(chunk, column) Bloom filter in the
blocks metadata answers "definitely not in this chunk" without touching
the payload: ~10 bits/key and 7 probes give ~1% false positives, so a
point lookup decodes ~1 chunk instead of all of them.

Layout: the filter is a little-endian bitset (bit ``p`` lives at byte
``p >> 3`` mask ``1 << (p & 7)``) whose length is a multiple of 64 bits,
stored in the nullable ``bloom`` column of the blocks schema.  Hashing is
the repo's portable-md5 scheme (see memory: portable-hash contract):
``h1 = md5[0:8]``, ``h2 = md5[8:16] | 1`` (both masked to 63 bits), probe
``j`` at ``(h1 % m + j * (h2 % m)) % m``.  The encoder builds filters
with :func:`bloom_build`; the driver-side pruner
(``operators/decode.py`` ``prune``) probes them with
:func:`bloom_contains`.

Scale: filters ride the existing blocks parquet (metadata-scale) and
reach the driver in ``Snapshot.chunk_stats``, which the table read
already loads; probing is a few hashes per chunk with a filter on the
predicate's column, never a payload read.

Parity note: the reference (catid/cuda_float_compress) has no predicate
machinery at all — this extends the engine's pushdown layer
(operators/decode.py prune) the way Parquet/ORC attach Bloom
filters to row groups.
"""
from __future__ import annotations

import hashlib

__all__ = ["bloom_hashes", "bloom_build", "bloom_contains",
           "BLOOM_K", "BLOOM_BITS_PER_KEY"]

BLOOM_K = 7
BLOOM_BITS_PER_KEY = 10
_MASK63 = (1 << 63) - 1


def _to_bytes(value) -> bytes:
    if isinstance(value, bytes):
        return value
    if isinstance(value, bytearray):
        return bytes(value)
    return str(value).encode("utf-8")


def bloom_hashes(value) -> tuple[int, int]:
    """(h1, h2) in [0, 2^63): the double-hash basis for all k probes."""
    d = hashlib.md5(_to_bytes(value)).digest()
    h1 = int.from_bytes(d[:8], "big") & _MASK63
    h2 = (int.from_bytes(d[8:16], "big") & _MASK63) | 1
    return h1, h2


def bloom_build(values, bits_per_key: int = BLOOM_BITS_PER_KEY,
                k: int = BLOOM_K) -> bytes | None:
    """Bitset over the DISTINCT non-null values of one chunk column, or
    ``None`` for an all-null chunk (probes treat a missing filter as
    "maybe")."""
    distinct = {_to_bytes(v) for v in values if v is not None}
    if not distinct:
        return None
    m = ((len(distinct) * bits_per_key + 63) // 64) * 64
    bits = bytearray(m >> 3)
    for v in distinct:
        h1, h2 = bloom_hashes(v)
        a, b = h1 % m, h2 % m
        for j in range(k):
            p = (a + j * b) % m
            bits[p >> 3] |= 1 << (p & 7)
    return bytes(bits)


def bloom_contains(filt: bytes, value, k: int = BLOOM_K) -> bool:
    """True unless ``value`` is definitely absent from the filter."""
    m = len(filt) * 8
    h1, h2 = bloom_hashes(value)
    a, b = h1 % m, h2 % m
    for j in range(k):
        p = (a + j * b) % m
        if not (filt[p >> 3] >> (p & 7)) & 1:
            return False
    return True
