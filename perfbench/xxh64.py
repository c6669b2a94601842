"""xxHash64 as Spark's ``xxhash64`` computes it for one string column.

The benchmark needs each doc's bucket, ``pmod(xxhash64(doc_id), N)``,
while it writes the input, before any Spark job runs. Seed 42 is Spark's
default; the input is the UTF-8 encoding of the string.
"""

from __future__ import annotations

_M = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def _word(data: bytes, i: int, n: int) -> int:
    return int.from_bytes(data[i:i + n], "little")


def xxh64(data: bytes, seed: int = 42) -> int:
    """Signed 64-bit hash, equal to Spark's ``xxhash64`` of the string."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed & _M,
             (seed - _P1) & _M]
        while i + 32 <= n:
            v = [_round(v[k], _word(data, i + 8 * k, 8)) for k in range(4)]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
             + _rotl(v[3], 18)) & _M
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h = (_rotl(h ^ _round(0, _word(data, i, 8)), 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h = (_rotl(h ^ (_word(data, i, 4) * _P1 & _M), 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h = (_rotl(h ^ (data[i] * _P5 & _M), 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def bucket(doc_id: str, n_buckets: int) -> int:
    """``pmod(xxhash64(doc_id), n_buckets)``."""
    return xxh64(doc_id.encode("utf-8")) % n_buckets
