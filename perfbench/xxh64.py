"""Pure-Python XXH64 with Spark's ``xxhash64`` semantics (seed 42).

The benchmark recomputes the MinHash shingle hashes of
``kg.dedup.with_shingle_hashes`` without Spark.  Spark hashes a string
as the XXH64 of its UTF-8 bytes, a long as the XXH64 of its 8
little-endian bytes, and several columns by chaining: each column is
hashed with the previous hash as its seed.
"""

from __future__ import annotations

import struct

import numpy as np

SEED = 42
M64 = (1 << 64) - 1
P1 = 11400714785074694791
P2 = 14029467366897019727
P3 = 1609587929392839161
P4 = 9650029242287828579
P5 = 2870177450012600261


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & M64


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * P2) & M64
    return (_rotl(acc, 31) * P1) & M64


def _merge(h: int, v: int) -> int:
    h ^= _round(0, v)
    return (h * P1 + P4) & M64


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * P2) & M64
    h ^= h >> 29
    h = (h * P3) & M64
    return h ^ (h >> 32)


def hash_bytes(data: bytes, seed: int) -> int:
    """XXH64 of ``data``; ``seed`` and the result are unsigned 64-bit."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + P1 + P2) & M64
        v2 = (seed + P2) & M64
        v3 = seed
        v4 = (seed - P1) & M64
        while i + 32 <= n:
            a, b, c, d = struct.unpack_from("<4Q", data, i)
            v1, v2, v3, v4 = _round(v1, a), _round(v2, b), _round(v3, c), _round(v4, d)
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & M64
        for v in (v1, v2, v3, v4):
            h = _merge(h, v)
    else:
        h = (seed + P5) & M64
    h = (h + n) & M64
    while i + 8 <= n:
        h ^= _round(0, struct.unpack_from("<Q", data, i)[0])
        h = (_rotl(h, 27) * P1 + P4) & M64
        i += 8
    if i + 4 <= n:
        h ^= (struct.unpack_from("<I", data, i)[0] * P1) & M64
        h = (_rotl(h, 23) * P2 + P3) & M64
        i += 4
    while i < n:
        h ^= (data[i] * P5) & M64
        h = (_rotl(h, 11) * P1) & M64
        i += 1
    return _fmix(h)


def signed(h: int) -> int:
    return h - (1 << 64) if h >> 63 else h


# -- vectorized hashLong for the shingle hashes (numpy uint64 wraps mod 2^64)

_U = np.uint64


def _rotl_np(x: np.ndarray, r: int) -> np.ndarray:
    return (x << _U(r)) | (x >> _U(64 - r))


def hash_long_np(v: np.ndarray, seed: np.ndarray) -> np.ndarray:
    """Elementwise Spark ``hashLong``; both arguments uint64 arrays."""
    with np.errstate(over="ignore"):
        h = seed + _U(P5) + _U(8)
        h ^= _rotl_np(v * _U(P2), 31) * _U(P1)
        h = _rotl_np(h, 27) * _U(P1) + _U(P4)
        h ^= h >> _U(33)
        h *= _U(P2)
        h ^= h >> _U(29)
        h *= _U(P3)
        h ^= h >> _U(32)
    return h
