"""Pure-Python xxHash64 matching Spark's built-in ``F.xxhash64`` (seed 42).

Spark's ``xxhash64`` expression hashes the UTF-8 bytes of a string with
XXH64 (seed configurable, default 42) and returns a signed 64-bit long.
The reference engine keys its URL-seen structures on xxh64 of the
canonicalized URL (crawl4ai uses ``xxhash.xxh64`` for content hashes,
crawl4ai/utils.py:2636-2638); we need the *same* key driver-side (for the
in-memory oracle and bloom sizing) and executor-side (Spark column), so we
implement the public XXH64 spec here and cross-check it against Spark's
column function in tests/test_hashing.py.
"""

from __future__ import annotations

_MASK64 = 0xFFFFFFFFFFFFFFFF
_PRIME1 = 0x9E3779B185EBCA87
_PRIME2 = 0xC2B2AE3D27D4EB4F
_PRIME3 = 0x165667B19E3779F9
_PRIME4 = 0x85EBCA77C2B2AE63
_PRIME5 = 0x27D4EB2F165667C5

SPARK_XXHASH_SEED = 42


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK64


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * _PRIME2) & _MASK64
    acc = _rotl(acc, 31)
    return (acc * _PRIME1) & _MASK64


def _merge_round(acc: int, val: int) -> int:
    val = _round(0, val)
    acc ^= val
    return (acc * _PRIME1 + _PRIME4) & _MASK64


def xxh64(data: bytes, seed: int = SPARK_XXHASH_SEED) -> int:
    """XXH64 of ``data`` → unsigned 64-bit int (public xxHash spec)."""
    length = len(data)
    idx = 0
    if length >= 32:
        v1 = (seed + _PRIME1 + _PRIME2) & _MASK64
        v2 = (seed + _PRIME2) & _MASK64
        v3 = seed & _MASK64
        v4 = (seed - _PRIME1) & _MASK64
        limit = length - 32
        while idx <= limit:
            v1 = _round(v1, int.from_bytes(data[idx : idx + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[idx + 8 : idx + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[idx + 16 : idx + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[idx + 24 : idx + 32], "little"))
            idx += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _MASK64
        h = _merge_round(h, v1)
        h = _merge_round(h, v2)
        h = _merge_round(h, v3)
        h = _merge_round(h, v4)
    else:
        h = (seed + _PRIME5) & _MASK64
    h = (h + length) & _MASK64
    while idx + 8 <= length:
        k1 = _round(0, int.from_bytes(data[idx : idx + 8], "little"))
        h ^= k1
        h = (_rotl(h, 27) * _PRIME1 + _PRIME4) & _MASK64
        idx += 8
    if idx + 4 <= length:
        h ^= (int.from_bytes(data[idx : idx + 4], "little") * _PRIME1) & _MASK64
        h = (_rotl(h, 23) * _PRIME2 + _PRIME3) & _MASK64
        idx += 4
    while idx < length:
        h ^= (data[idx] * _PRIME5) & _MASK64
        h = (_rotl(h, 11) * _PRIME1) & _MASK64
        idx += 1
    h ^= h >> 33
    h = (h * _PRIME2) & _MASK64
    h ^= h >> 29
    h = (h * _PRIME3) & _MASK64
    h ^= h >> 32
    return h


def xxh64_signed(data: bytes | str, seed: int = SPARK_XXHASH_SEED) -> int:
    """XXH64 → signed 64-bit, bit-identical to Spark ``F.xxhash64(col)``."""
    if isinstance(data, str):
        data = data.encode("utf-8")
    h = xxh64(data, seed)
    return h - (1 << 64) if h >= (1 << 63) else h

