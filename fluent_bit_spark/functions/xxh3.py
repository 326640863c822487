"""Pure-python XXH3-64 (one-shot, seed 0, default secret).

cmetrics identifies each metric by cfl_hash_64bits = XXH3_64bits over
fqname + label values (lib/cfl/include/cfl/cfl_hash.h:33,
lib/cmetrics/src/cmt_map.c:199-216 streaming concat with "_NULL_"
standing in for NULL values). The msgpack context codec carries that
hash on the wire per metric (cmt_encode_msgpack.c pack_metric
"hash"), so a byte-faithful twin needs the real algorithm, not a
stand-in. This implements the public xxHash v0.8 XXH3_64bits
specification (BSD-2; constants below are the spec's published
default secret and primes) for all input lengths; correctness is
pinned against vectors produced by compiling the reference's
vendored xxhash (tests/test_xxh3.py).

Pure python is fine here: inputs are short metric identity strings
(hashed once per distinct label set on the encode path, already
inside an Arrow batch), not a per-byte hot loop.
"""

from __future__ import annotations

import struct

_M = (1 << 64) - 1

_SECRET = bytes([
    0xb8, 0xfe, 0x6c, 0x39, 0x23, 0xa4, 0x4b, 0xbe,
    0x7c, 0x01, 0x81, 0x2c, 0xf7, 0x21, 0xad, 0x1c,
    0xde, 0xd4, 0x6d, 0xe9, 0x83, 0x90, 0x97, 0xdb,
    0x72, 0x40, 0xa4, 0xa4, 0xb7, 0xb3, 0x67, 0x1f,
    0xcb, 0x79, 0xe6, 0x4e, 0xcc, 0xc0, 0xe5, 0x78,
    0x82, 0x5a, 0xd0, 0x7d, 0xcc, 0xff, 0x72, 0x21,
    0xb8, 0x08, 0x46, 0x74, 0xf7, 0x43, 0x24, 0x8e,
    0xe0, 0x35, 0x90, 0xe6, 0x81, 0x3a, 0x26, 0x4c,
    0x3c, 0x28, 0x52, 0xbb, 0x91, 0xc3, 0x00, 0xcb,
    0x88, 0xd0, 0x65, 0x8b, 0x1b, 0x53, 0x2e, 0xa3,
    0x71, 0x64, 0x48, 0x97, 0xa2, 0x0d, 0xf9, 0x4e,
    0x38, 0x19, 0xef, 0x46, 0xa9, 0xde, 0xac, 0xd8,
    0xa8, 0xfa, 0x76, 0x3f, 0xe3, 0x9c, 0x34, 0x3f,
    0xf9, 0xdc, 0xbb, 0xc7, 0xc7, 0x0b, 0x4f, 0x1d,
    0x8a, 0x51, 0xe0, 0x4b, 0xcd, 0xb4, 0x59, 0x31,
    0xc8, 0x9f, 0x7e, 0xc9, 0xd9, 0x78, 0x73, 0x64,
    0xea, 0xc5, 0xac, 0x83, 0x34, 0xd3, 0xeb, 0xc3,
    0xc5, 0x81, 0xa0, 0xff, 0xfa, 0x13, 0x63, 0xeb,
    0x17, 0x0d, 0xdd, 0x51, 0xb7, 0xf0, 0xda, 0x49,
    0xd3, 0x16, 0x55, 0x26, 0x29, 0xd4, 0x68, 0x9e,
    0x2b, 0x16, 0xbe, 0x58, 0x7d, 0x47, 0xa1, 0xfc,
    0x8f, 0xf8, 0xb8, 0xd1, 0x7a, 0xd0, 0x31, 0xce,
    0x45, 0xcb, 0x3a, 0x8f, 0x95, 0x16, 0x04, 0x28,
    0xaf, 0xd7, 0xfb, 0xca, 0xbb, 0x4b, 0x40, 0x7e,
])

_P32_1 = 0x9E3779B1
_P32_2 = 0x85EBCA77
_P32_3 = 0xC2B2AE3D
_P64_1 = 0x9E3779B185EBCA87
_P64_2 = 0xC2B2AE3D27D4EB4F
_P64_3 = 0x165667B19E3779F9
_P64_4 = 0x85EBCA77C2B2AE63
_P64_5 = 0x27D4EB2F165667C5
_MX1 = 0x165667919E3779F9
_MX2 = 0x9FB21C651E98DF25


def _r64(b: bytes, off: int) -> int:
    return struct.unpack_from("<Q", b, off)[0]


def _r32(b: bytes, off: int) -> int:
    return struct.unpack_from("<I", b, off)[0]


def _swap64(x: int) -> int:
    return int.from_bytes(x.to_bytes(8, "little"), "big")


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _fold(a: int, b: int) -> int:
    p = a * b
    return (p & _M) ^ (p >> 64)


def _avalanche64(h: int) -> int:
    h ^= h >> 33
    h = (h * _P64_2) & _M
    h ^= h >> 29
    h = (h * _P64_3) & _M
    return h ^ (h >> 32)


def _avalanche3(h: int) -> int:
    h ^= h >> 37
    h = (h * _MX1) & _M
    return h ^ (h >> 32)


def _rrmxmx(h: int, n: int) -> int:
    h ^= _rotl(h, 49) ^ _rotl(h, 24)
    h = (h * _MX2) & _M
    h ^= (h >> 35) + n
    h &= _M
    h = (h * _MX2) & _M
    return h ^ (h >> 28)


def _mix16(data: bytes, doff: int, soff: int) -> int:
    lo = _r64(data, doff) ^ _r64(_SECRET, soff)
    hi = _r64(data, doff + 8) ^ _r64(_SECRET, soff + 8)
    return _fold(lo, hi)


def _len_0to16(data: bytes, n: int) -> int:
    if n > 8:
        flip1 = _r64(_SECRET, 24) ^ _r64(_SECRET, 32)
        flip2 = _r64(_SECRET, 40) ^ _r64(_SECRET, 48)
        lo = _r64(data, 0) ^ flip1
        hi = _r64(data, n - 8) ^ flip2
        acc = (n + _swap64(lo) + hi + _fold(lo, hi)) & _M
        return _avalanche3(acc)
    if n >= 4:
        i1 = _r32(data, 0)
        i2 = _r32(data, n - 4)
        keyed = (i2 + (i1 << 32)) ^ (_r64(_SECRET, 8) ^ _r64(_SECRET, 16))
        return _rrmxmx(keyed & _M, n)
    if n:
        c1, c2, c3 = data[0], data[n >> 1], data[n - 1]
        combined = (c1 << 16) | (c2 << 24) | c3 | (n << 8)
        flip = _r32(_SECRET, 0) ^ _r32(_SECRET, 4)
        return _avalanche64(combined ^ flip)
    return _avalanche64(_r64(_SECRET, 56) ^ _r64(_SECRET, 64))


def _len_17to128(data: bytes, n: int) -> int:
    acc = (n * _P64_1) & _M
    if n > 32:
        if n > 64:
            if n > 96:
                acc += _mix16(data, 48, 96) + _mix16(data, n - 64, 112)
            acc += _mix16(data, 32, 64) + _mix16(data, n - 48, 80)
        acc += _mix16(data, 16, 32) + _mix16(data, n - 32, 48)
    acc += _mix16(data, 0, 0) + _mix16(data, n - 16, 16)
    return _avalanche3(acc & _M)


def _len_129to240(data: bytes, n: int) -> int:
    acc = (n * _P64_1) & _M
    for i in range(8):
        acc = (acc + _mix16(data, 16 * i, 16 * i)) & _M
    acc = _avalanche3(acc)
    for i in range(8, n // 16):
        acc = (acc + _mix16(data, 16 * i, 16 * (i - 8) + 3)) & _M
    acc = (acc + _mix16(data, n - 16, 136 - 17)) & _M
    return _avalanche3(acc)


def _accumulate_512(acc: list, data: bytes, doff: int, soff: int) -> None:
    for i in range(8):
        dv = _r64(data, doff + 8 * i)
        dk = dv ^ _r64(_SECRET, soff + 8 * i)
        acc[i ^ 1] = (acc[i ^ 1] + dv) & _M
        acc[i] = (acc[i] + (dk & 0xFFFFFFFF) * (dk >> 32)) & _M


def _scramble(acc: list) -> None:
    for i in range(8):
        a = acc[i]
        a ^= a >> 47
        a ^= _r64(_SECRET, 128 + 8 * i)
        acc[i] = (a * _P32_1) & _M


def _hash_long(data: bytes, n: int) -> int:
    acc = [_P32_3, _P64_1, _P64_2, _P64_3, _P64_4, _P32_2, _P64_5,
           _P32_1]
    stripes_per_block = (len(_SECRET) - 64) // 8  # 16
    block_len = 64 * stripes_per_block
    nb_blocks = (n - 1) // block_len
    for b in range(nb_blocks):
        for s in range(stripes_per_block):
            _accumulate_512(acc, data, b * block_len + 64 * s, 8 * s)
        _scramble(acc)
    nb_stripes = ((n - 1) - block_len * nb_blocks) // 64
    for s in range(nb_stripes):
        _accumulate_512(acc, data, nb_blocks * block_len + 64 * s, 8 * s)
    _accumulate_512(acc, data, n - 64, len(_SECRET) - 64 - 7)
    result = (n * _P64_1) & _M
    for i in range(4):
        result = (result + _fold(
            acc[2 * i] ^ _r64(_SECRET, 11 + 16 * i),
            acc[2 * i + 1] ^ _r64(_SECRET, 11 + 16 * i + 8))) & _M
    return _avalanche3(result)


def xxh3_64(data: bytes) -> int:
    """XXH3_64bits(data) with seed 0 and the default secret."""
    n = len(data)
    if n <= 16:
        return _len_0to16(data, n)
    if n <= 128:
        return _len_17to128(data, n)
    if n <= 240:
        return _len_129to240(data, n)
    return _hash_long(data, n)
