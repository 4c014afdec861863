"""Vectorized numpy reimplementation of Spark's ``xxhash64`` on longs.

Spark's ``F.xxhash64`` (catalyst ``XxHash64``) chains XXH64 over its
arguments: ``hash = hashLong(field, hash)`` starting from seed 42, with
the 8-byte single-block form ``hashLong`` for a long.  It is closed-form
uint64 arithmetic, so it vectorizes exactly in numpy — verified
bit-for-bit against the JVM in tests/test_operators.py.  This lets an
Arrow kernel (pandas_udf) compute hash-derived values over whole batches
with array math while producing values IDENTICAL to the JVM expression
``F.xxhash64(...)`` — the exact shingle hashes of
``queries/similarity.py:_shingle_hashes`` chain it over token hashes.

Why a kernel at all: higher-order column expressions
(``transform``/``aggregate``/``zip_with``) are interpreted per element,
while the identical arithmetic over one Arrow batch is a few
milliseconds of numpy.
"""

from __future__ import annotations

import numpy as np

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)

_SEED = np.uint64(42)  # Spark's default xxhash64 seed


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    r64 = np.uint64(r)
    return (x << r64) | (x >> (np.uint64(64) - r64))


def _fmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> np.uint64(33))
    h = h * _P2
    h = h ^ (h >> np.uint64(29))
    h = h * _P3
    h = h ^ (h >> np.uint64(32))
    return h


def hash_long(inp: np.ndarray, seed) -> np.ndarray:
    """XXH64 of one 8-byte block — Spark ``XxHash64.hashLong``.

    ``inp`` any int dtype (viewed as uint64); ``seed`` scalar or array.
    Returns uint64 (callers ``.view(np.int64)`` for Spark LongType).
    """
    with np.errstate(over="ignore"):
        inp = inp.astype(np.int64).view(np.uint64)
        seed = np.asarray(seed).astype(np.uint64)
        h = seed + _P5 + np.uint64(8)
        h = h ^ (_rotl(inp * _P2, 31) * _P1)
        h = _rotl(h, 27) * _P1 + _P4
        return _fmix(h)


def xxhash64_long(inp: np.ndarray) -> np.ndarray:
    """= Spark ``F.xxhash64(long_col)``; returns int64."""
    return hash_long(inp, _SEED).view(np.int64)
