"""Spark's ``xxhash64`` on the driver: vectorised XXH64 over byte strings.

``xxh64(values)`` returns, as signed int64, bit-for-bit what
``F.xxhash64(col)`` returns for a string or binary column holding the same
bytes (Spark's ``XXH64.hashUnsafeBytes`` with its seed 42) — the hash of
the txlog's Bloom sidecars and probes. Fixed-width
values hash as their little-endian bytes, so an int64 array viewed as
8-byte rows gives ``F.xxhash64`` of a LONG column and int32 day numbers that
of a DATE column.

Values are grouped by byte length; each group is one (n, length) uint8
matrix whose rows run through the XXH64 rounds together. numpy's uint64
arithmetic wraps on overflow, which is XXH64's modular arithmetic.
"""

from __future__ import annotations

import numpy as np

SPARK_SEED = 42

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)
_ZERO = np.uint64(0)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _round(acc, lane: np.ndarray) -> np.ndarray:
    return _rotl(acc + lane * _P2, 31) * _P1


def _hash_rows(mat: np.ndarray) -> np.ndarray:
    """XXH64 of every row of an (n, length) uint8 matrix, as uint64."""
    n, length = mat.shape
    nwords = length // 8
    words = np.ascontiguousarray(mat[:, :nwords * 8]).view("<u8")
    s = np.full(n, SPARK_SEED, np.uint64)
    w = 0
    if length >= 32:
        v = [s + _P1 + _P2, s + _P2, s.copy(), s - _P1]
        w = (length // 32) * 4
        for stripe in range(0, w, 4):
            v = [_round(v[j], words[:, stripe + j]) for j in range(4)]
        h = _rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)
        for vj in v:
            h = (h ^ _round(_ZERO, vj)) * _P1 + _P4
    else:
        h = s + _P5
    h = h + np.uint64(length)
    for i in range(w, nwords):
        h = _rotl(h ^ _round(_ZERO, words[:, i]), 27) * _P1 + _P4
    off = nwords * 8
    if length - off >= 4:
        lane = np.ascontiguousarray(mat[:, off:off + 4]).view("<u4")[:, 0]
        h = _rotl(h ^ (lane.astype(np.uint64) * _P1), 23) * _P2 + _P3
        off += 4
    for b in range(off, length):
        h = _rotl(h ^ (mat[:, b].astype(np.uint64) * _P5), 11) * _P1
    h = (h ^ (h >> np.uint64(33))) * _P2
    h = (h ^ (h >> np.uint64(29))) * _P3
    return h ^ (h >> np.uint64(32))


def xxh64(values) -> np.ndarray:
    """Signed int64 XXH64 (Spark's seed) of each value of a pyarrow string
    or binary array without nulls."""
    import pyarrow as pa

    if values.type not in (pa.string(), pa.binary()):
        raise TypeError(f"xxh64: expected string or binary, got {values.type}")
    if values.null_count:
        raise ValueError("xxh64: null values have no byte string to hash")
    _, offs_buf, data_buf = values.buffers()
    offs = np.frombuffer(offs_buf, np.int32)[
        values.offset:values.offset + len(values) + 1].astype(np.int64)
    data = (np.frombuffer(data_buf, np.uint8) if data_buf is not None
            else np.zeros(0, np.uint8))
    starts, lens = offs[:-1], np.diff(offs)
    out = np.empty(len(values), np.uint64)
    with np.errstate(over="ignore"):
        for length in np.unique(lens):
            rows = np.flatnonzero(lens == length)
            mat = data[starts[rows, None] + np.arange(length)]
            out[rows] = _hash_rows(mat)
    return out.view(np.int64)
