"""Vectorized, bit-exact XXH64 (Yann Collet, BSD) matching Spark's
``xxhash64(col)`` (seed 42, per-type dispatch: IntegerType → 4-byte path,
LongType → 8-byte path, strings/binary → raw UTF-8 bytes).

Why: the JVM engine and jvm_prehash build sketches from Spark's xxhash64
(hash_kind=HASH_XXHASH_SPARK).  Probing or extending those sketches from
Python (cm_query/bloom_contains on a JVM-built sketch, driver-side adds)
needs the identical hash — this module provides it, validated against
F.xxhash64 outputs in tests/test_xxhash.py.
"""

from __future__ import annotations

import numpy as np

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)
SPARK_SEED = np.uint64(42)

_U64 = np.uint64


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << _U64(r)) | (x >> _U64(64 - r))


def _avalanche(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> _U64(33))
    h = h * _P2
    h = h ^ (h >> _U64(29))
    h = h * _P3
    h = h ^ (h >> _U64(32))
    return h


def xxh64_long(vals, seed: np.uint64 = SPARK_SEED) -> np.ndarray:
    """Spark XXH64.hashLong: the value's 8 LE bytes."""
    x = np.asarray(vals, dtype=np.int64).view(np.uint64)
    h = np.full(x.shape, np.uint64((int(seed) + int(_P5) + 8) & 0xFFFFFFFFFFFFFFFF), dtype=np.uint64)
    k1 = _rotl(x * _P2, 31) * _P1
    h = h ^ k1
    h = _rotl(h, 27) * _P1 + _P4
    return _avalanche(h)


def xxh64_int(vals, seed: np.uint64 = SPARK_SEED) -> np.ndarray:
    """Spark XXH64.hashInt: the value's 4 LE bytes (IntegerType columns)."""
    x = np.asarray(vals, dtype=np.int32).view(np.uint32).astype(np.uint64)
    h = np.full(x.shape, np.uint64((int(seed) + int(_P5) + 4) & 0xFFFFFFFFFFFFFFFF), dtype=np.uint64)
    h = h ^ (x * _P1)
    h = _rotl(h, 23) * _P2 + _P3
    return _avalanche(h)


def _load64(flat: np.ndarray, base: np.ndarray) -> np.ndarray:
    return flat[base[:, None] + np.arange(8)].view(np.uint64).ravel()


def _load32(flat: np.ndarray, base: np.ndarray) -> np.ndarray:
    return flat[base[:, None] + np.arange(4)].view(np.uint32).ravel().astype(np.uint64)


def xxh64_bytes(flat: np.ndarray, offsets: np.ndarray, seed: np.uint64 = SPARK_SEED) -> np.ndarray:
    """XXH64 of N variable-length byte strings (flat uint8 + int64 offsets)."""
    flat = flat.astype(np.uint8, copy=False)
    offsets = offsets.astype(np.int64, copy=False)
    starts = offsets[:-1]
    lens = offsets[1:] - starts
    n = len(lens)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    seed = _U64(seed)

    h = np.empty(n, dtype=np.uint64)
    nstripes = lens >> 5  # 32-byte stripes

    big = nstripes > 0
    if big.any():
        rows = np.nonzero(big)[0]
        M = 0xFFFFFFFFFFFFFFFF
        v1 = np.full(len(rows), np.uint64((int(seed) + int(_P1) + int(_P2)) & M), dtype=np.uint64)
        v2 = np.full(len(rows), np.uint64((int(seed) + int(_P2)) & M), dtype=np.uint64)
        v3 = np.full(len(rows), seed, dtype=np.uint64)
        v4 = np.full(len(rows), np.uint64((int(seed) - int(_P1)) & M), dtype=np.uint64)
        # process stripes sorted desc so each round is a prefix
        order = np.argsort(-nstripes[rows], kind="stable")
        rows = rows[order]
        r_starts = starts[rows]
        r_nstripes = nstripes[rows]
        v1, v2, v3, v4 = v1[order], v2[order], v3[order], v4[order]
        maxs = int(r_nstripes[0])
        for j in range(maxs):
            cnt = int(np.searchsorted(-r_nstripes, -(j + 1), side="right"))
            base = r_starts[:cnt] + 32 * j
            for vi, off in ((v1, 0), (v2, 8), (v3, 16), (v4, 24)):
                lane = _load64(flat, base + off)
                vv = vi[:cnt]
                vv += lane * _P2
                vi[:cnt] = _rotl(vv, 31) * _P1
        hb = _rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)
        for vi in (v1, v2, v3, v4):
            hb = (hb ^ (_rotl(vi * _P2, 31) * _P1)) * _P1 + _P4
        h[rows] = hb

    small = ~big
    if small.any():
        h[small] = seed + _P5

    h = h + lens.astype(np.uint64)

    # tail: remaining bytes after the stripes
    pos = starts + (nstripes << 5)
    rem = lens - (nstripes << 5)

    n8 = rem >> 3
    max8 = int(n8.max()) if n else 0
    for j in range(max8):
        m = n8 > j
        rows = np.nonzero(m)[0]
        k1 = _rotl(_load64(flat, pos[rows] + 8 * j) * _P2, 31) * _P1
        h[rows] = _rotl(h[rows] ^ k1, 27) * _P1 + _P4
    pos = pos + (n8 << 3)
    rem = rem - (n8 << 3)

    m4 = rem >= 4
    if m4.any():
        rows = np.nonzero(m4)[0]
        h[rows] = _rotl(h[rows] ^ (_load32(flat, pos[rows]) * _P1), 23) * _P2 + _P3
    pos = pos + np.where(m4, 4, 0)
    rem = rem - np.where(m4, 4, 0)

    maxb = int(rem.max()) if n else 0
    for j in range(maxb):
        m = rem > j
        rows = np.nonzero(m)[0]
        h[rows] = _rotl(h[rows] ^ (flat[pos[rows] + j].astype(np.uint64) * _P5), 11) * _P1

    return _avalanche(h)


def xxh64_strings(series, seed: np.uint64 = SPARK_SEED) -> np.ndarray:
    """Spark-compatible xxhash64 of a pandas/pyarrow string or binary column."""
    from .hash import arrow_string_buffers

    import pyarrow as pa

    arr = series if isinstance(series, (pa.Array, pa.ChunkedArray)) else pa.Array.from_pandas(series)
    flat, offsets = arrow_string_buffers(arr)
    return xxh64_bytes(flat, offsets, seed)


def spark_xxhash64_series(s, sql_type: str = "auto") -> np.ndarray:
    """Hash a null-free pandas Series exactly like Spark's xxhash64(col).

    Integral values ALWAYS hash via the 8-byte LongType path in "auto" mode.
    This is safe because every JVM hashing entry point in this library
    (agg.jvm_hash_expr, used by every jvm_udaf builder and by jvm_prehash)
    canonicalizes byte/short/int/boolean columns to
    LongType before calling F.xxhash64 — the probe side cannot recover the
    SQL type from a pandas batch (an int64 column WITH NULLS arrives as
    float64, per batch), so the builder side guarantees the domain instead.
    To probe a sketch built with a raw ``F.xxhash64(int_col)`` outside those
    entry points, pass ``sql_type='int32'`` explicitly (Spark's 4-byte
    hashInt path)."""
    import pandas as pd

    if sql_type == "auto":
        if pd.api.types.is_float_dtype(s.dtype):
            # integral floats are nullable longs in pandas
            sql_type = "long"
        elif pd.api.types.is_integer_dtype(s.dtype) or pd.api.types.is_bool_dtype(s.dtype):
            sql_type = "long"
        else:
            sql_type = "string"
    if sql_type in ("int", "int32"):
        return xxh64_int(s.to_numpy(dtype=np.int64).astype(np.int32))
    if sql_type in ("long", "bigint", "int64"):
        return xxh64_long(s.to_numpy(dtype=np.int64))
    return xxh64_strings(s.astype(str) if s.dtype == object else s)
