"""MinHash signature (Broder 1997) — mergeable set-similarity sketch.

k minimum values under k hash functions, derived from one 64-bit item hash
via splitmix64 remixing per slot.  Merge = elementwise min (associative,
commutative, idempotent → byte-identical under any partition order, like
HLL's register max).  Jaccard(A, B) ≈ fraction of matching signature slots.

Also the building block of MinHash-LSH near-duplicate detection
(hllspark.pipeline.dedup): band the signature, bucket-join on band hashes.
"""

from __future__ import annotations

import struct

import numpy as np

from ..core.hash import hash_arrow_array

_HEADER = struct.Struct("<BBHq")  # version, hash_kind, k, n_added
# v2: the hash_kind=1 (Spark-xxhash) slot remix changed from splitmix64 to
# the xxhash64(h, j) chain (what the JVM builder can evaluate natively under
# ANSI mode).  v1 blobs with hash_kind=1 used the old remix and must not be
# silently compared/merged with v2 signatures; murmur (hash_kind=0) blobs
# are remix-unchanged and decode fine.
_VERSION = 2
_MAX = np.uint64(0xFFFFFFFFFFFFFFFF)


def _remix(h: np.ndarray, salt: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over h ⊕ (salt+1)·φ64 — k cheap derived hashes."""
    z = h[None, :] ^ (salt[:, None] * np.uint64(0x9E3779B97F4A7C15))
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _remix_spark(h: np.ndarray, k: int) -> np.ndarray:
    """Derived hashes matching Spark's ``xxhash64(hash_col, lit(j))`` for
    j = 1..k — the remix MinHashAggregator replays in the JVM, and the one
    Spark SQL can run natively without wrapping multiplies (ANSI mode
    forbids overflow), so
    hash_kind=HASH_XXHASH_SPARK sketches stay byte-identical across engines.
    Spark folds multi-arg xxhash64 left-to-right: hashLong(h, 42) seeds
    hashInt(j, ·)."""
    from ..core.xxhash import _P1, _P2, _P3, _P5, _avalanche, _rotl, xxh64_long

    s0 = xxh64_long(h.view(np.int64))  # (n,)
    out = np.empty((k, len(h)), dtype=np.uint64)
    for j in range(1, k + 1):
        hh = s0 + np.uint64(int(_P5) + 4)
        hh = hh ^ np.uint64((j * int(_P1)) & 0xFFFFFFFFFFFFFFFF)
        hh = _rotl(hh, 23) * _P2 + _P3
        out[j - 1] = _avalanche(hh)
    return out


class MinHash:
    __slots__ = ("k", "sig", "n_added", "hash_kind")

    def __init__(self, k: int, sig: np.ndarray, n_added: int = 0, hash_kind: int = 0):
        self.k = k
        self.sig = sig  # uint64[k], MAX = empty slot
        self.n_added = n_added
        self.hash_kind = hash_kind

    @classmethod
    def create(cls, k: int = 128, hash_kind: int = 0) -> "MinHash":
        if k < 1 or k > 4096:
            raise ValueError("k must be in [1, 4096]")
        return cls(k, np.full(k, _MAX, dtype=np.uint64), 0, hash_kind)

    def add_hashes(self, h: np.ndarray) -> None:
        h = h.astype(np.uint64, copy=False)
        if len(h) == 0:
            return
        if self.hash_kind == 1:  # HASH_XXHASH_SPARK: JVM-builder-compatible remix
            mins = _remix_spark(h, self.k).min(axis=1)
        else:
            salt = np.arange(1, self.k + 1, dtype=np.uint64)
            mins = _remix(h, salt).min(axis=1)
        np.minimum(self.sig, mins, out=self.sig)
        self.n_added += len(h)

    def update_arrow(self, arr, input_type: str = "auto") -> None:
        self.add_hashes(hash_arrow_array(arr, input_type))

    def jaccard(self, other: "MinHash") -> float:
        if self.k != other.k:
            raise ValueError("minhash k differs")
        if self.hash_kind != other.hash_kind:
            raise ValueError("hash kind of sketches differs")
        return float(np.mean(self.sig == other.sig))

    def merge(self, other: "MinHash") -> "MinHash":
        if self.k != other.k:
            raise ValueError("minhash k differs")
        if self.hash_kind != other.hash_kind:
            raise ValueError("hash kind of sketches differs")
        np.minimum(self.sig, other.sig, out=self.sig)
        self.n_added += other.n_added
        return self

    def copy(self) -> "MinHash":
        return MinHash(self.k, self.sig.copy(), self.n_added, self.hash_kind)

    def to_bytes(self) -> bytes:
        return _HEADER.pack(_VERSION, self.hash_kind, self.k, self.n_added) + self.sig.astype("<u8").tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "MinHash":
        version, hash_kind, k, n_added = _HEADER.unpack_from(data, 0)
        if version > _VERSION:
            raise ValueError(f"unsupported minhash version {version}")
        if version < 2 and hash_kind == 1:
            raise ValueError(
                "minhash v1 blobs with hash_kind=1 used the splitmix64 remix; "
                "v2 derives slots via the xxhash64(h, j) chain — rebuild the sketch"
            )
        sig = np.frombuffer(data, dtype="<u8", count=k, offset=_HEADER.size).astype(np.uint64)
        return cls(k, sig, n_added, hash_kind)


def signature_matrix(hashes_per_row: list[np.ndarray], k: int = 128) -> np.ndarray:
    """Batch MinHash: one signature row per input hash-set — used by the
    LSH dedup pipeline (vectorized over documents)."""
    salt = np.arange(1, k + 1, dtype=np.uint64)
    out = np.full((len(hashes_per_row), k), _MAX, dtype=np.uint64)
    for i, h in enumerate(hashes_per_row):
        if len(h):
            out[i] = _remix(h.astype(np.uint64), salt).min(axis=1)
    return out
