"""Core HyperLogLog++ counter: vectorized numpy kernels + a tiny state class.

Re-implements, bit-for-bit where the reference is deterministic, the HLL
algebra of conversant/postgres_hyperloglog:

- parameter derivation b/binbits          (hyperloglog.c:176-226 hll_create)
- sparse 32-bit hash encoding             (hyperloglog.c:660-710 encode_hash)
- sparse add + dedupe + promote           (hyperloglog.c:632-658)
- dense add with rho rehash chain         (hyperloglog.c:588-630)
- sparse→dense decode                     (hyperloglog.c:712-846)
- merge (register max / concat-dedupe)    (hyperloglog.c:251-337 hll_merge)
- dense estimator with HLL++ bias fit     (hyperloglog.c:421-537)
- sparse estimator (linear counting)      (hyperloglog.c:539-566)
- register equality                       (hyperloglog.c:858-919)

In-memory registers are always an unpacked uint8 array (the reference's
UNPACKED format, hyperloglog.c:62-109); the serialized form is a versioned
8-byte header + payload (sparse: sorted unique uint32 LE list; dense: raw
registers).  PGLZ compression is intentionally dropped — Parquet/shuffle
codecs subsume it (see SURVEY.md §4).

One deliberate, documented divergence for *deterministic distributed merges*:
the reference promotes sparse→dense when a raw append overflows capacity and
a dedupe leaves > 7/8·capacity entries (order-dependent for duplicate-heavy
streams, hyperloglog.c:650-655).  Here sparse state is always kept sorted
unique and promotion happens exactly when the unique count exceeds capacity
(1020 at b=14, hllutils.c:112-116).  For duplicate-free series the promotion
point (1020→1021) and all goldens are identical; for duplicate-heavy input
our representation is order-independent, which is what makes final registers
byte-identical under any partition order (BASELINE.md merge-determinism
target).
"""

from __future__ import annotations

import math
import struct

import numpy as np

from ._constants import ALPHAM, BIAS, MASK, NUM_POINTS, PE, RAW_ESTIMATE, THRESHOLD
from .hash import clz32, clz64, murmur64_u64

HASH_LENGTH = 64
MIN_INDEX_BITS = 4
MAX_INDEX_BITS = 18
MIN_BINBITS = 4
MAX_BINBITS = 8
ERROR_CONST = 1.0816
STRUCT_VERSION = 2
DEFAULT_ERROR = 0.008125  # hyperloglog_counter.c:27-29
DEFAULT_NDISTINCT = float(2**63)

_HEADER = struct.Struct("<BbBBi")  # version, b, binbits, flags, idx
_FLAG_DENSE = 1
_FLAG_PACKED = 8  # dense payload is bit-packed at binbits bits/register
_FLAG_VARINT = 16  # sparse payload is delta + group-varint compressed
_FLAG_DEFLATE = 32  # dense payload is zlib(raw 1-byte registers) — the
# analogue of the reference's PGLZ over unpacked registers (hll_compress,
# hyperloglog.c:1045-1078); kept only when smaller than the bit-packed form
# bits 1-2 of flags: hash kind — sketches hashed differently must never merge
HASH_MURMUR = 0  # MurmurHash64A seed 0xadc83b19 (reference-parity)
HASH_XXHASH_SPARK = 1  # Spark JVM xxhash64(seed=42) pre-hashing (scale path)
_HASH_KIND_SHIFT = 1
_HASH_KIND_MASK = 0b110
# Forward-compat contract for v2 blobs: new payload ENCODINGS are introduced
# as new flag bits (like _FLAG_DEFLATE was, late in round 2) without a
# version bump — but a decoder must REJECT unknown bits loudly instead of
# misparsing the payload (a raw frombuffer size error explains nothing).
# Changes to the header layout or hashing DOMAIN still bump STRUCT_VERSION.
_KNOWN_FLAGS = _FLAG_DENSE | _FLAG_PACKED | _FLAG_VARINT | _FLAG_DEFLATE | _HASH_KIND_MASK


def params_from_error(error: float = DEFAULT_ERROR, ndistinct: float = DEFAULT_NDISTINCT) -> tuple[int, int]:
    """Derive (b, binbits) replicating the reference's float32 arithmetic.

    hll_create (hyperloglog.c:204-211): ``m`` is a C float, so the division
    result is rounded to float32 before log2 — this decides the b=14 boundary
    at the default error rate (16384-boundary case, SURVEY.md §1.2).
    """
    if not (0.0 < error < 1.0):
        raise ValueError("error rate must be in (0, 1)")
    binbits = int(math.ceil(math.log2(math.log2(ndistinct))))
    if binbits <= MIN_BINBITS or binbits >= MAX_BINBITS:
        raise ValueError("ndistinct must be between 257 and 1.1579e77")
    e2 = np.float32(error) * np.float32(error)  # C: float * float
    m32 = np.float32(np.float64(ERROR_CONST) / np.float64(e2))  # double / float → float
    b = int(math.ceil(math.log2(float(m32))))
    if b < MIN_INDEX_BITS:
        b = MIN_INDEX_BITS
    elif b > MAX_INDEX_BITS:
        raise ValueError(f"number of index bits exceeds {MAX_INDEX_BITS} (requested {b})")
    return b, binbits


def sparse_capacity(b: int) -> int:
    """Max sparse entries: 2^(b-4) − ceil(sizeof(HLLData)/4) = 2^(b-4) − 4.

    (hllutils.c:112-116; = 1020 at b=14, the 4 KiB-aligned threshold.)
    """
    return max(0, (1 << (b - 4)) - 4)


def predict_dense_size(error: float = DEFAULT_ERROR, ndistinct: float = DEFAULT_NDISTINCT) -> int:
    """hyperloglog_size(): header + bit-packed register bytes (hyperloglog.c:342-369)."""
    b, binbits = params_from_error(error, ndistinct)
    return 16 + int(math.ceil((1 << b) * binbits / 8.0))


# ---------------------------------------------------------------------------
# vectorized kernels
# ---------------------------------------------------------------------------


def _rho_chain(h: np.ndarray, start_rho: int, cap: int) -> np.ndarray:
    """Extend rho by rehashing for rows whose suffix run overflowed.

    Mirrors the rehash loop of hll_add_hash_dense (hyperloglog.c:611-620):
    addn=64; rho=start; while addn==64 and rho<cap: h=murmur(h); addn=clz(h)+1;
    rho+=addn.  Probability ~2^-50 per row, so the loop is effectively O(1).
    """
    n = len(h)
    rho = np.full(n, start_rho, dtype=np.int64)
    addn = np.full(n, HASH_LENGTH, dtype=np.int64)
    hh = h.copy()
    while True:
        act = (addn == HASH_LENGTH) & (rho < cap)
        if not act.any():
            break
        hh_a = murmur64_u64(hh[act])
        hh[act] = hh_a
        a = clz64(hh_a).astype(np.int64) + 1
        addn[act] = a
        rho[act] += a
    return rho


def dense_add_hashes(regs: np.ndarray, h: np.ndarray, b: int, binbits: int) -> None:
    """Register-max a batch of 64-bit hashes into unpacked registers in place."""
    idx = (h >> np.uint64(HASH_LENGTH - b)).astype(np.int64)
    rho = (clz64(h << np.uint64(b)).astype(np.int64)) + 1
    over = rho >= HASH_LENGTH  # includes the all-zero-suffix case (C UB, see hash.py)
    if over.any():
        rows = np.nonzero(over)[0]
        rho[rows] = _rho_chain(h[rows], HASH_LENGTH - b, 1 << binbits)
    np.maximum.at(regs, idx, rho.astype(np.uint8))


def encode_hashes(h: np.ndarray, b: int, binbits: int) -> np.ndarray:
    """64-bit hashes → 32-bit sparse encodings (encode_hash, hyperloglog.c:678-710)."""
    pprime = 32 - 1 - binbits  # 25 bits of sub-index at binbits=6
    idx = (h >> np.uint64(HASH_LENGTH - pprime)).astype(np.uint32)
    mask = np.uint32(MASK[b - MIN_INDEX_BITS][binbits - MIN_BINBITS])
    sig = (idx & mask) != 0

    enc = np.empty(len(h), dtype=np.uint32)
    enc[sig] = idx[sig] << np.uint32(1)

    ns = ~sig
    if ns.any():
        hs = h[ns]
        rho = clz64(hs << np.uint64(pprime)).astype(np.int64) + 1
        over = rho >= HASH_LENGTH
        if over.any():
            rows = np.nonzero(over)[0]
            rho[rows] = _rho_chain(hs[rows], HASH_LENGTH - pprime, 1 << binbits)
        e = (idx[ns].astype(np.uint32) << np.uint32(binbits)) + rho.astype(np.uint32)
        enc[ns] = (e << np.uint32(1)) + np.uint32(1)
    return enc


def decode_encodes(enc: np.ndarray, b: int, binbits: int) -> tuple[np.ndarray, np.ndarray]:
    """32-bit sparse encodings → (dense idx, rho) (sparse_to_dense, hyperloglog.c:741-755)."""
    enc = enc.astype(np.uint32, copy=False)
    flagged = (enc & np.uint32(1)) != 0

    idx = np.empty(len(enc), dtype=np.int64)
    rho = np.empty(len(enc), dtype=np.uint8)

    if flagged.any():
        e = enc[flagged]
        idx[flagged] = (e >> np.uint32(32 - b)).astype(np.int64)
        stored = ((e & np.uint32((1 << (binbits + 1)) - 2)) >> np.uint32(1)).astype(np.int64)
        rho[flagged] = (stored + (32 - 1 - b - binbits)).astype(np.uint8)

    nf = ~flagged
    if nf.any():
        e = enc[nf]
        t = (e << np.uint32(binbits)) >> np.uint32(binbits)  # clear top binbits bits
        idx[nf] = (t >> np.uint32(32 - (binbits + b))).astype(np.int64)
        rho[nf] = clz32(e << np.uint32(binbits + b)) + np.uint8(1)
    return idx, rho


def _estimate_sparse(unique_count: int, binbits: int) -> float:
    """Linear counting over the 2^(32-1-binbits) sparse space (hyperloglog.c:539-566)."""
    m = float(1 << (32 - 1 - binbits))
    return m * math.log(m / (m - unique_count))


def _error_estimate(E: float, b: int) -> float:
    """HLL++ bias fit: OLS over the 6 nearest published points (hyperloglog.c:485-537)."""
    maxp = int(NUM_POINTS[b - MIN_INDEX_BITS])
    xs_all = RAW_ESTIMATE[b - MIN_INDEX_BITS]
    ys_all = BIAS[b - MIN_INDEX_BITS]
    idx = int(np.searchsorted(xs_all[:maxp], E, side="right"))  # first point > E, else maxp
    if idx < 3:
        idx = 3
    elif idx > maxp - 2:
        idx = maxp - 2
    # exact C summation order (idx+2, idx+1, idx, idx-1, idx-2, idx-3)
    order = [idx + 2, idx + 1, idx, idx - 1, idx - 2, idx - 3]
    xs = [float(xs_all[i]) for i in order]
    ys = [float(ys_all[i]) for i in order]
    sx = xs[0] + xs[1] + xs[2] + xs[3] + xs[4] + xs[5]
    sxx = xs[0] * xs[0] + xs[1] * xs[1] + xs[2] * xs[2] + xs[3] * xs[3] + xs[4] * xs[4] + xs[5] * xs[5]
    sy = ys[0] + ys[1] + ys[2] + ys[3] + ys[4] + ys[5]
    sxy = xs[0] * ys[0] + xs[1] * ys[1] + xs[2] * ys[2] + xs[3] * ys[3] + xs[4] * ys[4] + xs[5] * ys[5]
    beta = (6.0 * sxy - sx * sy) / (6.0 * sxx - sx * sx)
    alpha = (1.0 / 6.0) * sy - beta * (1.0 / 6.0) * sx
    return alpha + E * beta


def _alpham(b: int) -> float:
    """alpha*m^2 for precision b. The reference's table (constants.h:47) stops
    at b=16 although MAX_INDEX_BITS=18 — reading alpham[17] in C is out of
    bounds.  For b>16 we use the published formula from Flajolet et al. 2007:
    alpha_m = 0.7213 / (1 + 1.079/m)."""
    if b < len(ALPHAM):
        return float(np.float64(ALPHAM[b]))
    m = float(1 << b)
    return float(np.float32(0.7213 / (1.0 + 1.079 / m) * m * m))


def _estimate_dense(regs: np.ndarray, b: int, binbits: int) -> float:
    """HLL++ dense estimator (hyperloglog.c:421-482), sequential-sum parity."""
    m = 1 << b
    if binbits <= 6:
        terms = PE[regs]
    else:
        terms = np.where(regs < len(PE), PE[np.minimum(regs, len(PE) - 1)], np.power(0.5, regs.astype(np.float64)))
    # C sums sequentially in double; cumsum preserves that rounding order
    H = float(np.cumsum(terms)[-1])
    E = _alpham(b) / H
    if E <= 5.0 * m:
        E = E - _error_estimate(E, b)
        V = int(np.count_nonzero(regs == 0))
        if V != 0:
            ratio = np.float32(m) / np.float32(V)  # C: m / (float)V is float32
            Hlin = m * math.log(float(ratio))
        else:
            Hlin = E
        if Hlin <= float(THRESHOLD[b]):
            E = Hlin
    return E


def compress_sparse(enc: np.ndarray) -> bytes:
    """Delta + group-varint compression of a sorted-unique uint32 encode list
    (hll_compress_sparse, hyperloglog.c:1080-1115; codec varint.h:908-941).

    Groups of 4 deltas share one tag byte (2 bits each → byte length 1-4);
    the ≤3 remainder deltas use continuation-bit varints.  Layout differs
    from the reference in ONE way: all tag bytes precede all data bytes
    (tags-first) instead of interleaving, which makes the numpy decode fully
    vectorizable at identical size.  Payload sizes match the reference's
    compression.ref goldens byte-for-byte at every checkpoint
    (330/1450/2643/2689 B including the header delta).
    """
    n = len(enc)
    d = np.diff(enc.astype(np.uint64), prepend=np.uint64(0)).astype(np.uint32)
    ngroups = n // 4
    g = d[: ngroups * 4]
    lens = (1 + (g > 0xFF) + (g > 0xFFFF) + (g > 0xFFFFFF)).astype(np.int64)
    if ngroups:
        l2 = (lens - 1).reshape(-1, 4)
        tags = (l2[:, 0] | (l2[:, 1] << 2) | (l2[:, 2] << 4) | (l2[:, 3] << 6)).astype(np.uint8)
        ends = np.cumsum(lens)
        starts = ends - lens
        data = np.zeros(int(ends[-1]), dtype=np.uint8)
        gb = g.astype("<u4").view(np.uint8).reshape(-1, 4)
        for j in range(4):
            m = lens > j
            data[starts[m] + j] = gb[m, j]
        head = tags.tobytes() + data.tobytes()
    else:
        head = b""
    tail = bytearray()
    for v in d[ngroups * 4 :]:
        v = int(v)
        while True:
            b7 = v & 0x7F
            v >>= 7
            tail.append(b7 | (0x80 if v else 0))
            if not v:
                break
    return head + bytes(tail)


_TRUNCATED_VARINT = "truncated group-varint sparse payload"
# tag byte → number of data bytes its four 2-bit lengths imply (4..16)
_TAG_DATA_LEN = bytes(sum(((t >> (2 * j)) & 3) + 1 for j in range(4)) for t in range(256))


def decompress_sparse(payload: bytes, n: int) -> np.ndarray:
    """Inverse of compress_sparse → sorted-unique uint32 encode list.

    Raises ValueError when the payload does not hold exactly ``n`` entries
    (cut short, a dangling continuation byte, or extra varints) — the same
    refusal as the Java decoder (HllMergeAggregator.decompressSparse)."""
    ngroups = n // 4
    buf = np.frombuffer(payload, dtype=np.uint8)
    if ngroups:
        if len(buf) < ngroups:
            raise ValueError(_TRUNCATED_VARINT)
        tags = buf[:ngroups].astype(np.int64)
        l2 = np.empty(ngroups * 4, dtype=np.int64)
        l2[0::4] = tags & 3
        l2[1::4] = (tags >> 2) & 3
        l2[2::4] = (tags >> 4) & 3
        l2[3::4] = (tags >> 6) & 3
        lens = l2 + 1
        ends = np.cumsum(lens)
        starts = ends - lens
        data_end = ngroups + int(ends[-1])
        if data_end > len(buf):
            raise ValueError(_TRUNCATED_VARINT)
        data = buf[ngroups:data_end]
        vals = np.zeros((ngroups * 4, 4), dtype=np.uint8)
        for j in range(4):
            m = lens > j
            vals[m, j] = data[starts[m] + j]
        d = vals.view("<u4").ravel().astype(np.uint64)
        pos = data_end
    else:
        d = np.empty(0, dtype=np.uint64)
        pos = 0
    tail_vals = []
    v = 0
    shift = 0
    for byte in buf[pos:]:
        v |= (int(byte) & 0x7F) << shift
        if byte & 0x80:
            shift += 7
        else:
            tail_vals.append(v)
            v = 0
            shift = 0
    if shift or len(tail_vals) != n - 4 * ngroups:
        raise ValueError(_TRUNCATED_VARINT)
    if tail_vals:
        d = np.concatenate([d, np.array(tail_vals, dtype=np.uint64)])
    return np.cumsum(d).astype(np.uint32)


_TRUNCATED_PAYLOAD = "truncated sketch payload"


def _fixed_payload_size(b: int, binbits: int, flags: int, idx: int) -> int:
    """Bytes a raw-sparse, raw-dense or bit-packed-dense payload needs (0
    for the group-varint and deflate forms, which check their own length)."""
    if not flags & _FLAG_DENSE:
        return 0 if flags & _FLAG_VARINT else 4 * idx
    if flags & _FLAG_DEFLATE:
        return 0
    return ((1 << b) * binbits + 7) // 8 if flags & _FLAG_PACKED else 1 << b


def _pack_registers(regs: np.ndarray, binbits: int) -> bytes:
    """Bit-pack uint8 registers (< 2^binbits) to binbits bits each, vectorized
    via unpackbits/packbits (big-endian within the stream, self-consistent)."""
    bits = np.unpackbits(regs.reshape(-1, 1), axis=1)[:, 8 - binbits :]
    return np.packbits(bits.ravel()).tobytes()


def _unpack_registers(packed: np.ndarray, m: int, binbits: int) -> np.ndarray:
    bits = np.unpackbits(packed, count=m * binbits).reshape(m, binbits)
    weights = (1 << np.arange(binbits - 1, -1, -1, dtype=np.uint16)).astype(np.uint16)
    return (bits.astype(np.uint16) @ weights).astype(np.uint8)


# ---------------------------------------------------------------------------
# the counter object
# ---------------------------------------------------------------------------


class HLL:
    """One HLL++ counter. ``sparse`` is a sorted-unique uint32 encode list,
    or ``dense`` is an unpacked uint8[2^b] register array — never both."""

    __slots__ = ("b", "binbits", "sparse", "dense", "hash_kind")

    def __init__(
        self,
        b: int,
        binbits: int,
        sparse: np.ndarray | None,
        dense: np.ndarray | None,
        hash_kind: int = HASH_MURMUR,
    ):
        self.b = b
        self.binbits = binbits
        self.sparse = sparse
        self.dense = dense
        self.hash_kind = hash_kind

    # -- construction -------------------------------------------------------

    @classmethod
    def create(
        cls,
        error_rate: float = DEFAULT_ERROR,
        ndistinct: float = DEFAULT_NDISTINCT,
        b: int | None = None,
        binbits: int | None = None,
        hash_kind: int = HASH_MURMUR,
    ) -> "HLL":
        if b is None or binbits is None:
            db, dbin = params_from_error(error_rate, ndistinct)
            b = db if b is None else b
            binbits = dbin if binbits is None else binbits
        if not (MIN_INDEX_BITS <= b <= MAX_INDEX_BITS):
            raise ValueError(f"b must be in [{MIN_INDEX_BITS}, {MAX_INDEX_BITS}]")
        if not (MIN_BINBITS <= binbits <= MAX_BINBITS):
            raise ValueError(f"binbits must be in [{MIN_BINBITS}, {MAX_BINBITS}]")
        if sparse_capacity(b) > 0:
            return cls(b, binbits, np.empty(0, dtype=np.uint32), None, hash_kind)
        return cls(b, binbits, None, np.zeros(1 << b, dtype=np.uint8), hash_kind)

    def copy(self) -> "HLL":
        return HLL(
            self.b,
            self.binbits,
            None if self.sparse is None else self.sparse.copy(),
            None if self.dense is None else self.dense.copy(),
            self.hash_kind,
        )

    @property
    def is_sparse(self) -> bool:
        return self.sparse is not None

    # -- updates ------------------------------------------------------------

    def _promote(self) -> None:
        regs = np.zeros(1 << self.b, dtype=np.uint8)
        if len(self.sparse):
            idx, rho = decode_encodes(self.sparse, self.b, self.binbits)
            np.maximum.at(regs, idx, rho)
        self.sparse = None
        self.dense = regs

    def update_arrow(self, arr, input_type: str = "auto") -> None:
        """Sketch-protocol update: hash a null-free Arrow array and add it."""
        from .hash import hash_arrow_array

        self.add_hashes(hash_arrow_array(arr, input_type))

    def add_hashes(self, h: np.ndarray) -> None:
        """Add a batch of already-hashed 64-bit values."""
        h = h.astype(np.uint64, copy=False)
        if len(h) == 0:
            return
        if self.sparse is not None:
            enc = encode_hashes(h, self.b, self.binbits)
            merged = np.union1d(self.sparse, enc)
            if len(merged) > sparse_capacity(self.b):
                self.sparse = merged
                self._promote()
            else:
                self.sparse = merged
        else:
            dense_add_hashes(self.dense, h, self.b, self.binbits)

    def merge(self, other: "HLL") -> "HLL":
        """In-place register-max union (hll_merge, hyperloglog.c:251-337)."""
        if self.b != other.b:
            raise ValueError(f"index size of estimators differs ({self.b} != {other.b})")
        if self.binbits != other.binbits:
            raise ValueError(f"bin size of estimators differs ({self.binbits} != {other.binbits})")
        if self.hash_kind != other.hash_kind:
            raise ValueError(f"hash kind of estimators differs ({self.hash_kind} != {other.hash_kind})")
        if self.dense is not None and other.dense is not None:
            np.maximum(self.dense, other.dense, out=self.dense)
        elif self.dense is not None:
            if len(other.sparse):
                idx, rho = decode_encodes(other.sparse, other.b, other.binbits)
                np.maximum.at(self.dense, idx, rho)
        elif other.dense is not None:
            self._promote()
            np.maximum(self.dense, other.dense, out=self.dense)
        else:
            merged = np.union1d(self.sparse, other.sparse)
            self.sparse = merged
            if len(merged) > sparse_capacity(self.b):
                self._promote()
        return self

    # -- queries ------------------------------------------------------------

    def estimate(self) -> float:
        if self.sparse is not None:
            return _estimate_sparse(len(self.sparse), self.binbits)
        return _estimate_dense(self.dense, self.b, self.binbits)

    def registers(self) -> np.ndarray:
        """Unpacked dense registers (promoting a copy if sparse) — for equality
        and determinism tests (hll_is_equal semantics, hyperloglog.c:858-919)."""
        if self.dense is not None:
            return self.dense
        c = self.copy()
        c._promote()
        return c.dense

    def equals(self, other: "HLL") -> bool:
        if self.b != other.b or self.binbits != other.binbits or self.hash_kind != other.hash_kind:
            raise ValueError("estimator parameters differ")
        if self.is_sparse and other.is_sparse:
            return len(self.sparse) == len(other.sparse) and bool(np.array_equal(self.sparse, other.sparse))
        return bool(np.array_equal(self.registers(), other.registers()))

    def reset(self) -> None:
        if sparse_capacity(self.b) > 0:
            self.sparse = np.empty(0, dtype=np.uint32)
            self.dense = None
        else:
            self.sparse = None
            self.dense = np.zeros(1 << self.b, dtype=np.uint8)

    def info(self) -> dict:
        """Structured counterpart of hyperloglog_info (hyperloglog_counter.c:949-991)."""
        return {
            "version": STRUCT_VERSION,
            "b": self.b,
            "binbits": self.binbits,
            "hash_kind": self.hash_kind,
            "encoding": "sparse" if self.is_sparse else "dense",
            "sparse_entries": -1 if self.sparse is None else int(len(self.sparse)),
            "sparse_capacity": sparse_capacity(self.b),
            "nonzero_registers": -1 if self.dense is None else int(np.count_nonzero(self.dense)),
            "serialized_bytes": self.serialized_size(),
        }

    # -- serialization ------------------------------------------------------

    def to_bytes(self, packed: bool = True, compress: bool = False) -> bytes:
        """Serialize. Dense registers are bit-packed at binbits bits each by
        default (the reference's PACKED format, hyperloglog.h:66-88): 12296 B
        vs 16392 B raw at b=14 — a 25% shuffle/storage saving.

        ``compress=True`` additionally compresses payloads the way
        hyperloglog_comp does, keeping each form only if actually smaller
        (hyperloglog.c:1102-1108): sparse → delta + group-varint
        (~2.6 B/entry vs 4 raw — what the phase-1 partial shuffle ships when
        grouping by high-cardinality keys where most groups stay sparse);
        dense → zlib over the raw 1-byte registers (the reference PGLZ-
        compresses unpacked registers the same way: 2133 B @ n=1021,
        ~9.4 KB @ n=100k, compression.ref), which beats bit-packing by ~5×
        on mostly-zero registers just past the sparse→dense promotion."""
        hk = (self.hash_kind << _HASH_KIND_SHIFT) & _HASH_KIND_MASK
        if self.sparse is not None:
            if compress and len(self.sparse):
                comp = compress_sparse(self.sparse)
                if len(comp) < 4 * len(self.sparse):
                    return _HEADER.pack(
                        STRUCT_VERSION, self.b, self.binbits, _FLAG_VARINT | hk, len(self.sparse)
                    ) + comp
            payload = self.sparse.astype("<u4", copy=False).tobytes()
            return _HEADER.pack(STRUCT_VERSION, self.b, self.binbits, hk, len(self.sparse)) + payload
        if compress:
            import zlib

            z = zlib.compress(self.dense.tobytes(), 6)
            packed_len = ((1 << self.b) * self.binbits + 7) // 8 if (packed and self.binbits < 8) else (1 << self.b)
            if len(z) < packed_len:
                return _HEADER.pack(STRUCT_VERSION, self.b, self.binbits, _FLAG_DENSE | _FLAG_DEFLATE | hk, -1) + z
        if packed and self.binbits < 8:
            payload = _pack_registers(self.dense, self.binbits)
            return _HEADER.pack(STRUCT_VERSION, self.b, self.binbits, _FLAG_DENSE | _FLAG_PACKED | hk, -1) + payload
        return _HEADER.pack(STRUCT_VERSION, self.b, self.binbits, _FLAG_DENSE | hk, -1) + self.dense.tobytes()

    def serialized_size(self) -> int:
        if self.sparse is not None:
            n = len(self.sparse) * 4
        elif self.binbits < 8:
            n = ((1 << self.b) * self.binbits + 7) // 8
        else:
            n = 1 << self.b
        return _HEADER.size + n

    @classmethod
    def from_bytes(cls, data: bytes) -> "HLL":
        version, b, binbits, flags, idx = _HEADER.unpack_from(data, 0)
        if version > STRUCT_VERSION:
            raise ValueError(f"unsupported sketch version {version}")
        if flags & ~_KNOWN_FLAGS:
            raise ValueError(
                f"sketch flags 0x{flags:02x} carry payload-encoding bits unknown "
                f"to this decoder (v{version}): produced by a newer hllspark"
            )
        # versions 1/2 share this layout; older versions would be upgraded here
        # (mirrors hyperloglog_update / upgrade.c:24-60)
        payload = data[_HEADER.size :]
        if len(payload) < _fixed_payload_size(b, binbits, flags, idx):
            raise ValueError(_TRUNCATED_PAYLOAD)
        hash_kind = (flags & _HASH_KIND_MASK) >> _HASH_KIND_SHIFT
        if flags & _FLAG_DENSE:
            m = 1 << b
            if flags & _FLAG_DEFLATE:
                import zlib

                regs = np.frombuffer(zlib.decompress(bytes(payload)), dtype=np.uint8, count=m).copy()
                return cls(b, binbits, None, regs, hash_kind)
            if flags & _FLAG_PACKED:
                nbytes = (m * binbits + 7) // 8
                regs = _unpack_registers(np.frombuffer(payload, dtype=np.uint8, count=nbytes), m, binbits)
            else:
                regs = np.frombuffer(payload, dtype=np.uint8, count=m).copy()
            return cls(b, binbits, None, regs, hash_kind)
        if flags & _FLAG_VARINT:
            return cls(b, binbits, decompress_sparse(payload, idx), None, hash_kind)
        enc = np.frombuffer(payload, dtype="<u4", count=idx).astype(np.uint32)
        return cls(b, binbits, enc, None, hash_kind)


# -- pairwise/estimate helpers used by the Spark functions layer -------------


# merge_blobs flushes its sparse-chunk accumulator past this many entries
# (64 MB of uint32 at the default) — transient memory stays O(flush), not
# O(sum of all payloads), on huge single-partition batches
_MERGE_FLUSH_ENTRIES = 16_000_000


def merge_blobs(blobs) -> HLL | None:
    """Vectorized register-max union of many serialized counters.

    Semantically identical to folding ``HLL.from_bytes`` + ``merge`` over the
    sequence — merge determinism makes the canonical state a pure function of
    the value SET, so one batched union equals every pairwise merge order —
    but the whole batch is decoded and unioned in a handful of numpy passes:
    sparse payloads concatenate into one ``np.unique`` and dense registers
    fold through one running ``np.maximum``.  The sequential path pays
    ~30-60 µs of object/`union1d`/`maximum.at` overhead per blob, which
    dominates stored-rollup re-aggregation at 10^5 sketches (measured ~6 s
    for 100k blobs vs ~0.3 s here).  NULL (None) rows are skipped; an
    all-None input returns None (SQL NULL contract).
    """
    params: tuple[int, int, int] | None = None
    chunks: list[np.ndarray] = []
    pending = 0  # entries accumulated in chunks
    flush_at = _MERGE_FLUSH_ENTRIES
    regs: np.ndarray | None = None
    for data in blobs:
        if data is None:
            continue
        data = bytes(data)
        version, b, binbits, flags, idx = _HEADER.unpack_from(data, 0)
        if (
            version > STRUCT_VERSION
            or (flags & ~_KNOWN_FLAGS)
            or (flags & (_FLAG_PACKED | _FLAG_DEFLATE))
            or len(data) - _HEADER.size < _fixed_payload_size(b, binbits, flags, idx)
        ):
            # rare payload forms (bit-packed / deflated dense) and the error
            # cases route through the reference decoder so unsupported
            # versions/flags and truncated payloads raise the exact same
            # messages
            s = HLL.from_bytes(data)
            b, binbits, hk = s.b, s.binbits, s.hash_kind
            dense, sparse = s.dense, s.sparse
        else:
            hk = (flags & _HASH_KIND_MASK) >> _HASH_KIND_SHIFT
            if flags & _FLAG_DENSE:
                dense = np.frombuffer(data, dtype=np.uint8, count=1 << b, offset=_HEADER.size)
                sparse = None
            elif flags & _FLAG_VARINT:
                dense = None
                sparse = decompress_sparse(data[_HEADER.size :], idx)
            else:
                dense = None
                sparse = np.frombuffer(data, dtype="<u4", count=idx, offset=_HEADER.size)
        if params is None:
            params = (b, binbits, hk)
        else:  # same checks + messages as HLL.merge, in blob order
            if params[0] != b:
                raise ValueError(f"index size of estimators differs ({params[0]} != {b})")
            if params[1] != binbits:
                raise ValueError(f"bin size of estimators differs ({params[1]} != {binbits})")
            if params[2] != hk:
                raise ValueError(f"hash kind of estimators differs ({params[2]} != {hk})")
        if dense is not None:
            if regs is None:
                regs = dense.astype(np.uint8, copy=True)
            else:
                np.maximum(regs, dense, out=regs)
        elif len(sparse):
            if regs is not None:
                # the final state is already dense (regs non-None → the end
                # path returns dense no matter what), so fold the entries
                # straight in — register max is associative, bytes are
                # unchanged, and the accumulator never rebuilds toward
                # another giant np.unique pass
                i, r = decode_encodes(sparse, b, binbits)
                np.maximum.at(regs, i, r)
                continue
            chunks.append(sparse)
            pending += len(sparse)
            if pending > flush_at:
                # bound transient memory on huge batches: collapse the
                # accumulated encodings into one sorted-unique chunk (set
                # union is associative — semantics and final bytes are
                # unchanged, this is just an intermediate union)
                uniq = np.unique(np.concatenate(chunks))
                if len(uniq) > sparse_capacity(b):
                    # the final state is dense regardless (promotion iff
                    # unique > capacity), so fold the flushed union into
                    # registers now — if the deduped accumulator itself
                    # stayed above the threshold, every later blob would
                    # re-union the whole set (quadratic in batch size)
                    if regs is None:
                        regs = np.zeros(1 << b, dtype=np.uint8)
                    i, r = decode_encodes(uniq, b, binbits)
                    np.maximum.at(regs, i, r)
                    chunks = []
                    pending = 0
                    flush_at = _MERGE_FLUSH_ENTRIES
                else:
                    chunks = [uniq]
                    pending = len(uniq)
                    # hysteresis for the sub-capacity regime (reachable
                    # only when the threshold is set below capacity): the
                    # next flush fires after the survivors double, never
                    # per blob — keeps flush count O(log) at any setting
                    flush_at = max(_MERGE_FLUSH_ENTRIES, 2 * pending)
    if params is None:
        return None
    b, binbits, hk = params
    enc = None
    if chunks:
        enc = chunks[0] if len(chunks) == 1 else np.concatenate(chunks)
    if regs is None:
        uniq = np.unique(enc) if enc is not None else np.empty(0, dtype=np.uint32)
        if len(uniq) <= sparse_capacity(b):
            return HLL(b, binbits, uniq.astype(np.uint32, copy=False), None, hk)
        regs = np.zeros(1 << b, dtype=np.uint8)
        enc = uniq
    if enc is not None:
        i, r = decode_encodes(enc, b, binbits)
        np.maximum.at(regs, i, r)
    return HLL(b, binbits, None, regs, hk)


def _sparse_fast_header(data: bytes):
    """(b, binbits, hash_kind, n) when ``data`` is a decodable SPARSE blob
    (raw or group-varint — for both, the header's idx field IS the sorted-
    unique entry count), else None.  The sparse estimate depends only on
    (n, binbits), so readers can skip the payload decode entirely.

    Corrupt shapes must NOT take the fast path (loud-failure discipline):
    an idx outside [0, sparse_capacity(b)], a raw payload shorter than idx
    entries, or a group-varint payload whose length disagrees with what its
    tag bytes and tail imply (decompress_sparse's checks, from lengths
    alone) returns None so the caller's full decode raises the same
    diagnostic error the per-row object path always raised."""
    version, b, binbits, flags, idx = _HEADER.unpack_from(data, 0)
    if version > STRUCT_VERSION or (flags & ~_KNOWN_FLAGS) or (flags & _FLAG_DENSE):
        return None
    if idx < 0 or idx > sparse_capacity(b):
        return None
    if flags & _FLAG_VARINT:
        ngroups = idx // 4
        off = _HEADER.size + ngroups
        pos = off + sum(data[_HEADER.size : off].translate(_TAG_DATA_LEN))
        tail = data[pos:]
        if pos > len(data) or (tail and tail[-1] & 0x80):
            return None
        if sum(1 for x in tail if x < 0x80) != idx - 4 * ngroups:
            return None
    elif len(data) < _HEADER.size + 4 * idx:
        return None
    return b, binbits, (flags & _HASH_KIND_MASK) >> _HASH_KIND_SHIFT, idx


def estimate_blobs(blobs) -> list:
    """Batched ``hyperloglog_get_estimate`` over serialized counters.

    Row-for-row identical to ``HLL.from_bytes(v).estimate()`` — sparse blobs
    estimate from the header's entry count alone (no payload decode), with
    the linear-counting ``math.log`` evaluated once per distinct
    (n, binbits) so the arithmetic is the exact scalar path; dense and
    unusual payloads fall back per row.  None rows stay None."""
    out: list = [None] * len(blobs)
    groups: dict = {}
    for i, v in enumerate(blobs):
        if v is None:
            continue
        data = bytes(v)
        fast = _sparse_fast_header(data)
        if fast is None:
            out[i] = HLL.from_bytes(data).estimate()
        else:
            groups.setdefault((fast[3], fast[1]), []).append(i)
    for (n, binbits), pos in groups.items():
        e = _estimate_sparse(n, binbits)
        for i in pos:
            out[i] = e
    return out


# NOTE (round 6): a batched pairwise set-op kernel (whole-batch composite-key
# searchsorted over concatenated sparse encodings) was implemented, A/B'd and
# REMOVED: wall parity with the object path at the stored-rollup bench shape
# (9 interleaved reps) and up to 4x more CPU at ~400-entry sparse pairs,
# where one giant searchsorted loses the cache locality of per-row
# small-array ops.  The batched readers that ARE wins and stayed:
# estimate_blobs above (header-only, no payload decode) and merge_blobs
# (many-blob union, one np.unique pass).


def union(a: HLL, b_: HLL) -> HLL:
    return a.copy().merge(b_)


def union_estimate(a: HLL, b_: HLL) -> float:
    """hyperloglog_union (hyperloglog_counter.c:1051-1087)."""
    return union(a, b_).estimate()


def intersection_estimate(a: HLL, b_: HLL) -> float:
    """A + B − A∪B (hyperloglog_counter.c:1089-1113)."""
    return a.estimate() + b_.estimate() - union_estimate(a, b_)


def compliment_estimate(a: HLL, b_: HLL) -> float:
    """A∪B − B (hyperloglog_counter.c:1115-1152)."""
    return union_estimate(a, b_) - b_.estimate()


def symmetric_diff_estimate(a: HLL, b_: HLL) -> float:
    """2·A∪B − A − B (hyperloglog_counter.c:1154-1193)."""
    return 2.0 * union_estimate(a, b_) - a.estimate() - b_.estimate()
