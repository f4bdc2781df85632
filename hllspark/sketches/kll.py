"""KLL quantile sketch (Karnin, Lang & Liberty 2016) — mergeable rank sketch.

Levels of buffers with geometrically decaying capacities c·(2/3)^h; items at
level h carry weight 2^h.  When a level overflows it is sorted and *compacted*:
every other item is promoted to the next level.  The original uses a random
coin for the even/odd offset; here the coin is a deterministic function of a
per-sketch compaction counter, making the sketch reproducible run-to-run
(rank-error guarantees are unaffected in expectation — the counter alternates
offsets like a fair coin; worst-case adversarial inputs could see +ε error,
acceptable for this library's pipeline use and called out here).

Normalized rank error ≈ 1.33/k (k=200 → ~0.7%).  Merge: concatenate levels,
then compact until within capacity — associative within the error bound.
"""

from __future__ import annotations

import struct

import numpy as np

_VERSION = 1
_C = 2.0 / 3.0


def _capacity(k: int, depth: int, height: int) -> int:
    """Capacity of the level `height` levels below the top."""
    return max(2, int(np.ceil(k * (_C ** (depth - 1 - height)))))


class KLL:
    __slots__ = ("k", "levels", "total", "compactions", "vmin", "vmax")

    def __init__(self, k: int, levels: list[np.ndarray], total: int = 0, compactions: int = 0,
                 vmin: float = np.inf, vmax: float = -np.inf):
        self.k = k
        self.levels = levels  # levels[h]: float64 array, weight 2^h each
        self.total = total
        self.compactions = compactions
        self.vmin = vmin
        self.vmax = vmax

    @classmethod
    def create(cls, k: int = 200) -> "KLL":
        if not (8 <= k <= 65535):
            raise ValueError("k must be in [8, 65535]")
        return cls(k, [np.empty(0, np.float64)])

    # -- compaction ------------------------------------------------------------

    def _compact(self) -> None:
        # loop until NO level overflows: a promotion can overflow the level
        # above (including one created mid-pass), and a single range() walk
        # would leave it uncompacted — with bulk weighted inserts that made
        # the sketch unbounded (a 1M-distinct weighted build retained 500k
        # items in a never-visited level)
        changed = True
        while changed:
            changed = False
            for h in range(len(self.levels)):
                cap = _capacity(self.k, max(len(self.levels), h + 2), h)
                if len(self.levels[h]) <= cap:
                    continue
                buf = np.sort(self.levels[h], kind="stable")
                offset = self.compactions & 1  # deterministic alternating coin
                self.compactions += 1
                promoted = buf[offset::2]
                self.levels[h] = np.empty(0, np.float64)
                if h + 1 == len(self.levels):
                    self.levels.append(np.empty(0, np.float64))
                self.levels[h + 1] = np.concatenate([self.levels[h + 1], promoted])
                changed = True

    def update_values(self, vals: np.ndarray) -> None:
        vals = np.asarray(vals, dtype=np.float64)
        vals = vals[np.isfinite(vals)]
        if len(vals) == 0:
            return
        self.vmin = min(self.vmin, float(vals.min()))
        self.vmax = max(self.vmax, float(vals.max()))
        self.total += len(vals)
        # bulk insert: feed level 0 in capacity-sized chunks
        cap0 = _capacity(self.k, max(len(self.levels), 2), 0)
        for lo in range(0, len(vals), max(cap0, 1024)):
            self.levels[0] = np.concatenate([self.levels[0], vals[lo : lo + max(cap0, 1024)]])
            self._compact()

    def update_weighted(self, vals: np.ndarray, counts: np.ndarray) -> None:
        """Insert pre-aggregated (value, count) pairs by binary weight
        decomposition: a value with count c lands once in level h for every
        set bit h of c (an item at level h carries weight 2^h exactly, so
        the insert is lossless — no sampling error beyond later compaction).
        This is the jar engine's exact-mode finalize, fed distinct values
        with their counts."""
        vals = np.asarray(vals, dtype=np.float64)
        counts = np.asarray(counts, dtype=np.int64)
        ok = np.isfinite(vals) & (counts > 0)
        vals, counts = vals[ok], counts[ok]
        if len(vals) == 0:
            return
        self.vmin = min(self.vmin, float(vals.min()))
        self.vmax = max(self.vmax, float(vals.max()))
        self.total += int(counts.sum())
        for h in range(int(counts.max()).bit_length()):
            sel = vals[(counts >> h) & 1 == 1]
            if not len(sel):
                continue
            while len(self.levels) <= h:
                self.levels.append(np.empty(0, np.float64))
            self.levels[h] = np.concatenate([self.levels[h], sel])
            self._compact()

    def update_arrow(self, arr, input_type: str = "auto") -> None:
        import pyarrow as pa

        self.update_values(arr.cast(pa.float64()).to_numpy(zero_copy_only=False))

    def merge(self, other: "KLL") -> "KLL":
        if self.k != other.k:
            raise ValueError("kll k differs")
        if other.total == 0:
            return self
        while len(self.levels) < len(other.levels):
            self.levels.append(np.empty(0, np.float64))
        for h, buf in enumerate(other.levels):
            if len(buf):
                self.levels[h] = np.concatenate([self.levels[h], buf])
        self.total += other.total
        self.vmin = min(self.vmin, other.vmin)
        self.vmax = max(self.vmax, other.vmax)
        self.compactions += other.compactions
        self._compact()
        return self

    def copy(self) -> "KLL":
        return KLL(self.k, [b.copy() for b in self.levels], self.total, self.compactions, self.vmin, self.vmax)

    # -- queries ----------------------------------------------------------------

    def _weighted_items(self) -> tuple[np.ndarray, np.ndarray]:
        vals, wts = [], []
        for h, buf in enumerate(self.levels):
            if len(buf):
                vals.append(buf)
                wts.append(np.full(len(buf), float(1 << h)))
        if not vals:
            return np.empty(0), np.empty(0)
        v = np.concatenate(vals)
        w = np.concatenate(wts)
        order = np.argsort(v, kind="stable")
        return v[order], w[order]

    def quantile(self, q: float) -> float:
        # NaN q (SQL NULL reaches pandas UDFs as NaN) passes neither guard
        # below and would select the largest item
        if self.total == 0 or q != q:
            return float("nan")
        if q <= 0:
            return self.vmin
        if q >= 1:
            return self.vmax
        v, w = self._weighted_items()
        cum = np.cumsum(w)
        target = q * cum[-1]
        idx = int(np.searchsorted(cum, target, side="left"))
        return float(v[min(idx, len(v) - 1)])

    def rank(self, x: float) -> float:
        if self.total == 0:
            return float("nan")
        v, w = self._weighted_items()
        below = w[v <= x].sum()
        return float(below / w.sum())

    # -- serialization ------------------------------------------------------------

    def to_bytes(self) -> bytes:
        head = struct.pack(
            "<BBHHqqdd", _VERSION, 0, self.k, len(self.levels), self.total, self.compactions, self.vmin, self.vmax
        )
        parts = [head, struct.pack(f"<{len(self.levels)}i", *[len(b) for b in self.levels])]
        for b in self.levels:
            parts.append(b.astype("<f8").tobytes())
        return b"".join(parts)

    @classmethod
    def from_bytes(cls, data: bytes) -> "KLL":
        """Decode to_bytes output; refuses a newer version, a k or level
        count no sketch has, and a header the payload length disagrees with,
        including one cut inside the header or the level-size array (the
        jar's decoder refuses the same)."""
        fmt = "<BBHHqqdd"
        off = struct.calcsize(fmt)
        if len(data) < off:
            raise ValueError("kll payload size inconsistent with header")
        version, _, k, nlevels, total, compactions, vmin, vmax = struct.unpack_from(fmt, data, 0)
        if version > _VERSION:
            raise ValueError(f"unsupported kll version {version}")
        if k < 8 or nlevels > 64:
            raise ValueError(f"kll header out of range: k={k} nlevels={nlevels}")
        if len(data) < off + 4 * nlevels:
            raise ValueError("kll payload size inconsistent with header")
        sizes = struct.unpack_from(f"<{nlevels}i", data, off)
        if min(sizes, default=0) < 0:
            raise ValueError("negative kll level size")
        off += 4 * nlevels
        if len(data) != off + 8 * sum(sizes):
            raise ValueError("kll payload size inconsistent with header")
        levels = []
        for n in sizes:
            levels.append(np.frombuffer(data, dtype="<f8", count=n, offset=off).astype(np.float64))
            off += 8 * n
        return cls(k, levels, total, compactions, vmin, vmax)
