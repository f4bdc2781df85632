"""Merging t-digest (Dunning & Ertl 2019) — mergeable quantile sketch.

Vectorized variant: a batch is sorted and folded into the centroid list in
one pass using fixed k1-scale boundaries (k(q) = δ/2π · asin(2q−1)), cluster
assignment by floor(k), and np.add.reduceat for the weighted means — no
per-point Python.  Accuracy: relative rank error ~O(1/δ) concentrated at the
tails (δ=100 → ~0.1-1% mid-quantile error).

Merging two digests = merging centroid lists the same way.  The result is
deterministic for a given left/right pair; like all t-digests it is only
*approximately* associative (merge order may shift centroid boundaries
within the error bound) — rank error stays bounded regardless, which is the
guarantee the north_rule's quantile queries rely on.
"""

from __future__ import annotations

import struct

import numpy as np

_VERSION = 1


class TDigest:
    __slots__ = ("delta", "means", "weights", "total", "vmin", "vmax")

    def __init__(
        self,
        delta: int,
        means: np.ndarray,
        weights: np.ndarray,
        total: float = 0.0,
        vmin: float = np.inf,
        vmax: float = -np.inf,
    ):
        self.delta = delta
        self.means = means  # float64, sorted
        self.weights = weights  # float64
        self.total = total
        self.vmin = vmin
        self.vmax = vmax

    @classmethod
    def create(cls, delta: int = 100) -> "TDigest":
        if not (10 <= delta <= 10000):
            raise ValueError("delta must be in [10, 10000]")
        return cls(delta, np.empty(0, np.float64), np.empty(0, np.float64))

    # -- the vectorized merge-compress kernel ---------------------------------

    def _compress(self, means: np.ndarray, weights: np.ndarray) -> None:
        """Fold sorted (means, weights) into ≤ ~2δ centroids via k1 scale."""
        W = float(weights.sum())
        if W == 0:
            self.means = np.empty(0, np.float64)
            self.weights = np.empty(0, np.float64)
            self.total = 0.0
            return
        # k(q) boundaries evaluated at centroid midpoints
        cum = np.cumsum(weights)
        q_mid = (cum - 0.5 * weights) / W
        k = (self.delta / (2 * np.pi)) * np.arcsin(np.clip(2.0 * q_mid - 1.0, -1.0, 1.0))
        cluster = np.floor(k + self.delta / 4.0).astype(np.int64)  # shift to >=0
        # boundaries where cluster id changes
        newseg = np.empty(len(cluster), dtype=bool)
        newseg[0] = True
        np.not_equal(cluster[1:], cluster[:-1], out=newseg[1:])
        starts = np.nonzero(newseg)[0]
        wsum = np.add.reduceat(weights, starts)
        msum = np.add.reduceat(weights * means, starts)
        self.means = msum / wsum
        self.weights = wsum
        self.total = W

    def update_values(self, vals: np.ndarray) -> None:
        vals = np.asarray(vals, dtype=np.float64)
        self.update_weighted(vals, np.ones(len(vals)))

    def update_weighted(self, vals: np.ndarray, weights: np.ndarray) -> None:
        """Insert pre-aggregated (value, weight) pairs — the jar engine's
        exact-mode finalize, where duplicates are already collapsed to counts.
        Equivalent to inserting each value `weight` times up to centroid
        boundary placement (both within the k1-scale error bound)."""
        vals = np.asarray(vals, dtype=np.float64)
        weights = np.asarray(weights, dtype=np.float64)
        ok = np.isfinite(vals) & (weights > 0)
        if not ok.all():  # gather only when something is actually dropped —
            vals, weights = vals[ok], weights[ok]  # two full copies otherwise
        if len(vals) == 0:
            return
        self.vmin = min(self.vmin, float(vals.min()))
        self.vmax = max(self.vmax, float(vals.max()))
        if len(self.means):
            m = np.concatenate([self.means, vals])
            w = np.concatenate([self.weights, weights])
        else:  # fresh digest (the exact-mode fold): no empty-concat copies
            m, w = vals, weights
        if len(m) > 1 and not np.all(m[1:] >= m[:-1]):
            order = np.argsort(m, kind="stable")
            m, w = m[order], w[order]
        # else: already ascending — the stable argsort would be the identity
        # permutation, so sorting + two full gathers are pure copies skipped
        self._compress(m, w)

    def update_arrow(self, arr, input_type: str = "auto") -> None:
        import pyarrow as pa

        self.update_values(arr.cast(pa.float64()).to_numpy(zero_copy_only=False))

    def merge(self, other: "TDigest") -> "TDigest":
        if self.delta != other.delta:
            raise ValueError("t-digest delta differs")
        if other.total == 0:
            return self
        self.vmin = min(self.vmin, other.vmin)
        self.vmax = max(self.vmax, other.vmax)
        m = np.concatenate([self.means, other.means])
        w = np.concatenate([self.weights, other.weights])
        order = np.argsort(m, kind="stable")
        self._compress(m[order], w[order])
        return self

    def copy(self) -> "TDigest":
        return TDigest(self.delta, self.means.copy(), self.weights.copy(), self.total, self.vmin, self.vmax)

    # -- queries ----------------------------------------------------------------

    def quantile(self, q: float) -> float:
        """Value at quantile q ∈ [0,1] by interpolation over centroids."""
        if self.total == 0:
            return float("nan")
        if q <= 0:
            return self.vmin
        if q >= 1:
            return self.vmax
        target = q * self.total
        cum = np.cumsum(self.weights) - 0.5 * self.weights  # centroid "centers"
        idx = int(np.searchsorted(cum, target))
        if idx == 0:
            lo_x, lo_c = self.vmin, 0.0
            hi_x, hi_c = float(self.means[0]), float(cum[0])
        elif idx >= len(self.means):
            lo_x, lo_c = float(self.means[-1]), float(cum[-1])
            hi_x, hi_c = self.vmax, self.total
        else:
            lo_x, lo_c = float(self.means[idx - 1]), float(cum[idx - 1])
            hi_x, hi_c = float(self.means[idx]), float(cum[idx])
        if hi_c == lo_c:
            return lo_x
        frac = (target - lo_c) / (hi_c - lo_c)
        return lo_x + frac * (hi_x - lo_x)

    def rank(self, x: float) -> float:
        """Approximate CDF at x."""
        if self.total == 0:
            return float("nan")
        if x <= self.vmin:
            return 0.0
        if x >= self.vmax:
            return 1.0
        cum = np.cumsum(self.weights) - 0.5 * self.weights
        r = float(np.interp(x, self.means, cum, left=0.0, right=self.total))
        return r / self.total

    @property
    def n_centroids(self) -> int:
        return len(self.means)

    # -- serialization ------------------------------------------------------------

    def to_bytes(self) -> bytes:
        head = struct.pack(
            "<BBHqddd", _VERSION, 0, self.delta, len(self.means), self.total, self.vmin, self.vmax
        )
        return head + self.means.astype("<f8").tobytes() + self.weights.astype("<f8").tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "TDigest":
        """Decode to_bytes output; refuses a newer version and a header the
        payload length disagrees with, or one shorter than the header (the
        jar's decoder refuses the same)."""
        off = struct.calcsize("<BBHqddd")
        if len(data) < off:
            raise ValueError("tdigest header inconsistent with payload")
        version, _, delta, n, total, vmin, vmax = struct.unpack_from("<BBHqddd", data, 0)
        if version > _VERSION:
            raise ValueError(f"unsupported tdigest version {version}")
        if not 10 <= delta <= 10000 or n < 0 or len(data) != off + 16 * n:
            raise ValueError("tdigest header inconsistent with payload")
        means = np.frombuffer(data, dtype="<f8", count=n, offset=off).astype(np.float64)
        weights = np.frombuffer(data, dtype="<f8", count=n, offset=off + 8 * n).astype(np.float64)
        return cls(delta, means, weights, total, vmin, vmax)
