"""t-digest as deterministic batch-built centroid arrays.

The reference's TDigest (``quantile/TDigest.java:50-581``) is an online
tree (GroupTree) with randomized insertion/merge — explicitly *not*
merge-deterministic (``TDigest.java:52,136-139,169``).  The rebuild
replaces the online tree with the batch "merging digest" construction
from the same published paper (Dunning & Ertl, "Computing Extremely
Accurate Quantiles Using t-Digests"): sort the batch, then greedily cut
it into centroids under the k1 scale-function limit
``k(q) = (delta / 2pi) * asin(2q - 1)``, one cluster per unit of k.
Batch construction over sorted input is deterministic and
insertion-order-free, which removes the reference's pathological-input
re-compression path (``TDigest.java:154-162``) by design.

Merge strategy (north-rule byte-identity): ``merge`` is an *exact*
multiset union of centroid lists (concatenate, canonical sort) — a true
commutative monoid, byte-identical under any merge grouping.
Compression to <= ~2·delta centroids happens only at deterministic
topology points: partial-build (from raw values) and ``compress()`` /
finalize.  The Spark agg layer bounds intermediate state growth with an
explicit fan-in level rather than opportunistic compression, keeping
state a pure function of (multiset of inputs, topology config).

Accuracy contract mirrored from the reference tests: quantile rank
error <= 0.012 at delta=100 / n=100k, merged rank error < 0.015
(``quantile/TDigestTest.java:390-442,465-533``); centroid count < 10·delta
(``TDigestTest.java:426``).
"""

from __future__ import annotations

import math
import struct
from dataclasses import dataclass, field

import numpy as np

from .base import HEADER_SIZE, KIND_TDIGEST, SketchMergeError, pack_header, unpack_header


def _k_inv(k: float, delta: float) -> float:
    return (math.sin(2.0 * math.pi * k / delta) + 1.0) / 2.0


@dataclass
class TDigest:
    compression: float = 100.0
    means: np.ndarray = field(default_factory=lambda: np.empty(0, dtype=np.float64))
    weights: np.ndarray = field(default_factory=lambda: np.empty(0, dtype=np.float64))
    total: float = 0.0
    vmin: float = math.inf
    vmax: float = -math.inf

    # ---------------------------------------------------------------- build

    @classmethod
    def from_values(cls, values: np.ndarray, compression: float = 100.0) -> "TDigest":
        sk = cls(compression=compression)
        sk.add_values(values)
        return sk

    def add_values(self, values: np.ndarray) -> "TDigest":
        """Add a batch of raw float64 values (NaNs dropped), then
        compress to canonical form."""
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        if len(v) == 0:
            return self
        v = v + 0.0  # canonicalize -0.0 → +0.0: vmin and the stable
        # sort are bitwise order-sensitive for the two equal zeros, so
        # skipping this breaks byte-commutative merges (KLL does the same)
        v = np.sort(v)
        self.vmin = min(self.vmin, float(v[0]))
        self.vmax = max(self.vmax, float(v[-1]))
        self.means = np.concatenate([self.means, v])
        self.weights = np.concatenate([self.weights, np.ones(len(v))])
        self.total += float(len(v))
        self.compress()
        return self

    def compress(self) -> "TDigest":
        """Re-cluster centroids into canonical form: sort by (mean,
        weight), greedy k1-limited clustering.  Deterministic.

        Cost: one ``lexsort`` and one ``cumsum`` over the n input
        centroids, then one Python step per *output* centroid — a few
        float ops, one scalar ``np.arcsin`` and one ``searchsorted`` —
        so nothing transcendental runs over all n.  The k1 limit uses
        numpy's ``arcsin``, not ``math.asin``: the two differ in the
        last bit on about a quarter of inputs, and the cut points (so
        the bytes) follow that bit."""
        n = len(self.means)
        if n == 0:
            return self
        order = np.lexsort((self.weights, self.means))
        means, weights = self.means[order], self.weights[order]
        cum = np.cumsum(weights)
        total = float(cum[-1])
        delta = self.compression
        scale = delta / (2.0 * math.pi)
        arcsin, cut, at, mean_at = np.arcsin, cum.searchsorted, cum.item, means.item
        out_m, out_w = [], []
        i = 0
        w_so_far = 0.0
        while i < n:
            # k1(q0) + 1 on Python floats: clip, then numpy's arcsin
            q0 = min(max(w_so_far / total, 0.0), 1.0)
            w_limit = total * _k_inv(scale * float(arcsin(2.0 * q0 - 1.0)) + 1.0, delta)
            j = int(cut(w_limit, "right")) - 1
            if j < i:
                j = i
            c = at(j)
            w = c - w_so_far
            m = mean_at(i)
            if m == mean_at(j):
                # pure cluster: keep the exact value (avoids weighted-mean
                # float drift on heavy atoms / repeated values)
                out_m.append(m)
            else:
                seg_w = weights[i : j + 1]
                out_m.append(float(np.dot(means[i : j + 1], seg_w) / w))
            out_w.append(w)
            w_so_far = c
            i = j + 1
        self.means = np.array(out_m, dtype=np.float64)
        self.weights = np.array(out_w, dtype=np.float64)
        self.total = total
        return self

    # ---------------------------------------------------------------- merge

    def merge(self, other: "TDigest") -> "TDigest":
        """Exact centroid-multiset union (commutative + associative;
        canonical sort keeps bytes grouping-independent).  Call
        ``compress()`` at topology-defined points to bound size."""
        if self.compression != other.compression:
            raise SketchMergeError("t-digest compression mismatch")
        self.means = np.concatenate([self.means, other.means])
        self.weights = np.concatenate([self.weights, other.weights])
        order = np.lexsort((self.weights, self.means))
        self.means, self.weights = self.means[order], self.weights[order]
        self.total += other.total
        self.vmin = min(self.vmin, other.vmin)
        self.vmax = max(self.vmax, other.vmax)
        return self

    # ---------------------------------------------------------------- query

    def _centers(self) -> np.ndarray:
        """Each centroid's mid-rank."""
        w = self.weights
        return np.cumsum(w) - w / 2.0

    def quantile(self, q: float) -> float:
        """Interpolated quantile (reference semantics,
        ``TDigest.java:274-326``: centroids centered at their mid-rank,
        linear interpolation, min/max anchored tails)."""
        if self.total == 0:
            return math.nan
        if len(self.means) == 1:
            return float(self.means[0])
        rank = q * self.total
        centers = self._centers()
        if rank <= centers[0]:
            # interpolate vmin → first centroid mean
            t = rank / centers[0] if centers[0] > 0 else 1.0
            return float(self.vmin + max(t, 0.0) * (self.means[0] - self.vmin))
        if rank >= centers[-1]:
            span = self.total - centers[-1]
            t = (rank - centers[-1]) / span if span > 0 else 0.0
            return float(self.means[-1] + min(t, 1.0) * (self.vmax - self.means[-1]))
        i = int(np.searchsorted(centers, rank, side="right"))
        c0, c1 = centers[i - 1], centers[i]
        t = (rank - c0) / (c1 - c0)
        return float(self.means[i - 1] + t * (self.means[i] - self.means[i - 1]))

    def quantiles(self, qs) -> np.ndarray:
        return np.array([self.quantile(float(q)) for q in qs])

    def cdf(self, x: float) -> float:
        if self.total == 0:
            return math.nan
        if x <= self.vmin:
            return 0.0
        if x >= self.vmax:
            return 1.0
        centers = self._centers()
        means = self.means
        if x < means[0]:
            t = (x - self.vmin) / (means[0] - self.vmin)
            return float(t * centers[0] / self.total)
        if x >= means[-1]:
            t = (x - means[-1]) / (self.vmax - means[-1])
            return float((centers[-1] + t * (self.total - centers[-1])) / self.total)
        i = int(np.searchsorted(means, x, side="right"))
        m0, m1 = means[i - 1], means[i]
        t = (x - m0) / (m1 - m0) if m1 > m0 else 0.0
        return float((centers[i - 1] + t * (centers[i] - centers[i - 1])) / self.total)

    def centroid_count(self) -> int:
        return len(self.means)

    # ---------------------------------------------------------------- bytes

    def to_bytes(self) -> bytes:
        head = pack_header(KIND_TDIGEST) + struct.pack(
            "<dIddd", self.compression, len(self.means), self.total, self.vmin, self.vmax
        )
        return head + self.means.tobytes() + self.weights.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "TDigest":
        _, kind = unpack_header(data)
        if kind != KIND_TDIGEST:
            raise ValueError(f"not a t-digest blob (kind={kind})")
        compression, n, total, vmin, vmax = struct.unpack_from("<dIddd", data, HEADER_SIZE)
        off = HEADER_SIZE + struct.calcsize("<dIddd")
        means = np.frombuffer(data, dtype=np.float64, count=n, offset=off).copy()
        weights = np.frombuffer(data, dtype=np.float64, count=n, offset=off + 8 * n).copy()
        return cls(compression=compression, means=means, weights=weights,
                   total=total, vmin=vmin, vmax=vmax)
