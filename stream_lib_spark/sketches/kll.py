"""KLL quantile sketch (compactor stack) — required by the north rule,
absent from the reference (SURVEY.md §2.11).

Spec source is the published paper trail (Karnin-Lang-Liberty, FOCS'16;
KLL± VLDB 2021; EDBT 2023 experimental analysis — /root/repo/PAPERS.md):
a stack of compactors where level ``h`` holds items of weight ``2^h``
with capacity ``max(ceil(k * (2/3)^(H-1-h)), 8)``; when total size
exceeds the capacity budget, the lowest over-full level is sorted and
every other item (offset by a coin) is promoted to level ``h+1``.

Determinism: the compaction coin is derived from a per-level compaction
counter (alternating offsets) instead of an RNG, so sketch state is a
pure deterministic function of the input stream.

Merge is BYTE-ASSOCIATIVE and BYTE-COMMUTATIVE over partial states
(north-rule contract: merging partition sketches in any grouping yields
byte-identical state, hence identical estimates): ``merge`` performs NO
compaction — it concatenates levels, re-sorts each level (the canonical
form: the merged state is a pure function of the MULTISET of partials),
and sums counters; the single deterministic compaction happens at
finalize (``compress()``, called once by the agg layer's last fold,
like t-digest's).  Boundary: if an uncompacted union exceeds
``MERGE_COMPACT_BUDGET`` items (~64 partials' worth at k=200 per 2^16
items), merge compacts early to bound blob size — beyond that many
partials per fold the guarantee narrows from byte-identity to the
tested rank contract (the agg layer's auto fan-in keeps folds ~sqrt(n)
partials wide, so the budget covers realistic topologies).

Rank error target (tested): <= 0.012 at k=200, n=100k, matching the
bound we mirror from the reference's t-digest tests so both quantile
operators meet the same contract.
"""

from __future__ import annotations

import struct

import numpy as np

from .base import HEADER_SIZE, KIND_KLL, SketchMergeError, pack_header, unpack_header

_MIN_CAP = 8


class KLL:
    def __init__(self, k: int = 200):
        self.k = k
        self.levels: list[np.ndarray] = [np.empty(0, dtype=np.float64)]
        self.compactions: list[int] = [0]
        self.n = 0  # total weight of items observed

    # ---------------------------------------------------------------- sizing

    def _capacity(self, h: int) -> int:
        height = len(self.levels)
        cap = int(np.ceil(self.k * (2.0 / 3.0) ** (height - 1 - h)))
        return max(cap, _MIN_CAP)

    def _budget(self) -> int:
        return sum(self._capacity(h) for h in range(len(self.levels)))

    # ---------------------------------------------------------------- update

    def add_values(self, values: np.ndarray) -> "KLL":
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        if len(v) == 0:
            return self
        v = v + 0.0  # canonicalize -0.0 (sorts as equal to +0.0, but its
        # placement among equal keys would leak insertion order into bytes)
        self.levels[0] = np.concatenate([self.levels[0], v])
        self.n += len(v)
        self._compress()
        return self

    def _compress(self) -> None:
        while sum(len(lv) for lv in self.levels) > self._budget():
            for h in range(len(self.levels)):
                if len(self.levels[h]) > self._capacity(h):
                    self._compact_level(h)
                    break
            else:
                break

    def _compact_level(self, h: int) -> None:
        if h + 1 == len(self.levels):
            self.levels.append(np.empty(0, dtype=np.float64))
            self.compactions.append(0)
        buf = np.sort(self.levels[h])
        offset = self.compactions[h] & 1  # deterministic alternating coin
        self.compactions[h] += 1
        if len(buf) % 2 == 1:
            # unpaired max stays at level h; compact the even remainder
            leftover = buf[-1:]
            buf = buf[:-1]
        else:
            leftover = np.empty(0, dtype=np.float64)
        promoted = buf[offset::2]
        self.levels[h] = leftover
        self.levels[h + 1] = np.concatenate([self.levels[h + 1], promoted])

    # ---------------------------------------------------------------- merge

    MERGE_COMPACT_BUDGET = 1 << 16  # items; see module docstring

    def merge(self, other: "KLL") -> "KLL":
        """Canonical, compaction-free merge: the result is a pure
        function of the multiset {self, other} — byte-associative and
        byte-commutative under any merge grouping of fixed partials."""
        if self.k != other.k:
            raise SketchMergeError("KLL k mismatch")
        while len(self.levels) < len(other.levels):
            self.levels.append(np.empty(0, dtype=np.float64))
            self.compactions.append(0)
        for h, lv in enumerate(other.levels):
            if len(lv):
                self.levels[h] = np.concatenate([self.levels[h], lv])
        # canonical form: every level sorted (operand order cannot show)
        self.levels = [np.sort(lv) for lv in self.levels]
        for h in range(min(len(self.compactions), len(other.compactions))):
            self.compactions[h] += other.compactions[h]
        self.n += other.n
        if sum(len(lv) for lv in self.levels) > self.MERGE_COMPACT_BUDGET:
            self._compress()  # size-bound fallback (documented boundary)
        return self

    def compress(self) -> "KLL":
        """Finalize: canonicalize (sort every level — a never-merged
        state still has level 0 in insertion order) and run the single
        deterministic compaction of the merged canonical state."""
        self.levels = [np.sort(lv) for lv in self.levels]
        self._compress()
        return self

    # ---------------------------------------------------------------- query

    def _weighted_items(self) -> tuple[np.ndarray, np.ndarray]:
        vals, wts = [], []
        for h, lv in enumerate(self.levels):
            if len(lv):
                vals.append(lv)
                wts.append(np.full(len(lv), 1 << h, dtype=np.int64))
        if not vals:
            return np.empty(0), np.empty(0, dtype=np.int64)
        v = np.concatenate(vals)
        w = np.concatenate(wts)
        order = np.argsort(v, kind="stable")
        return v[order], w[order]

    def quantile(self, q: float) -> float:
        return float(self.quantiles([q])[0])

    def quantiles(self, qs) -> np.ndarray:
        """The item at rank q of every q, over one sort of the items."""
        v, w = self._weighted_items()
        qs = np.asarray(qs, dtype=np.float64)
        if len(v) == 0:
            return np.full(qs.shape, np.nan)
        cum = np.cumsum(w)
        i = np.searchsorted(cum, qs * cum[-1], side="left")
        return v[np.minimum(i, len(v) - 1)]

    def rank(self, x: float) -> float:
        """Estimated fraction of items <= x."""
        v, w = self._weighted_items()
        if len(v) == 0:
            return float("nan")
        i = int(np.searchsorted(v, x, side="right"))
        return float(np.sum(w[:i]) / np.sum(w))

    # ---------------------------------------------------------------- bytes

    def to_bytes(self) -> bytes:
        head = pack_header(KIND_KLL) + struct.pack("<IIq", self.k, len(self.levels), self.n)
        parts = [head]
        for h, lv in enumerate(self.levels):
            parts.append(struct.pack("<II", len(lv), self.compactions[h]))
            parts.append(lv.tobytes())
        return b"".join(parts)

    @classmethod
    def from_bytes(cls, data: bytes) -> "KLL":
        _, kind = unpack_header(data)
        if kind != KIND_KLL:
            raise ValueError(f"not a KLL blob (kind={kind})")
        k, n_levels, n = struct.unpack_from("<IIq", data, HEADER_SIZE)
        off = HEADER_SIZE + struct.calcsize("<IIq")
        sk = cls(k=k)
        sk.n = n
        sk.levels, sk.compactions = [], []
        for _ in range(n_levels):
            cnt, comp = struct.unpack_from("<II", data, off)
            off += 8
            sk.levels.append(np.frombuffer(data, dtype=np.float64, count=cnt, offset=off).copy())
            sk.compactions.append(comp)
            off += 8 * cnt
        return sk
