"""Reference LinearCounting interop (``cardinality/LinearCounting.java``):
the wire format IS the bitmap (``getBytes() { return map; }``), bits
addressed LSB-first within each byte at position
``(murmur2_32(item) & 0xFFFFFFFF) % (8·len(map))`` — murmur2-32 over
the item's UTF-8 bytes with seed -1 (``MurmurHash.hash(byte[])``).

``ReferenceLC`` imports a blob, estimates exactly as the reference
(``m·ln(m/V)``), adds new items with reference-identical bit positions,
OR-merges, and re-serializes byte-exactly.  Golden-tested against the
javac-compiled reference in ``tests/test_lc_wire.py``.
"""

from __future__ import annotations

import math

import numpy as np

from ..hashing import _by_length, _joined
from .base import SketchMergeError
from .cms_wire import murmur2_32_fixed


def _murmur32_items(items) -> np.ndarray:
    # measured choice (round 6, BENCH.md "encoder micro-bench"): the
    # per-item encode listcomp beats the vectorized UCS4-view pipeline
    # 0.29s vs 0.50s per 1M ASCII items (str.encode is near-free for
    # ASCII; the U-cast chain is not).  Both the UTF-8 path here and
    # the UTF-16 path (cms_wire.string_hash_buckets) use per-item
    # encode listcomps feeding the one length grouping every string
    # hash shares (hashing._by_length) — the hardened vectorized
    # encoder measured slower and was deleted.
    enc = [str(s).encode("utf-8") for s in items]
    out = np.empty(len(enc), dtype=np.int32)
    for sel, buf, L in _by_length(*_joined(enc)):
        out[sel] = murmur2_32_fixed(buf, L, -1)
    return out


class ReferenceLC:
    def __init__(self, bitmap: np.ndarray):
        self.bitmap = bitmap.astype(np.uint8)

    @classmethod
    def new(cls, size: int) -> "ReferenceLC":
        """Empty filter, exactly ``new LinearCounting(size)``
        (``LinearCounting.java:57-61``): a ``size``-byte zero bitmap."""
        return cls(np.zeros(size, dtype=np.uint8))

    @property
    def length(self) -> int:
        return 8 * len(self.bitmap)

    def _positions(self, items) -> np.ndarray:
        h = _murmur32_items(items).view(np.uint32).astype(np.uint64)  # & 0xFFFFFFFFL
        return (h % np.uint64(self.length)).astype(np.int64)

    def add(self, items) -> "ReferenceLC":
        bit = self._positions(items)
        np.bitwise_or.at(self.bitmap, bit >> 3, (1 << (bit & 7)).astype(np.uint8))
        return self

    def is_set(self, items) -> np.ndarray:
        bit = self._positions(items)
        return (self.bitmap[bit >> 3] >> (bit & 7).astype(np.uint8)) & 1 == 1

    def cardinality(self) -> float:
        m = self.length
        v = m - int(np.unpackbits(self.bitmap).sum())
        if v == 0:
            return float("inf")
        return round(m * math.log(m / v))

    def merge(self, other: "ReferenceLC") -> "ReferenceLC":
        if len(self.bitmap) != len(other.bitmap):
            raise SketchMergeError("ReferenceLC size mismatch")
        np.bitwise_or(self.bitmap, other.bitmap, out=self.bitmap)
        return self

    def to_bytes(self) -> bytes:
        return self.bitmap.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "ReferenceLC":
        return cls(np.frombuffer(data, dtype=np.uint8).copy())
