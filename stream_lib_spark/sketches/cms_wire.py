"""Import / merge / query interop for REFERENCE Count-Min Sketch blobs
(``frequency/CountMinSketch.java:298-341`` wire format), so serialized
sketches from a JVM stream-lib deployment can be read, distributed-
merged and queried here — the migration path for existing state.

Unlike our native ``CountMinSketch`` (Kirsch–Mitzenmacher rows from one
64-bit hash), the reference uses a per-row universal family for long
keys (``hash = hashA[i]*item; hash += hash >> 32; hash &= 2^31-1;
(int)hash % width``, ``CountMinSketch.java:166-175``) and double-hashed
murmur2-32 buckets over UTF-16 bytes for string keys
(``membership/Filter.java:69-87``).  ``ReferenceCMS`` reproduces both
EXACTLY (golden-tested against the javac-compiled reference in
``tests/test_cms_wire.py``), vectorized over numpy:

- murmur2-32 replicates the reference's byte handling quirks: the
  4-byte blocks are little-endian two's-complement ints (the top byte
  is sign-carrying — a plain ``view('<i4')``), tail bytes sign-extend,
  and Java's ``String.getBytes("UTF-16")`` prepends a big-endian BOM;
- bucket index uses Java's truncating ``%`` (sign follows dividend)
  then ``Math.abs``;
- all 32-bit arithmetic wraps (two's complement), helpers below.

Wire format: size i64 | depth i32 | width i32 | per row: hashA i64 then
width i64 counters — all big-endian (DataOutputStream).
"""

from __future__ import annotations

import numpy as np

from ..hashing import _by_length, _joined
from .base import SketchMergeError

_M32 = np.int32(0x5BD1E995)
_M32_INT = 0x5BD1E995


def _lsr32(x: np.ndarray, s: int) -> np.ndarray:
    """Java >>> on int32."""
    return (x.view(np.uint32) >> np.uint32(s)).view(np.int32)


def _murmur2_32_py(data: bytes, length: int, seed: int) -> int:
    """Scalar reference murmur2-32 over one row — plain Python ints.
    The vectorized kernel is parallel across ROWS but serial over byte
    positions (murmur's fold is sequential), so a single multi-MB item
    costs ~1 numpy-scalar op per 4 bytes (~50s/2MB); this path is ~100x
    cheaper per step for long, few-row buckets.  Bit-identical to the
    vector kernel (property-tested)."""
    M, MASK = _M32_INT, 0xFFFFFFFF
    h = ((seed & MASK) ^ length) & MASK
    len4 = length >> 2
    for j in range(len4):
        k = int.from_bytes(data[4 * j:4 * j + 4], "little")
        k = (k * M) & MASK
        k ^= k >> 24
        k = (k * M) & MASK
        h = (h * M) & MASK
        h ^= k
    left = length - 4 * len4
    if left:
        if left >= 3:
            h ^= ((data[length - 3] - 256 if data[length - 3] > 127 else data[length - 3]) << 16) & MASK
        if left >= 2:
            h ^= ((data[length - 2] - 256 if data[length - 2] > 127 else data[length - 2]) << 8) & MASK
        h ^= (data[length - 1] - 256 if data[length - 1] > 127 else data[length - 1]) & MASK
        h = (h * M) & MASK
    h ^= h >> 13
    h = (h * M) & MASK
    h ^= h >> 15
    return h - (1 << 32) if h >= (1 << 31) else h


def murmur2_32_fixed(buf: np.ndarray, length: int, seed) -> np.ndarray:
    """Reference murmur2-32 (``hash/MurmurHash.java:64-110``) over an
    (n, length) uint8 matrix, vectorized; ``seed`` scalar or (n,) int32."""
    n = buf.shape[0]
    if length >= 4096 and n * 64 < length:
        # long, few-row bucket: scalar big-int path beats the
        # numpy-scalar-per-4-bytes loop ~100x (see _murmur2_32_py)
        seeds = np.broadcast_to(np.asarray(seed, dtype=np.int32), n)
        return np.array(
            [_murmur2_32_py(buf[i, :length].tobytes(), length, int(seeds[i]))
             for i in range(n)],
            dtype=np.int32,
        )
    with np.errstate(over="ignore"):
        h = (np.broadcast_to(np.asarray(seed, dtype=np.int32), n).copy()
             ^ np.int32(length))
        len4 = length >> 2
        if len4:
            blocks = np.ascontiguousarray(buf[:, : 4 * len4]).view("<i4")
            for j in range(len4):
                k = blocks[:, j] * _M32
                k ^= _lsr32(k, 24)
                k = k * _M32
                h = h * _M32
                h = h ^ k
        left = length - 4 * len4
        if left:
            sb = buf.view(np.int8)  # Java bytes are signed; tail sign-extends
            if left >= 3:
                h = h ^ (sb[:, length - 3].astype(np.int32) << 16)
            if left >= 2:
                h = h ^ (sb[:, length - 2].astype(np.int32) << 8)
            h = h ^ sb[:, length - 1].astype(np.int32)
            h = h * _M32
        h ^= _lsr32(h, 13)
        h = h * _M32
        h ^= _lsr32(h, 15)
    return h


def _coerce_batch(items) -> np.ndarray:
    """Batch → ndarray WITHOUT a lossy fixed-width cast: list inputs
    must become OBJECT arrays here — ``np.asarray(['x\\x00'])`` builds
    fixed-width U storage that strips the trailing U+0000 before any
    sentinel can protect it (code-review r6 #1).  U-dtype ndarrays from
    the caller already lost such code points at THEIR construction;
    that matches the old per-item path, which read the same stripped
    elements.  S-dtype (bytes) arrays route through OBJECT so both
    containers land on the same ``str()`` repr semantics a list of
    bytes gets — container-independent state (code-review r6 pass 2)."""
    if isinstance(items, np.ndarray):
        if items.dtype.kind == "S":
            return items.astype(object)
        return items
    return np.asarray(items, dtype=object)


def _as_str_objects(arr: np.ndarray) -> np.ndarray:
    """Object batch → object batch of PYTHON STR, coercing non-str
    elements via one str() pass only when any are present (the
    short-circuit type scan is ~0.05s/1M and keeps every downstream
    length/cap/cast decision consistent — an element whose __len__
    disagrees with its repr length, e.g. a list, would otherwise dodge
    the long-tail split, code-review r6 pass 2 #1)."""
    if any(type(x) is not str for x in arr):
        return np.array([str(x) for x in arr], dtype=object)
    return arr


def string_hash_buckets(items, depth: int, width: int) -> np.ndarray:
    """(n, depth) bucket indices — Filter.getHashBuckets semantics.
    Java's "UTF-16" charset = big-endian BOM + UTF-16BE payload.

    Encode is per item ON PURPOSE (round 6, measured): a vectorized
    UCS4-view encoder beat this listcomp by 17% on the clean fast path,
    but the hardening it needed for correctness (sentinel before the
    fixed-width cast for trailing NULs, container-consistent bytes
    handling, a length-probe split so one huge item can't inflate the
    O(n·max_len·4) padded matrix) cost more than the win — 0.84s vs
    0.76s per 1M items — while the per-item codec has none of those
    hazards and stays O(total bytes).  The length-bucketed kernel and
    the scalar big-int path for long rows (~100x on multi-MB items) are
    where the real vectorization lives; see BENCH.md "encoder
    micro-bench".  The encoded items are grouped by byte length
    (``hashing._by_length``), and each group's h1/h2 pair comes from one
    matrix."""
    arr = _coerce_batch(items)
    if arr.dtype.kind == "O":
        arr = _as_str_objects(arr)
    enc = [b"\xfe\xff" + str(s).encode("utf-16-be") for s in arr]
    out = np.empty((len(enc), depth), dtype=np.int64)
    rows32 = np.arange(depth, dtype=np.int32)
    for sel, buf, L in _by_length(*_joined(enc)):
        h1 = murmur2_32_fixed(buf, L, 0)
        h2 = murmur2_32_fixed(buf, L, h1)
        with np.errstate(over="ignore"):
            # (h1 + i*h2) in WRAPPING int32 = Java's int arithmetic
            v = h1[:, None] + rows32[None, :] * h2[:, None]
        # Java: Math.abs(v % max) with truncating % — algebraically
        # |trunc_mod(v, max)| == |v| % max, one abs + one positive mod
        # (the np.where truncating-mod emulation this replaces was the
        # hot spot: ~150x slower for identical output)
        out[sel] = np.abs(v.astype(np.int64)) % width
    return out


def long_hash_buckets(items: np.ndarray, hash_a: np.ndarray, width: int) -> np.ndarray:
    """(depth, n) bucket indices — CountMinSketch.hash(long, i) semantics."""
    with np.errstate(over="ignore"):
        h = hash_a[:, None] * items.astype(np.int64)[None, :]  # int64 wrap
        h = h + (h >> np.int64(32))  # arithmetic shift, like Java's >>
        h = h & np.int64((1 << 31) - 1)
        return (h % np.int64(width)).astype(np.int64)


class _JavaRandom:
    """Bit-exact replica of ``java.util.Random`` (the 48-bit LCG the
    JDK documents publicly), needed to reproduce the reference's
    seeded hashA row coefficients (``CountMinSketch.java:143-156``:
    ``hashA[i] = new Random(seed).nextInt(Integer.MAX_VALUE)``)."""

    _MULT = 0x5DEECE66D
    _MASK = (1 << 48) - 1

    def __init__(self, seed: int):
        self._s = (seed ^ self._MULT) & self._MASK

    def _next(self, bits: int) -> int:
        self._s = (self._s * self._MULT + 0xB) & self._MASK
        return self._s >> (48 - bits)

    def next_int_max(self) -> int:
        """nextInt(Integer.MAX_VALUE): bound 2^31-1 is not a power of
        two, so the JDK rejects the single value (2^31-1) that would
        bias the modulus and retries."""
        while True:
            u = self._next(31)
            if u != (1 << 31) - 1:
                return u


class ReferenceCMS:
    """A reference-format CMS: parse, query (exact parity), merge, and
    re-serialize.  Also supports adding new items with the reference's
    own hash family, so migrated state can keep absorbing data —
    and, via ``create``, BUILDING a sketch from scratch whose blob a
    JVM stream-lib deployment queries with exact parity (the export
    direction; golden-tested in tests/test_cms_wire.py)."""

    def __init__(self, depth: int, width: int, hash_a: np.ndarray,
                 table: np.ndarray, size: int = 0):
        self.depth, self.width = depth, width
        self.hash_a = hash_a.astype(np.int64)
        self.table = table.astype(np.int64)
        self.size = size

    @classmethod
    def create(cls, depth: int | None = None, width: int | None = None,
               seed: int = 1, eps: float | None = None,
               confidence: float | None = None) -> "ReferenceCMS":
        """Build an EMPTY reference-family CMS from scratch, exactly as
        the JVM constructors would: either (depth, width, seed)
        (``CountMinSketch.java:51-57``) or (eps, confidence, seed) with
        ``width = ceil(2/eps)``, ``depth = ceil(-log2(1-confidence))``
        (``CountMinSketch.java:59-67``); hashA rows come from the
        seeded java.util.Random."""
        import math

        if depth is None or width is None:
            if eps is None or confidence is None:
                raise ValueError("need (depth, width) or (eps, confidence)")
            width = int(math.ceil(2.0 / eps))
            depth = int(math.ceil(-math.log(1.0 - confidence) / math.log(2.0)))
        r = _JavaRandom(seed)
        hash_a = np.array([r.next_int_max() for _ in range(depth)], dtype=np.int64)
        return cls(depth, width, hash_a, np.zeros((depth, width), dtype=np.int64))

    # ---------------------------------------------------------------- query

    def estimate_long(self, items: np.ndarray) -> np.ndarray:
        b = long_hash_buckets(np.asarray(items), self.hash_a, self.width)
        return self.table[np.arange(self.depth)[:, None], b].min(axis=0)

    def estimate_string(self, items) -> np.ndarray:
        b = string_hash_buckets(items, self.depth, self.width)  # (n, depth)
        return self.table[np.arange(self.depth)[None, :], b].min(axis=1)

    # ---------------------------------------------------------------- update

    def add_long(self, items: np.ndarray, counts: np.ndarray) -> "ReferenceCMS":
        b = long_hash_buckets(np.asarray(items), self.hash_a, self.width)
        c = np.asarray(counts, dtype=np.int64)
        for i in range(self.depth):
            np.add.at(self.table[i], b[i], c)
        self.size += int(c.sum())
        return self

    def add_string(self, items, counts: np.ndarray) -> "ReferenceCMS":
        b = string_hash_buckets(items, self.depth, self.width)
        c = np.asarray(counts, dtype=np.int64)
        for i in range(self.depth):
            np.add.at(self.table[i], b[:, i], c)
        self.size += int(c.sum())
        return self

    # ---------------------------------------------------------------- merge

    def merge(self, other: "ReferenceCMS") -> "ReferenceCMS":
        if (self.depth, self.width) != (other.depth, other.width) or (
            self.hash_a != other.hash_a
        ).any():
            raise SketchMergeError("ReferenceCMS depth/width/seed mismatch")
        self.table += other.table
        self.size += other.size
        return self

    # ---------------------------------------------------------------- bytes

    def to_bytes(self) -> bytes:
        head = np.array([self.size], dtype=">i8").tobytes()
        head += np.array([self.depth, self.width], dtype=">i4").tobytes()
        body = b"".join(
            np.array([self.hash_a[i]], dtype=">i8").tobytes()
            + self.table[i].astype(">i8").tobytes()
            for i in range(self.depth)
        )
        return head + body

    @classmethod
    def from_bytes(cls, data: bytes) -> "ReferenceCMS":
        size = int(np.frombuffer(data, dtype=">i8", count=1)[0])
        depth, width = (int(x) for x in np.frombuffer(data, dtype=">i4", count=2, offset=8))
        off = 16
        hash_a = np.empty(depth, dtype=np.int64)
        table = np.empty((depth, width), dtype=np.int64)
        for i in range(depth):
            hash_a[i] = np.frombuffer(data, dtype=">i8", count=1, offset=off)[0]
            off += 8
            table[i] = np.frombuffer(data, dtype=">i8", count=width, offset=off)
            off += 8 * width
        return cls(depth, width, hash_a, table, size)
