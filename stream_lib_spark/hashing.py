"""Vectorized 64-bit hashing over numpy arrays.

The reference (addthis/stream-lib) dispatches every item through
MurmurHash (``hash/MurmurHash.java:135-217`` — MurmurHash64A, seed
``0xe17a1465``).  We re-implement MurmurHash64A *vectorized* over numpy
so that identical string inputs hash to identical 64-bit values,
which lets the statistical contracts (HLL register distribution, CMS
row hashes) line up with the reference's published behaviour.  The
implementation below is written from the public MurmurHash64A
specification (Austin Appleby, public domain), not translated from the
reference source.

Also provides splitmix64 (Steele et al., public domain) for deriving
deterministic per-row hash seeds (CMS rows, Bloom double hashing), and
XXH64 bit-identical to Spark's ``xxhash64`` over long and string
columns (the direct row-group read's hash).

Each hash has one mixer, a kernel over an (n, L) uint8 matrix of
equal-length inputs: ``_murmur64a_fixed``, ``_xxhash64_fixed``, and the
reference murmur2-32 ``sketches.cms_wire.murmur2_32_fixed``.  A long
is one 8-byte row.  Variable-length strings have one grouping,
``_by_length``, which every string hash goes through: Arrow buffers,
encoded Python items (``murmur64a_array``, the reference CMS, Bloom,
LinearCounting and LogLog wire updates) and the text kernels' whole-doc
shingles.  The scalar ``murmur64a_bytes`` and
``cms_wire._murmur2_32_py`` are the tests' oracles.

All arithmetic is modulo 2**64 via ``np.uint64``; numpy overflow
warnings are intentionally suppressed inside these kernels.
"""

from __future__ import annotations

import numpy as np
from numpy.lib.stride_tricks import sliding_window_view

U64 = np.uint64

MURMUR64_DEFAULT_SEED = np.uint64(0xE17A1465)  # matches MurmurHash.java:136
_M = np.uint64(0xC6A4A7935BD1E995)
_R = np.uint64(47)


def splitmix64(x: np.ndarray | int) -> np.ndarray | np.uint64:
    """SplitMix64 finalizer — deterministic seed derivation."""
    with np.errstate(over="ignore"):
        z = np.asarray(x, dtype=U64) + U64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> U64(30))) * U64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> U64(27))) * U64(0x94D049BB133111EB)
        z = z ^ (z >> U64(31))
    return z


def murmur64a_bytes(data: bytes, seed: int | np.uint64 = MURMUR64_DEFAULT_SEED) -> int:
    """Scalar MurmurHash64A of one byte string (reference semantics:
    ``MurmurHash.java:170-217`` with UTF-8 encoding standardized).

    Returns a Python int in [0, 2**64).
    """
    with np.errstate(over="ignore"):
        length = len(data)
        h = (U64(seed) & U64(0xFFFFFFFFFFFFFFFF)) ^ (U64(length) * _M)
        n_blocks = length // 8
        if n_blocks:
            blocks = np.frombuffer(data[: n_blocks * 8], dtype="<u8")
            for k in blocks:
                k = k * _M
                k ^= k >> _R
                k = k * _M
                h ^= k
                h = h * _M
        tail = data[n_blocks * 8 :]
        if tail:
            t = U64(0)
            for i in range(len(tail) - 1, -1, -1):
                t = (t << U64(8)) | U64(tail[i])
            h ^= t
            h = h * _M
        h ^= h >> _R
        h = h * _M
        h ^= h >> _R
    return int(h)


def murmur64a_array(strings: np.ndarray, seed: int | np.uint64 = MURMUR64_DEFAULT_SEED) -> np.ndarray:
    """Vectorized MurmurHash64A over an object array of str/bytes: bytes
    as they are, ``None`` as ``b""``, anything else as the UTF-8 bytes of
    its ``str``, grouped by byte length (``_by_length``).  Returns
    uint64."""
    enc = [s if isinstance(s, bytes) else ("" if s is None else str(s)).encode("utf-8") for s in strings]
    return _hash_by_length(*_joined(enc), _murmur64a_fixed, seed)


def _murmur64a_fixed(buf: np.ndarray, length: int, seed: int | np.uint64) -> np.ndarray:
    """MurmurHash64A over an (n, length) uint8 matrix, vectorized."""
    n = buf.shape[0]
    with np.errstate(over="ignore"):  # uint64 wraparound is the algorithm
        init = U64(seed) ^ (U64(length) * _M)
    h = np.full(n, init, dtype=U64)
    n_blocks = length // 8
    if n_blocks:
        blocks = np.ascontiguousarray(buf[:, : n_blocks * 8]).view("<u8")  # (n, n_blocks)
        for j in range(n_blocks):
            k = blocks[:, j] * _M
            k ^= k >> _R
            k *= _M
            h ^= k
            h *= _M
    tail_len = length - n_blocks * 8
    if tail_len:
        t = np.zeros(n, dtype=U64)
        for i in range(tail_len - 1, -1, -1):
            t = (t << U64(8)) | buf[:, n_blocks * 8 + i].astype(U64)
        h ^= t
        h *= _M
    h ^= h >> _R
    h *= _M
    h ^= h >> _R
    return h


def murmur64a_int64(values: np.ndarray, seed: int | np.uint64 = MURMUR64_DEFAULT_SEED) -> np.ndarray:
    """MurmurHash64A of int64 values serialized as 8 little-endian bytes:
    ``_murmur64a_fixed`` over an (n, 8) matrix, as ``xxhash64_long`` is
    ``_xxhash64_fixed``.

    NOTE: this is a fast numeric hash, NOT reference parity for numeric
    inputs — the reference's ``hash64(Object)`` routes ``Long`` through
    ``toString()`` (``MurmurHash.java:135-146`` falls through to the
    string overload).  The murmur parity mode in ``agg.py`` is
    unaffected: it casts items to string before hashing.
    """
    x = np.ascontiguousarray(values, dtype="<i8")
    return _murmur64a_fixed(x.view(np.uint8).reshape(-1, 8), 8, seed)


def clz64(x: np.ndarray) -> np.ndarray:
    """Count leading zeros of uint64 array, exact, vectorized (no float)."""
    x = x.astype(U64, copy=True)
    n = np.zeros(x.shape, dtype=np.int64)
    for s in (32, 16, 8, 4, 2, 1):
        su = U64(s)
        small = (x >> U64(64 - s)) == 0
        n += np.where(small, s, 0)
        with np.errstate(over="ignore"):
            x = np.where(small, x << su, x)
    # x == 0 originally → all steps matched → n == 63; bump to 64
    n += (x >> U64(63)) == 0
    return n


def _by_length(data: np.ndarray, starts: np.ndarray, lengths: np.ndarray):
    """The one grouping of variable-length byte strings behind every
    string hash: yields ``(rows, (k, L) uint8 matrix, L)`` over the
    strings ``data[starts[i]:starts[i] + lengths[i]]``, every row of a
    matrix ``L`` bytes long, so a fixed-length kernel hashes each group
    with no per-row Python.  A group's rows are copied out of a
    sliding-window view of ``data`` (one index per row, none per byte),
    about 1 MB of string bytes at a time."""
    lengths = np.asarray(lengths, dtype=np.int64)
    order = np.argsort(lengths, kind="stable")
    for sel in np.split(order, np.flatnonzero(np.diff(lengths[order])) + 1):
        if not len(sel):
            continue
        L = int(lengths[sel[0]])
        windows = sliding_window_view(data, L)
        step = max(1, (1 << 20) // max(L, 1))
        for lo in range(0, len(sel), step):
            rows = sel[lo:lo + step]
            yield rows, windows[starts[rows]], L


def _hash_by_length(data: np.ndarray, starts: np.ndarray, lengths: np.ndarray,
                    fixed, seed) -> np.ndarray:
    """uint64 hash of each byte string of ``_by_length``, each group
    hashed by the matrix kernel ``fixed(buf, L, seed)``."""
    out = np.zeros(len(starts), dtype=U64)
    for rows, buf, L in _by_length(data, starts, lengths):
        out[rows] = fixed(buf, L, seed)
    return out


def _joined(enc: list) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(uint8 data, starts, lengths) of a list of byte strings laid end
    to end: what ``_by_length`` reads."""
    lengths = np.fromiter(map(len, enc), dtype=np.int64, count=len(enc))
    return np.frombuffer(b"".join(enc), dtype=np.uint8), np.cumsum(lengths) - lengths, lengths


def murmur64a_chunked(data: np.ndarray, offsets: np.ndarray,
                      seed: int | np.uint64 = MURMUR64_DEFAULT_SEED) -> np.ndarray:
    """MurmurHash64A over variable-length byte strings given as Arrow
    buffers (``arrowbuf.string_bytes``), grouped by byte length
    (``_by_length``).  Returns uint64."""
    return _hash_by_length(data, offsets[:-1], np.diff(offsets), _murmur64a_fixed, seed)


# ---------------------------------------------------------------------------
# XXH64 (Spark ``xxhash64`` parity) — written from the public xxHash
# specification (Yann Collet, BSD 2-clause).  Spark's ``F.xxhash64`` over
# a LongType column hashes each value's 8-byte little-endian encoding,
# over a StringType column each value's UTF-8 bytes, with seed 42; bit
# parity with the JVM is pinned by tests/test_direct_scan.py (longs:
# golden literals + random fuzz) and tests/test_xxhash64_utf8.py
# (strings).  Both go through the one matrix kernel ``_xxhash64_fixed``.

_XXP1 = U64(0x9E3779B185EBCA87)
_XXP2 = U64(0xC2B2AE3D27D4EB4F)
_XXP3 = U64(0x165667B19E3779F9)
_XXP4 = U64(0x85EBCA77C2B2AE63)
_XXP5 = U64(0x27D4EB2F165667C5)

SPARK_XXHASH64_SEED = 42  # Spark's default seed for xxhash64/hash exprs


def _rotl64(x: np.ndarray, r: int) -> np.ndarray:
    ru = U64(r)
    return (x << ru) | (x >> (U64(64) - ru))


def xxhash64_long(values: np.ndarray, seed: int | np.uint64 = SPARK_XXHASH64_SEED) -> np.ndarray:
    """Vectorized XXH64 of each int64 value (8-byte little-endian input,
    i.e. exactly what Spark's ``xxhash64(longCol)`` computes).  Returns
    int64 (Spark's signed representation)."""
    x = np.ascontiguousarray(values, dtype="<i8")
    return _xxhash64_fixed(x.view(np.uint8).reshape(-1, 8), 8, seed).view(np.int64)


def _xxround(lane: np.ndarray, acc=None) -> np.ndarray:
    """XXH64's round; ``acc=None`` is the round over a zero accumulator."""
    x = lane * _XXP2 if acc is None else acc + lane * _XXP2
    return _rotl64(x, 31) * _XXP1


def _xxhash64_fixed(buf: np.ndarray, length: int, seed: int | np.uint64):
    """XXH64 over an (n, length) uint8 matrix, vectorized: the 32-byte
    stripe loop, then the 8-, 4- and 1-byte tails.  The state stays a
    scalar until the first lane meets it, so a length-0 group gets one
    0-d hash for all of its rows."""
    n = buf.shape[0]
    n_words = length // 8
    words = np.ascontiguousarray(buf[:, : n_words * 8]).view("<u8")  # (n, n_words)
    seed = U64(int(seed) & 0xFFFFFFFFFFFFFFFF)
    with np.errstate(over="ignore"):
        if length >= 32:
            v = [np.full(n, seed + _XXP1 + _XXP2), np.full(n, seed + _XXP2),
                 np.full(n, seed), np.full(n, seed - _XXP1)]
            for w in range(0, (length // 32) * 4, 4):
                v = [_xxround(words[:, w + i], v[i]) for i in range(4)]
            h = _rotl64(v[0], 1) + _rotl64(v[1], 7) + _rotl64(v[2], 12) + _rotl64(v[3], 18)
            for lane in v:
                h = (h ^ _xxround(lane)) * _XXP1 + _XXP4
            h = h + U64(length)
        else:
            h = seed + _XXP5 + U64(length)
        for w in range((length // 32) * 4, n_words):
            h = _rotl64(h ^ _xxround(words[:, w]), 27) * _XXP1 + _XXP4
        pos = n_words * 8
        if length - pos >= 4:
            k = np.ascontiguousarray(buf[:, pos:pos + 4]).view("<u4")[:, 0].astype(U64)
            h = _rotl64(h ^ (k * _XXP1), 23) * _XXP2 + _XXP3
            pos += 4
        for j in range(pos, length):
            h = _rotl64(h ^ (buf[:, j].astype(U64) * _XXP5), 11) * _XXP1
        h = np.asarray(h)  # a fresh array, or 0-d for a length-0 group
        h ^= h >> U64(33)
        h *= _XXP2
        h ^= h >> U64(29)
        h *= _XXP3
        h ^= h >> U64(32)
    return h


def xxhash64_utf8(data: np.ndarray, offsets: np.ndarray,
                  seed: int | np.uint64 = SPARK_XXHASH64_SEED) -> np.ndarray:
    """Vectorized XXH64 of variable-length byte strings given as Arrow
    buffers (``arrowbuf.string_bytes``), grouped by byte length
    (``_by_length``): exactly what Spark's ``xxhash64(stringCol)``
    computes over each value's UTF-8 bytes.  Returns int64 (Spark's
    signed representation)."""
    return _hash_by_length(data, offsets[:-1], np.diff(offsets), _xxhash64_fixed, seed).view(np.int64)
