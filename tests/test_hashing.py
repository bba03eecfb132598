"""Hash stability tests (mirrors reference TestMurmurHash.java — golden
values come from the public smhasher reference implementation)."""

import numpy as np

from stream_lib_spark.hashing import (
    clz64,
    murmur64a_array,
    murmur64a_bytes,
    murmur64a_int64,
    splitmix64,
)


def test_murmur64a_smhasher_golden():
    # same golden as the reference's TestMurmurHash.testHash64
    assert np.int64(np.uint64(murmur64a_bytes(b"hashthis"))) == -8896273065425798843


def test_vectorized_matches_scalar():
    strs = ["", "a", "ab", "abcdefg", "abcdefgh", "abcdefghi", "hashthis", "héllo wörld", "x" * 100]
    # None hashes as b"", bytes as they are; 300 rows of 4,000 bytes
    # span more than one ~1 MB gather step ((1 << 20) // 4000 = 262 rows)
    strs += [None, b"", b"\x00\xff raw", "nul\x00inside\x00", "\u65e5\u672c\U0001F600", b"\x80" * 9]
    strs += [f"{i:04d}" + "\u00e9" * 1998 for i in range(300)]
    vec = murmur64a_array(np.array(strs, dtype=object))
    for s, v in zip(strs, vec):
        b = s if isinstance(s, bytes) else ("" if s is None else s).encode("utf-8")
        assert murmur64a_bytes(b) == int(v)


def test_int64_path_matches_bytes():
    import struct

    vals = np.array([0, 1, -1, 2**62, -(2**62), 123456789], dtype=np.int64)
    vec = murmur64a_int64(vals)
    for x, v in zip(vals, vec):
        assert murmur64a_bytes(struct.pack("<q", x)) == int(v)


def test_clz64_exact():
    xs = np.array([0, 1, 2, 3, 2**63, 2**62, 255, 2**64 - 1], dtype=np.uint64)
    expected = [64, 63, 62, 62, 0, 1, 56, 0]
    assert clz64(xs).tolist() == expected
    # exhaustive powers of two
    powers = np.uint64(1) << np.arange(64, dtype=np.uint64)
    assert clz64(powers).tolist() == list(range(63, -1, -1))


def test_splitmix64_deterministic():
    a = splitmix64(np.arange(10, dtype=np.uint64))
    b = splitmix64(np.arange(10, dtype=np.uint64))
    assert (a == b).all()
    assert len(np.unique(a)) == 10
