"""Reference-CMS interop against golden vectors from the javac-compiled
reference (tools/golden/cms_wire_golden.csv): each row carries the
serialized blob plus the reference's own exact point estimates for a
probe set — parse, query-parity, round-trip, split-merge."""

import base64
import csv
import os
import sys

import numpy as np

csv.field_size_limit(sys.maxsize)  # the dense blob rows exceed the default

from stream_lib_spark.sketches.cms_wire import ReferenceCMS

GOLDEN = os.path.join(os.path.dirname(__file__), "..", "tools", "golden",
                      "cms_wire_golden.csv")

LONG_PROBES = np.array([i * 2654435761 for i in range(15)] + [999999999999],
                       dtype=np.int64)
STR_PROBES = [f"tok-{i}" for i in range(10)] + ["absent-key"]


def _rows():
    with open(GOLDEN) as f:
        for depth, width, seed, size, ests, b64 in csv.reader(f):
            yield (int(depth), int(width), int(seed), int(size),
                   [int(x) for x in ests.split(";")], base64.b64decode(b64))


def test_parse_query_parity_and_roundtrip():
    for depth, width, seed, size, ests, blob in _rows():
        cms = ReferenceCMS.from_bytes(blob)
        assert (cms.depth, cms.width, cms.size) == (depth, width, size)
        got_long = cms.estimate_long(LONG_PROBES[:15])
        got_str = cms.estimate_string(STR_PROBES[:10])
        absent_s = cms.estimate_string(["absent-key"])[0]
        absent_l = cms.estimate_long(LONG_PROBES[15:])[0]
        expect = ests
        assert got_long.tolist() == expect[:15]
        assert got_str.tolist() == expect[15:25]
        assert absent_s == expect[25] and absent_l == expect[26]
        assert cms.to_bytes() == blob  # byte-exact round trip


def test_rebuild_matches_reference_table():
    # replay the golden generator's exact input stream with OUR update
    # path into an empty table (reference hashA from the parsed blob):
    # the resulting table must be byte-identical to the reference's
    for depth, width, seed, size, ests, blob in _rows():
        ref = ReferenceCMS.from_bytes(blob)
        mine = ReferenceCMS(depth, width, ref.hash_a,
                            np.zeros((depth, width), dtype=np.int64))
        i = np.arange(5000, dtype=np.int64)
        mine.add_long(i * 2654435761, (i % 5) + 1)
        toks = [f"tok-{int(x) % 700}" for x in i]
        mine.add_string(toks, np.ones(5000, dtype=np.int64))
        assert (mine.table == ref.table).all()
        assert mine.to_bytes() == blob


def test_split_merge_equals_whole():
    depth, width, seed, size, ests, blob = next(_rows())
    ref = ReferenceCMS.from_bytes(blob)
    parts = []
    i = np.arange(5000, dtype=np.int64)
    for s in range(4):
        part = ReferenceCMS(ref.depth, ref.width, ref.hash_a,
                            np.zeros((ref.depth, ref.width), dtype=np.int64))
        sel = i[s::4]
        part.add_long(sel * 2654435761, (sel % 5) + 1)
        part.add_string([f"tok-{int(x) % 700}" for x in sel],
                        np.ones(len(sel), dtype=np.int64))
        parts.append(part)
    merged = parts[0]
    for p in parts[1:]:
        merged.merge(p)
    assert merged.to_bytes() == blob


def test_string_hash_buckets_edge_parity():
    """Round 6: the production bucket path must agree with a direct
    per-item reference computation on every edge that ever bit us —
    trailing NUL (a fixed-width numpy cast would strip it), interior
    NUL, U+0100 (UTF-16-BE low byte 0x00), astral chars, CJK, empty
    strings, and numeric coercion."""
    from stream_lib_spark.sketches.cms_wire import _murmur2_32_py, string_hash_buckets

    tricky = ["", "a", "ab\u0100", "\u0100", "x\x00", "\x00", "inner\x00nul",
              "emoji \U0001F600 mixed", "\u0100" * 7, "plain",
              "\u00fcn\u00efc\u00f8d\u00e9", "\u65e5\u672c\u8a9e"]
    # 300 UTF-16 items of 4,002 bytes span more than one ~1 MB gather
    # step ((1 << 20) // 4002 = 262 rows)
    spanning = [f"{i:04d}" + "\u0100" * 1996 for i in range(300)]
    items = tricky + [f"user-{i}" for i in range(200)] + list(range(50)) + spanning
    got = string_hash_buckets(items, 5, 997)
    rows32 = np.arange(5, dtype=np.int32)
    for i, s in enumerate(items):
        b = b"\xfe\xff" + str(s).encode("utf-16-be")
        h1 = _murmur2_32_py(b, len(b), 0)
        h2 = _murmur2_32_py(b, len(b), h1)
        with np.errstate(over="ignore"):
            v = np.int32(h1) + rows32 * np.int32(h2)
        assert (got[i] == np.abs(v.astype(np.int64)) % 997).all(), (i, s)

    # lone surrogate: the real codec raises (never silently mis-hashes)
    import pytest as _pytest

    with _pytest.raises(UnicodeEncodeError):
        string_hash_buckets(["bad\ud800tail"], 2, 97)


def test_long_item_split_and_scalar_murmur():
    """Code-review r6 #5: huge items must not blow up batch memory
    (the length grouping is O(total bytes)), and the murmur kernel's scalar
    big-int path handles long few-row buckets bit-identically (~100x
    faster than the numpy-scalar-per-4-bytes loop)."""
    from stream_lib_spark.sketches.cms_wire import (
        _murmur2_32_py,
        murmur2_32_fixed,
        string_hash_buckets,
    )

    rng = np.random.RandomState(11)
    # L mod 4 covers all four tail residues incl. the sign-extended
    # 2- and 3-byte branches (code-review r6 pass 2 #7)
    for L in (4096, 4097, 4098, 4099, 10001):
        buf = rng.randint(0, 256, size=(2, L)).astype(np.uint8)
        big = np.vstack([buf] * 201)  # 402 rows -> vector path
        for seed in (-1, 0, 987654321):
            vec = murmur2_32_fixed(big, L, seed)
            sc = murmur2_32_fixed(buf, L, seed)  # 2 rows -> scalar path
            assert (sc == vec[:2]).all()

    import time
    import tracemalloc

    items = np.array([f"user-{i}" for i in range(100_000)]
                     + ["\u9577\u3044" * 40_000, "z" * 2_000_000], dtype=object)
    tracemalloc.start()
    t0 = time.time()
    got = string_hash_buckets(items, 3, 100_003)
    wall, peak = time.time() - t0, tracemalloc.get_traced_memory()[1]
    tracemalloc.stop()
    assert peak < 500 * 2**20, f"memory blow-up: {peak/2**20:.0f} MiB"
    assert wall < 120, f"long-item path too slow: {wall:.1f}s"  # ~3s clean;
    # generous bound: VM contention varies 1.5-4x and the pre-fix
    # behavior was ~57s CLEAN, so 120 still catches a regression
    rows32 = np.arange(3, dtype=np.int32)
    for i in (-2, -1, 0):
        b = b"\xfe\xff" + str(items[i]).encode("utf-16-be")
        h1 = _murmur2_32_py(b, len(b), 0)
        h2 = _murmur2_32_py(b, len(b), h1)
        with np.errstate(over="ignore"):
            v = np.int32(h1) + rows32 * np.int32(h2)
        assert (got[i] == np.abs(v.astype(np.int64)) % 100_003).all()


def test_container_independent_coercion():
    """Code-review r6 pass 2 #2/#3: the same logical items must hash /
    count identically whether they arrive as a list, an object array,
    or an S-dtype (bytes) array — bytes land on str() repr semantics
    in every container."""
    from stream_lib_spark.sketches.cms_wire import string_hash_buckets
    from stream_lib_spark.sketches.reference_family import ReferenceFamilyCTE

    as_list = [b"abc", b"def"]
    as_obj = np.array(as_list, dtype=object)
    as_s = np.array(as_list)  # S-dtype
    outs = [string_hash_buckets(c, 3, 1009).tobytes() for c in (as_list, as_obj, as_s)]
    assert outs[0] == outs[1] == outs[2]
    # repr semantics, matching str(bytes)
    assert (string_hash_buckets(["b'abc'"], 3, 1009) == string_hash_buckets([b"abc"], 3, 1009)).all()

    ctes = []
    for c in (as_list, as_obj, as_s):
        sk = ReferenceFamilyCTE(tipping_point=100, builder="lc", size=64)
        sk.update_batch(c)
        ctes.append(sk.to_bytes())
    assert ctes[0] == ctes[1] == ctes[2]
