"""Reference LinearCounting interop vs javac-compiled goldens: the
rebuilt update path must reproduce the reference's bitmap BYTE-FOR-BYTE
for the same offered items, match its estimate exactly, and OR-merge."""

import base64
import csv
import os

import numpy as np

from stream_lib_spark.sketches.cms_wire import _murmur2_32_py
from stream_lib_spark.sketches.lc_wire import ReferenceLC

GOLDEN = os.path.join(os.path.dirname(__file__), "..", "tools", "golden",
                      "lc_wire_golden.csv")


def _rows():
    with open(GOLDEN) as f:
        for size, n, card, b64 in csv.reader(f):
            yield int(size), int(n), float(card), base64.b64decode(b64)


def test_bitmap_and_estimate_parity():
    for size, n, ref_card, blob in _rows():
        # rebuild from scratch with OUR update path — must equal the
        # reference's serialized bitmap exactly
        mine = ReferenceLC(np.zeros(size, dtype=np.uint8))
        mine.add([f"item-{i}" for i in range(n)])
        assert mine.to_bytes() == blob
        # import + estimate parity + roundtrip
        lc = ReferenceLC.from_bytes(blob)
        assert lc.cardinality() == ref_card
        assert lc.to_bytes() == blob
        assert lc.is_set([f"item-{i}" for i in range(min(n, 50))]).all()
    # 300 items of 4,000 UTF-8 bytes span more than one ~1 MB gather step
    # ((1 << 20) // 4000 = 262 rows): each bit position is the scalar
    # murmur2-32 (seed -1) of its item
    spanning = [f"{i:04d}" + "\u00e9" * 1998 for i in range(300)]
    lc = ReferenceLC.new(4096)
    want = [(_murmur2_32_py(s.encode("utf-8"), 4000, -1) & 0xFFFFFFFF) % lc.length for s in spanning]
    assert lc._positions(spanning).tolist() == want


def test_split_merge_equals_whole():
    size, n, _c, blob = next(_rows())
    parts = []
    for s in range(4):
        p = ReferenceLC(np.zeros(size, dtype=np.uint8))
        p.add([f"item-{i}" for i in range(s, n, 4)])
        parts.append(p)
    merged = parts[0]
    for p in parts[1:]:
        merged.merge(p)
    assert merged.to_bytes() == blob
