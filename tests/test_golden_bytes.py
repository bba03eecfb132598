"""Byte-golden serialization pins (mirrors the reference's pinned-bytes
test, ``TestHyperLogLogPlus.java:517-527``): the exact serialized state
for fixed hashed offers must never change silently — wire format is a
cross-round/cross-version contract for checkpoints and state stores.

If a codec change is INTENTIONAL, bump the sketch version byte and
update these hashes in the same commit.
"""

import hashlib

import numpy as np

from stream_lib_spark.sketches.bloom import BloomFilter
from stream_lib_spark.sketches.cms import CountMinSketch
from stream_lib_spark.sketches.hll import HllPlusPlus
from stream_lib_spark.sketches.kll import KLL
from stream_lib_spark.sketches.tdigest import TDigest

# the reference's golden offers: 0x0, 0x7FF..F, 0x8000..0, 0xFFF..F
GOLDEN_HASHES = np.array([0, 0x7FFFFFFFFFFFFFFF, -0x8000000000000000, -1], dtype=np.int64)


def _sha(b: bytes) -> str:
    return hashlib.sha256(b).hexdigest()[:16]


def test_hllpp_golden_bytes():
    sk = HllPlusPlus.new(p=14, sp=25).update_hashed(GOLDEN_HASHES)
    assert _sha(sk.to_bytes()) == "1e0e76eee5c00f4a"


def test_hllpp_dense_golden_bytes():
    sk = HllPlusPlus(p=11, sp=0).update_hashed(GOLDEN_HASHES)
    assert _sha(sk.to_bytes()) == "aa2d6e40ab4a15d7"


def test_cms_golden_bytes():
    sk = CountMinSketch(depth=5, width=1000, seed=7364181).update_hashed(GOLDEN_HASHES)
    assert _sha(sk.to_bytes()) == "8008961e274632c6"


def test_tdigest_golden_bytes():
    sk = TDigest.from_values(np.array([0.0, 1.0, 2.5, 2.5, -3.0]), 100.0)
    assert _sha(sk.to_bytes()) == "a7bb982ebed068b5"


def test_tdigest_keyed_golden_bytes():
    # 1,000 per-key digests of 48 values, built and finalized as the
    # keyed kernel does; at compression 20 every digest cuts
    # multi-value clusters (weighted means), at 100 (the keyed
    # benchmark's) every cluster is one value or one repeated atom
    rng = np.random.default_rng(48)
    h = hashlib.sha256()
    for key in range(1000):
        values = np.round(rng.lognormal(0.0, 1.0, 48), 2)
        h.update(TDigest.from_values(values, (100.0, 20.0)[key % 2]).compress().to_bytes())
    assert h.hexdigest()[:16] == "0e69272390716149"


def test_kll_golden_bytes():
    sk = KLL(k=16).add_values(np.arange(1000, dtype=np.float64))
    assert _sha(sk.to_bytes()) == "fc51ab3082d3830d"


def test_bloom_golden_bytes():
    sk = BloomFilter(m_bits=1024, k=5, seed=3).add_hashed(GOLDEN_HASHES)
    assert _sha(sk.to_bytes()) == "f91dca2073cab521"
