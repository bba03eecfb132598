"""stream_lib_spark — a PySpark-native distributed sketch /
approximate-aggregation library with the capabilities of
addthis/stream-lib, rebuilt Spark-first.

Sketches (HLL/HLL++, Count-Min, t-digest, KLL, Bloom, Space-Saving) are
commutative-monoid states over numpy buffers; the Spark layer carries
them as BinaryType columns through vectorized Arrow UDFs with an
explicit two-level (partition-local partial → tree) merge.
"""

from .sketches import (
    KLL,
    BloomFilter,
    CountMinSketch,
    HllPlusPlus,
    SketchMergeError,
    SpaceSaving,
    TDigest,
)

__version__ = "0.1.0"

__all__ = [
    "KLL",
    "BloomFilter",
    "CountMinSketch",
    "HllPlusPlus",
    "SketchMergeError",
    "SpaceSaving",
    "TDigest",
]
