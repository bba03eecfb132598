"""Kernel table: the sketch and hashing kernels timed on seeded numpy
arrays, with no Spark session, so nothing else competes for the cores.

Every figure goes through a public call of the library:
``update_hashed`` / ``add_hashed`` / ``add_values`` / ``update_batch``,
``merge``, ``to_bytes`` / ``from_bytes`` and the ``hashing`` functions.
Each figure is the median of ``reps`` timings.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pyarrow as pa

from stream_lib_spark.hashing import murmur64a_chunked, xxhash64_long
from stream_lib_spark.sketches.bloom import BloomFilter
from stream_lib_spark.sketches.cms import CountMinSketch
from stream_lib_spark.sketches.hll import HllPlusPlus
from stream_lib_spark.sketches.kll import KLL
from stream_lib_spark.sketches.spacesaving import SpaceSaving
from stream_lib_spark.sketches.tdigest import TDigest

#: constructor, update call and input kind of each timed sketch; the
#: parameters are the ones the workloads use
KINDS = {
    "hll": (lambda: HllPlusPlus(p=14), lambda sk, x: sk.update_hashed(x), "hash"),
    "cms": (lambda: CountMinSketch.from_accuracy(eps=1e-3, confidence=0.99),
            lambda sk, x: sk.update_hashed(x), "hash"),
    "bloom": (lambda: BloomFilter.for_capacity(1 << 20, 0.01),
              lambda sk, x: sk.add_hashed(x), "hash"),
    "tdigest": (lambda: TDigest(compression=100.0), lambda sk, x: sk.add_values(x), "value"),
    "kll": (lambda: KLL(k=200), lambda sk, x: sk.add_values(x), "value"),
    "spacesaving": (lambda: SpaceSaving(capacity=256),
                    lambda sk, x: sk.update_batch(*x), "item"),
}


def _median_s(fn, reps: int) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _inputs(seed: int, rows: int) -> dict:
    rng = np.random.default_rng(seed)
    hashes = rng.integers(np.iinfo(np.int64).min, np.iinfo(np.int64).max,
                          size=rows, dtype=np.int64)
    values = rng.lognormal(0.5, 1.5, size=rows)
    # power-law item ids, as the transcript tool/conv columns are skewed
    ids = np.floor(rng.random(rows) ** 4 * (rows // 8)).astype(np.int64)
    items, counts = np.unique(ids, return_counts=True)
    strings = pa.array([f"conv-{i}" for i in ids.tolist()], type=pa.string())
    return {
        "hash": hashes,
        "value": values,
        "item": (np.array([f"conv-{i}" for i in items.tolist()], dtype=object), counts),
        "ints": ids,
        "strings": strings,
    }


def _halves(x, kind: str):
    if kind == "item":
        items, counts = x
        h = len(items) // 2
        return (items[:h], counts[:h]), (items[h:], counts[h:])
    h = len(x) // 2
    return x[:h], x[h:]


def kernel_table(seed: int, rows: int = 1 << 19, reps: int = 5) -> dict[str, float]:
    """Return {metric name: value} for every ``sketches.*`` and
    ``hashing.*`` per-layer metric."""
    data = _inputs(seed, rows)
    out: dict[str, float] = {}
    for kind, (new, update, mode) in KINDS.items():
        x = data[mode]
        out[f"sketches.{kind}.update_ns_per_row"] = (
            _median_s(lambda: update(new(), x), reps) / rows * 1e9)
        a, b = _halves(x, mode)
        blob_a = update(new(), a).to_bytes()
        sk_b = update(new(), b)
        cls = type(sk_b)
        copies = iter([cls.from_bytes(blob_a) for _ in range(reps)])
        out[f"sketches.{kind}.merge_us"] = (
            _median_s(lambda: next(copies).merge(sk_b), reps) * 1e6)
        full = update(new(), x)
        blob = full.to_bytes()
        out[f"sketches.{kind}.to_bytes_us"] = _median_s(full.to_bytes, reps) * 1e6
        out[f"sketches.{kind}.from_bytes_us"] = (
            _median_s(lambda: cls.from_bytes(blob), reps) * 1e6)
        out[f"sketches.{kind}.state_bytes"] = float(len(blob))
    ints = data["ints"]
    out["hashing.xxhash64_long_ns_per_row"] = (
        _median_s(lambda: xxhash64_long(ints), reps) / rows * 1e9)
    strings = data["strings"]
    offsets = np.frombuffer(strings.buffers()[1], dtype=np.int32, count=rows + 1)
    payload = np.frombuffer(strings.buffers()[2], dtype=np.uint8)
    out["hashing.murmur64a_chunked_ns_per_row"] = (
        _median_s(lambda: murmur64a_chunked(payload, offsets), reps) / rows * 1e9)
    return out
