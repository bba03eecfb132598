"""Pipeline golden digests: the sha256 prefix of every ``sketch_agg``
blob over the ``events`` fixture, global and keyed by ``event_type``,
plus one keyed ``multi_sketch_agg``.  Each result is executed
distributed (``.collect()``), so the build kernel, the exchange and the
merge fold all sit under the pin.  A refactor of any pipeline layer
must leave these digests unchanged.

Only kinds whose bytes do not depend on the partitioning are pinned
(checked between ``repartition(3)`` and ``repartition(8)`` of the
input).  Left out for that reason: tdigest and kll (their states are
batch-boundary-sensitive), conservative CMS (a conservative update
depends on the counters it meets, so per-partition order shows in the
merged counts) and keyed qdigest (its compressed tree depends on the
per-key partial split; the global qdigest is invariant and pinned).
"""

import hashlib

import pytest

from stream_lib_spark.agg import SketchSpec, multi_sketch_agg, sketch_agg

SF = "/root/testdata/sf0.001"

# name -> (column, spec, hash_mode, global digest, keyed digest or None)
GOLDEN = {
    "hll": ("event_id", SketchSpec("hll", p=12), "xxhash64",
            "a332994ca0309d2b", "57e9ec8cb509e510"),
    "hll-murmur64": ("event_id", SketchSpec("hll", p=12), "murmur64",
                     "aa8ae2c9e2a89c0a", "5dc808464c3162e2"),
    "cms": ("event_id", SketchSpec("cms", eps=1e-2, confidence=0.99), "xxhash64",
            "c49a42697995d363", "46aabc4aa40e2fb9"),
    "bloom": ("event_id", SketchSpec("bloom", n_elements=2000, fpp=0.01), "xxhash64",
              "0d53a4e96b439431", "1529d99f7ad7332a"),
    "linearcounting": ("event_id", SketchSpec("linearcounting", max_n=5000), "xxhash64",
                       "1af2d37d0c7f3eff", "d3bd6be81a37d015"),
    "loglog": ("event_id", SketchSpec("loglog", k=10), "xxhash64",
               "11d9bcb891e971ef", "ff48b3425b31db79"),
    # 15 distinct user_ids under capacity 64: the exact regime
    "spacesaving-exact": ("user_id", SketchSpec("spacesaving", capacity=64), "xxhash64",
                          "6f0e679e4ec646b6", "5b68ee26eea34bbc"),
    "bottomk": ("event_id", SketchSpec("bottomk", k=64), "xxhash64",
                "d1742de19f762c54", "d581004cde5950e8"),
    "qdigest": ("user_id", SketchSpec("qdigest", compression_factor=16.0), "xxhash64",
                "2295fb918116e1b9", None),
    "countthenestimate": ("event_id", SketchSpec("countthenestimate", tipping_point=100), "xxhash64",
                          "b070b50c33f98260", "f3f64237b5a5a33f"),
    "cms-reference": ("event_type", SketchSpec("cms", depth=5, width=500, seed=7,
                                               hash_family="reference"), "xxhash64",
                      "0d68247fe88b82b2", "ac5f8cc0d9be620e"),
    "bloom-reference": ("event_id", SketchSpec("bloom", n_elements=2000, fpp=0.01,
                                               hash_family="reference"), "xxhash64",
                        "09d4ceca842a4b02", "4073cf177c0d6da5"),
    "lc-reference": ("event_id", SketchSpec("linearcounting", size=1024,
                                            hash_family="reference"), "xxhash64",
                     "9a815b3210e8e37b", "e4a6cba293aaf658"),
}


def _digest(rows, keys: list[str], names: list[str]) -> str:
    """sha256 prefix over the rows in key order: each row's key values,
    then its blobs in ``names`` order."""
    h = hashlib.sha256()
    for r in sorted(rows, key=lambda r: tuple(str(r[k]) for k in keys)):
        for k in keys:
            h.update(str(r[k]).encode())
        for n in names:
            h.update(bytes(r[n]))
    return h.hexdigest()[:16]


@pytest.mark.parametrize("name", list(GOLDEN))
def test_sketch_agg_golden_digest(spark, name):
    col, spec, hash_mode, want_global, want_keyed = GOLDEN[name]
    ev = spark.read.parquet(f"{SF}/events.parquet").repartition(3)
    rows = sketch_agg(ev, [], col, spec, hash_mode=hash_mode).collect()
    assert len(rows) == 1
    assert _digest(rows, [], ["sketch"]) == want_global
    if want_keyed is not None:
        rows = sketch_agg(ev, ["event_type"], col, spec, hash_mode=hash_mode).collect()
        assert len(rows) == 5
        assert _digest(rows, ["event_type"], ["sketch"]) == want_keyed


def test_multi_sketch_agg_golden_digest(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet").repartition(8)
    sketches = {
        "h": ("event_id", SketchSpec("hll", p=12)),
        "c": ("event_id", SketchSpec("cms", eps=1e-2, confidence=0.99)),
        "b": ("event_id", SketchSpec("bloom", n_elements=2000, fpp=0.01)),
        "s": ("user_id", SketchSpec("spacesaving", capacity=64)),
    }
    rows = multi_sketch_agg(ev, sketches, ["event_type"]).collect()
    assert len(rows) == 5
    assert _digest(rows, ["event_type"], list(sketches)) == "fc73e6fb54d6dc10"
