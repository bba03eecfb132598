"""Spark integration: two-level sketch aggregation over the driver's
parquet tables (map partials → tree merge → finalize), including the
north-rule check that repartitioning (different merge groupings) leaves
exact-monoid sketch state byte-identical."""

import math

import pytest
from pyspark.sql import functions as F

from stream_lib_spark.agg import (
    SketchSpec,
    collect_sketch,
    merge_partials,
    sketch_agg,
    sketch_from_bytes,
    sketch_partials,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF}/events.parquet")


def test_hll_global_within_bound(spark, events):
    exact = events.select("user_id").distinct().count()
    sk = collect_sketch(sketch_agg(events, [], "user_id", SketchSpec("hll", p=14)))
    sigma = exact * 1.04 / math.sqrt(1 << 14)
    assert abs(sk.cardinality() - exact) <= max(3 * sigma, 1)


def test_hll_grouped_within_bound(spark, events):
    exact = dict(
        events.groupBy("event_type").agg(F.countDistinct("user_id").alias("d")).collect()
    )
    rows = sketch_agg(events, ["event_type"], "user_id", SketchSpec("hll", p=12)).collect()
    assert {r["event_type"] for r in rows} == set(exact)
    for r in rows:
        est = sketch_from_bytes(bytes(r["sketch"])).cardinality()
        t = exact[r["event_type"]]
        assert abs(est - t) <= max(3 * t * 1.04 / math.sqrt(1 << 12), 2)


def test_partitioning_invariance_byte_identical(spark, events):
    # north rule: merging partition sketches in any grouping yields
    # byte-identical state — vary partition count and layout
    blobs = []
    for parts in (1, 3, 8):
        df = events.repartition(parts)
        merged = sketch_agg(df, [], "user_id", SketchSpec("hll", p=13))
        blobs.append(bytes(merged.collect()[0]["sketch"]))
    assert blobs[0] == blobs[1] == blobs[2]


def test_fan_in_level_same_result(spark, events):
    partials = sketch_partials(events.repartition(96), [], "user_id", SketchSpec("hll", p=13))
    fanned = merge_partials(partials, [], SketchSpec("hll", p=13))
    assert not hasattr(fanned, "_slp_driver_fold")  # 96 partials: a fan-in level
    direct = merge_partials(partials.coalesce(8), [], SketchSpec("hll", p=13))
    assert hasattr(direct, "_slp_driver_fold")  # 8 partials: none
    assert bytes(direct.collect()[0]["sketch"]) == bytes(fanned.collect()[0]["sketch"])


def test_cms_heavy_hitters(spark, events):
    exact = dict(events.groupBy("event_type").count().collect())
    n = sum(exact.values())
    cms = collect_sketch(
        sketch_agg(events, [], "event_type", SketchSpec("cms", eps=1e-3, confidence=0.99))
    )
    assert cms.size == n
    import numpy as np

    keys = list(exact)
    hashed = _spark_xxhash64(spark, keys)
    est = cms.estimate_hashed(np.array([hashed[k] for k in keys], dtype=np.int64))
    for k, e in zip(keys, est):
        assert exact[k] <= e <= exact[k] + 1e-3 * n


def test_tdigest_quantiles_spark(spark, events):
    import numpy as np

    td = collect_sketch(sketch_agg(events, [], "value", SketchSpec("tdigest", compression=100.0)))
    vals = np.sort(np.array([r[0] for r in events.select("value").where(F.col("value").isNotNull()).collect()]))
    for q in (0.01, 0.25, 0.5, 0.75, 0.99):
        est = td.quantile(q)
        rank = np.searchsorted(vals, est, side="right") / len(vals)
        assert abs(rank - q) <= 0.015


def test_kll_quantiles_spark(spark, events):
    import numpy as np

    sk = collect_sketch(sketch_agg(events, [], "value", SketchSpec("kll", k=200)))
    vals = np.sort(np.array([r[0] for r in events.select("value").where(F.col("value").isNotNull()).collect()]))
    assert sk.n == len(vals)
    for q in (0.1, 0.5, 0.9):
        est = sk.quantile(q)
        rank = np.searchsorted(vals, est, side="right") / len(vals)
        assert abs(rank - q) <= 0.015


def test_spacesaving_topk_spark(spark, events):
    rows = events.groupBy("event_type").count().orderBy(F.desc("count"), "event_type").collect()
    true_top = [r["event_type"] for r in rows[:3]]
    ss = collect_sketch(sketch_agg(events, [], "event_type", SketchSpec("spacesaving", capacity=10)))
    got = [t[0] for t in ss.top_k(3)]
    assert got == true_top


def test_bloom_membership_spark(spark):
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    customer = spark.read.parquet(f"{SF}/customer.parquet")
    bf = collect_sketch(
        sketch_agg(orders, [], "o_custkey", SketchSpec("bloom", n_elements=2000, fpp=0.01))
    )
    import numpy as np

    present = np.array(
        [r[0] for r in orders.select("o_custkey").distinct().collect()], dtype=np.int64
    )
    hashed = _xxhash64_int(spark, present)
    assert bf.contains_hashed(hashed).all()  # no false negatives
    absent = np.arange(10_000_000, 10_050_000, dtype=np.int64)
    fp = bf.contains_hashed(_xxhash64_int(spark, absent)).mean()
    assert fp < 0.05


def _spark_xxhash64(spark, str_keys):
    df = spark.createDataFrame([(k,) for k in str_keys], ["k"])
    return dict(df.select("k", F.xxhash64("k").alias("h")).collect())


def _xxhash64_int(spark, vals):
    import numpy as np
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame({"k": vals}))
    out = df.select(F.xxhash64(F.col("k").cast("long")).alias("h")).toPandas()["h"]
    return out.to_numpy().astype(np.int64)


def test_multi_sketch_single_pass(spark, events):
    import math

    from stream_lib_spark.agg import multi_sketch_agg

    out = multi_sketch_agg(
        events,
        {
            "hll_users": ("user_id", SketchSpec("hll", p=12)),
            "cms_types": ("event_type", SketchSpec("cms", eps=1e-3, confidence=0.99)),
            "td_value": ("value", SketchSpec("tdigest", compression=100.0)),
            "ss_types": ("event_type", SketchSpec("spacesaving", capacity=16)),
        },
    ).collect()[0]
    exact_users = events.select("user_id").distinct().count()
    hll = sketch_from_bytes(bytes(out["hll_users"]))
    assert abs(hll.cardinality() - exact_users) <= max(3 * exact_users * 1.04 / math.sqrt(1 << 12), 1)
    cms = sketch_from_bytes(bytes(out["cms_types"]))
    assert cms.size == events.where(F.col("event_type").isNotNull()).count()
    td = sketch_from_bytes(bytes(out["td_value"]))
    assert td.total == events.where(F.col("value").isNotNull()).count()
    ss = sketch_from_bytes(bytes(out["ss_types"]))
    top = [t[0] for t in ss.top_k(1)]
    exact_top = events.groupBy("event_type").count().orderBy(F.desc("count"), "event_type").first()
    assert top[0] == exact_top["event_type"]


def test_multi_sketch_matches_individual(spark, events):
    from stream_lib_spark.agg import multi_sketch_agg

    multi = multi_sketch_agg(events, {"h": ("user_id", SketchSpec("hll", p=13))}).collect()[0]
    single = sketch_agg(events, [], "user_id", SketchSpec("hll", p=13)).collect()[0]
    assert bytes(multi["h"]) == bytes(single["sketch"])


@pytest.mark.parametrize("keys", [[], ["event_type"]], ids=["global", "keyed"])
@pytest.mark.parametrize("spec", [
    SketchSpec("hll", p=13),
    SketchSpec("cms", eps=1e-3, confidence=0.99),
    SketchSpec("bloom", n_elements=2_000, fpp=0.01),
], ids=["hll", "cms", "bloom"])
def test_multi_sketch_kinds_match_individual(spark, events, keys, spec):
    """Alongside a second sketch, and with nulls scattered over both
    columns, each multi_sketch_agg blob equals its one-sketch
    sketch_agg."""
    from stream_lib_spark.agg import multi_sketch_agg

    df = (events.withColumn("user_id", F.when(F.col("event_id") % 7 != 0, F.col("user_id")))
          .withColumn("value", F.when(F.col("event_id") % 5 != 0, F.col("value"))))
    multi = multi_sketch_agg(df, {"s": ("user_id", spec),
                                  "t": ("value", SketchSpec("tdigest", compression=100.0))},
                             keys=keys)
    single = sketch_agg(df, keys, "user_id", spec)
    got = {tuple(r[k] for k in keys): bytes(r["s"]) for r in multi.collect()}
    want = {tuple(r[k] for k in keys): bytes(r["sketch"]) for r in single.collect()}
    assert got == want


@pytest.mark.parametrize("keys", [[], ["k"]], ids=["global", "keyed"])
def test_multi_sketch_skips_malformed_numeric_strings(spark, keys):
    """Under ANSI mode a plain cast of "abc" to double aborts the job;
    multi_sketch_agg must skip it like sketch_agg does."""
    from stream_lib_spark.agg import multi_sketch_agg

    df = spark.createDataFrame(
        [("a", "1.5"), ("a", "abc"), ("b", "2.5"), ("b", None)], "k string, s string")
    spec = SketchSpec("tdigest", compression=100.0)
    multi = multi_sketch_agg(df, {"t": ("s", spec)}, keys=keys).collect()
    single = sketch_agg(df, keys, "s", spec).collect()
    weights = {tuple(r[k] for k in keys): sketch_from_bytes(bytes(r["t"])).total for r in multi}
    assert weights == {tuple(r[k] for k in keys): sketch_from_bytes(bytes(r["sketch"])).total
                       for r in single}
    assert sum(weights.values()) == 2


def test_salted_two_phase_exact_agg(spark):
    # north rule: explicit salted-key repartitioning for skewed exact
    # aggregation — two-phase (key, salt) -> key matches direct groupBy
    from stream_lib_spark.agg import salted_split
    from stream_lib_spark.transcripts import generate_transcripts

    t = generate_transcripts(spark, n_convs=100, partitions=4)  # conv-0 is hot
    salted = salted_split(t, "conv_id", salts=8)
    two_phase = (
        salted.groupBy("conv_id", "__salt")
        .agg(F.count("*").alias("c"))
        .groupBy("conv_id")
        .agg(F.sum("c").alias("n_turns"))
    )
    direct = t.groupBy("conv_id").agg(F.count("*").alias("n_turns"))
    assert two_phase.exceptAll(direct).count() == 0
    assert direct.exceptAll(two_phase).count() == 0


@pytest.mark.parametrize("keys,col,spec,hash_mode", [
    (["g"], "props", SketchSpec("hll", p=12), "murmur64"),
    (["g"], "event_type", SketchSpec("spacesaving", capacity=16), "xxhash64"),
    (["g"], "props", SketchSpec("bottomk", k=8), "xxhash64"),
    (["g", "event_type"], "user_id", SketchSpec("cms", eps=1e-2, confidence=0.9), "xxhash64"),
], ids=["hll-murmur64", "spacesaving-exact", "bottomk", "null-key"])
def test_keyed_blob_equals_global_over_key(spark, events, keys, col, spec, hash_mode):
    """The keyed build is the global build with keys: each key's blob
    from a keyed sketch_agg equals the global blob over that key's rows,
    byte for byte.  Every case has a null-key group (the last one inside
    a two-column key); Space-Saving runs in its exact regime (5 items,
    capacity 16)."""
    import functools
    import operator

    df = events.withColumn(
        "g", F.when(F.col("event_id") % 7 != 0, (F.col("event_id") % 3).cast("string")))
    keyed = {tuple(r[k] for k in keys): bytes(r["sketch"])
             for r in sketch_agg(df, keys, col, spec, hash_mode).collect()}
    assert any(k[0] is None for k in keyed)
    for key, blob in keyed.items():
        sub = df.where(functools.reduce(
            operator.and_, [F.col(k).eqNullSafe(F.lit(v)) for k, v in zip(keys, key)]))
        assert blob == collect_sketch(sketch_agg(sub, [], col, spec, hash_mode)).to_bytes(), key
