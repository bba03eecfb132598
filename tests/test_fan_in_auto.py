"""Auto fan-in: global sketch merges over many partitions must get an
intermediate merge level (no single reducer fed by hundreds of blobs),
and the result must stay byte-identical for exact monoids."""

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from stream_lib_spark.agg import (
    SketchSpec,
    _auto_fan_in,
    merge_partials,
    multi_sketch_agg,
    sketch_agg,
    sketch_partials,
)

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_auto_fan_in_sizing():
    assert _auto_fan_in(8) is None
    assert _auto_fan_in(64) is None
    assert _auto_fan_in(65) == 9
    assert _auto_fan_in(10_000) == 100
    assert _auto_fan_in(1_000_000) == 1000


def test_global_merge_gets_fan_in_level_above_threshold(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    wide = sketch_agg(ev.repartition(96), [], "user_id", SketchSpec("hll", p=12))
    narrow = sketch_agg(ev.repartition(8), [], "user_id", SketchSpec("hll", p=12))
    # the fan-in level shows up as a grouped applyInPandas stage
    assert "FlatMapGroupsInPandas" in _plan(wide)
    assert "FlatMapGroupsInPandas" not in _plan(narrow)
    # exact monoid ⇒ byte-identical result regardless of merge topology
    assert bytes(wide.collect()[0]["sketch"]) == bytes(narrow.collect()[0]["sketch"])


def test_multi_sketch_fan_in_byte_identical(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    sketches = {
        "h": ("user_id", SketchSpec("hll", p=12)),
        "c": ("event_type", SketchSpec("cms", eps=1e-3, confidence=0.99)),
    }
    wide = multi_sketch_agg(ev.repartition(96), sketches)
    narrow = multi_sketch_agg(ev.repartition(4), sketches)
    assert "FlatMapGroupsInPandas" in _plan(wide)
    w, n = wide.collect()[0], narrow.collect()[0]
    assert bytes(w["h"]) == bytes(n["h"]) and bytes(w["c"]) == bytes(n["c"])


def test_explicit_fan_in_still_respected(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    partials = sketch_partials(ev.repartition(8), [], "user_id", SketchSpec("hll", p=12))
    forced = merge_partials(partials, [], SketchSpec("hll", p=12), fan_in=3)
    off = merge_partials(partials, [], SketchSpec("hll", p=12), fan_in=None)
    assert "FlatMapGroupsInPandas" in _plan(forced)
    assert "FlatMapGroupsInPandas" not in _plan(off)
    assert bytes(forced.collect()[0]["sketch"]) == bytes(off.collect()[0]["sketch"])


@pytest.mark.parametrize("kind,spec", [
    ("kll", SketchSpec("kll", k=200)),
    ("tdigest", SketchSpec("tdigest", compression=100.0)),
])
def test_quantile_sketch_fan_in_topology(spark, kind, spec):
    """KLL state is byte-identical across merge topologies of the SAME
    partials (canonical concat merge + single finalize compaction);
    t-digest keeps its weaker split contract — totals must agree."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_extendedprice")
    partials = sketch_partials(li.repartition(8), [], "l_extendedprice", spec)
    partials = partials.localCheckpoint()  # FIX the partials across both folds
    forced = bytes(merge_partials(partials, [], spec, fan_in=3).collect()[0]["sketch"])
    off = bytes(merge_partials(partials, [], spec, fan_in=None).collect()[0]["sketch"])
    from stream_lib_spark.agg import sketch_from_bytes

    if kind == "kll":
        assert forced == off
        assert sketch_from_bytes(forced).n == li.count()
    else:
        assert sketch_from_bytes(forced).total == sketch_from_bytes(off).total == li.count()


def test_global_sketch_agg_plan_shape(spark):
    """Regression pin for the global-aggregate plan: pruned scan →
    partition-local MapInArrow partials → ONE exchange carrying only
    sketch blobs → single MapInPandas fold.  A second exchange or an
    unpruned scan is a scale regression."""
    import os
    import re

    from stream_lib_spark.agg import SketchSpec, sketch_agg

    df = spark.read.parquet(f"{SF}/lineitem.parquet")
    # r8: a bare parquet scan takes the direct row-group read path by
    # default (no parquet Scan node — tasks read the column chunks
    # themselves); the classic pin below runs with the kill switch off,
    # the direct shape is pinned after it.
    os.environ["SPARK_GRAFT_DIRECT_SCAN"] = "0"
    try:
        out = sketch_agg(df, [], "l_orderkey", SketchSpec("hll", p=12))
    finally:
        os.environ.pop("SPARK_GRAFT_DIRECT_SCAN", None)
    plan = _plan(out)
    # one Exchange NODE (it prints once in the tree and once in detail)
    node_ids = {m for m in re.findall(r"\((\d+)\) Exchange", plan)}
    assert len(node_ids) == 1
    assert "ReadSchema: struct<l_orderkey:bigint>" in plan  # pruned scan
    # partials (MapInArrow) below the exchange, fold (MapInPandas) above
    # it in the formatted tree (root prints first)
    tree = plan[: plan.index("(1) Scan")]
    assert tree.index("MapInPandas") < tree.index("Exchange") < tree.index("MapInArrow")

    # direct path (default above the row threshold; the fixture is tiny,
    # so lower it): the sketch feed has NO parquet Scan and no exchange
    # below the partials — the only exchange is the blob fold's
    os.environ["SPARK_GRAFT_DIRECT_SCAN_MIN_ROWS"] = "0"
    try:
        direct = sketch_agg(df, [], "l_orderkey", SketchSpec("hll", p=12))
    finally:
        os.environ.pop("SPARK_GRAFT_DIRECT_SCAN_MIN_ROWS", None)
    dplan = _plan(direct)
    assert "ReadSchema" not in dplan  # no JVM parquet feed of data rows
    node_ids = {m for m in re.findall(r"\((\d+)\) Exchange", dplan)}
    assert len(node_ids) == 1  # still exactly one blob exchange
    assert "MapInArrow" in dplan and "Range" in dplan  # pure-JVM task feed


def test_keyed_sketch_agg_plan_shape(spark):
    """Regression pin for the keyed plan: pruned scan → the one
    MapInArrow build kernel → ONE exchange (the key repartition)
    carrying only sketch blobs → the MapInPandas fold.  A pandas build
    below the exchange, a second exchange or an unpruned scan is a
    regression."""
    import os
    import re

    from stream_lib_spark.agg import SketchSpec, sketch_agg

    df = spark.read.parquet(f"{SF}/lineitem.parquet")
    os.environ["SPARK_GRAFT_DIRECT_SCAN"] = "0"
    try:
        out = sketch_agg(df, ["l_returnflag"], "l_orderkey", SketchSpec("hll", p=12))
    finally:
        os.environ.pop("SPARK_GRAFT_DIRECT_SCAN", None)
    plan = _plan(out)
    node_ids = {m for m in re.findall(r"\((\d+)\) Exchange", plan)}
    assert len(node_ids) == 1
    assert "ReadSchema: struct<l_orderkey:bigint,l_returnflag:string>" in plan  # pruned scan
    tree = plan[: plan.index("(1) Scan")]
    assert tree.count("MapInPandas") == tree.count("MapInArrow") == 1
    assert tree.index("MapInPandas") < tree.index("Exchange") < tree.index("MapInArrow")
