"""Auto fan-in: global sketch merges over many partitions must get an
intermediate merge level (no single reducer fed by hundreds of blobs),
and the result must stay byte-identical for exact monoids."""

import io
import re
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from stream_lib_spark import agg
from stream_lib_spark.agg import (
    STATE_COL,
    SketchSpec,
    _auto_fan_in,
    _merge,
    _n_partitions,
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


def _map_in_arrow(plan: str) -> int:
    """Number of MapInArrow nodes in a formatted plan; every merge level
    is one, so no pandas operator (MapInPandas, FlatMapGroupsInPandas)
    may be left in it."""
    assert "InPandas" not in plan
    return len(set(re.findall(r"\((\d+)\) MapInArrow", plan)))


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
    # the fan-in level shows up as a third MapInArrow node (build,
    # fan-in level, final fold)
    assert _map_in_arrow(_plan(wide)) == 3
    assert _map_in_arrow(_plan(narrow)) == 2
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
    assert _map_in_arrow(_plan(wide)) == 3
    w, n = wide.collect()[0], narrow.collect()[0]
    assert bytes(w["h"]) == bytes(n["h"]) and bytes(w["c"]) == bytes(n["c"])


def test_keyed_merge_has_no_fan_in_level(spark):
    """A keyed merge is one fold over the key repartition, however many
    partials feed it: no fan-in level, even at an exact count of 96
    (where a global merge of the same partials gets one)."""
    ev = spark.read.parquet(f"{SF}/events.parquet")
    spec = SketchSpec("hll", p=12)
    partials = sketch_partials(ev.repartition(96), ["event_type"], "event_id", spec)
    assert _n_partitions(partials) == 96
    assert _map_in_arrow(_plan(merge_partials(partials, ["event_type"], spec))) == 2
    assert _map_in_arrow(_plan(_merge(partials, [], {STATE_COL: spec}))) == 3


@pytest.mark.parametrize("n_partials", [None, 96])
def test_empty_input_distributed(spark, n_partials):
    """Executed distributed (``.collect()``, never the driver fold): a
    global aggregate over no rows is exactly one row holding the empty
    sketch, a keyed one is zero rows — for tasks that see no rows and
    for an input with no partitions at all, with (96 partials) and
    without the fan-in level. The level is forced through a 96-partition
    input, so only that case repartitions the partitionless input."""
    spec = SketchSpec("hll", p=12)
    ev = spark.read.parquet(f"{SF}/events.parquet")
    none = spark.createDataFrame(spark.sparkContext.emptyRDD(), ev.schema)
    assert _n_partitions(none) == 0  # no partitions at all
    for empty in (ev.repartition(n_partials or 4).where(F.col("user_id") < 0),
                  none.repartition(n_partials) if n_partials else none):
        merged = merge_partials(sketch_partials(empty, [], "user_id", spec), [], spec)
        assert _map_in_arrow(_plan(merged)) == (3 if n_partials else 2)
        rows = merged.collect()
        assert len(rows) == 1
        assert bytes(rows[0]["sketch"]) == spec.new().to_bytes()
        assert sketch_agg(empty, ["event_type"], "user_id", spec).collect() == []


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
    forced = merge_partials(partials.repartition(96), [], spec)
    assert _map_in_arrow(_plan(forced)) == 2  # fan-in level + fold; the build is checkpointed
    forced = bytes(forced.collect()[0]["sketch"])
    off = bytes(merge_partials(partials, [], spec).collect()[0]["sketch"])
    from stream_lib_spark.agg import sketch_from_bytes

    if kind == "kll":
        assert forced == off
        assert sketch_from_bytes(forced).n == li.count()
    else:
        assert sketch_from_bytes(forced).total == sketch_from_bytes(off).total == li.count()


def test_global_sketch_agg_plan_shape(spark, monkeypatch):
    """Regression pin for the global-aggregate plan: pruned scan →
    partition-local MapInArrow partials → ONE exchange carrying only
    sketch blobs → single MapInArrow fold.  A second exchange or an
    unpruned scan is a scale regression."""
    import os

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
    # partials (MapInArrow) below the exchange, fold (MapInArrow) above
    # it in the formatted tree (root prints first)
    tree = plan[: plan.index("(1) Scan")]
    assert _map_in_arrow(plan) == tree.count("MapInArrow") == 2
    assert tree.index("MapInArrow") < tree.index("Exchange") < tree.rindex("MapInArrow")

    # direct path (default above the row threshold; the fixture is tiny,
    # so lower it): the sketch feed has NO parquet Scan and no exchange
    # below the partials — the only exchange is the blob fold's
    monkeypatch.setattr(agg, "_DIRECT_SCAN_MIN_ROWS", 0)
    direct = sketch_agg(df, [], "l_orderkey", SketchSpec("hll", p=12))
    dplan = _plan(direct)
    assert "ReadSchema" not in dplan  # no JVM parquet feed of data rows
    node_ids = {m for m in re.findall(r"\((\d+)\) Exchange", dplan)}
    assert len(node_ids) == 1  # still exactly one blob exchange
    assert "MapInArrow" in dplan and "Range" in dplan  # pure-JVM task feed


def test_keyed_sketch_agg_plan_shape(spark, tmp_path):
    """Regression pin for the keyed plan over a multi-file input:
    pruned scan → the one MapInArrow build kernel → ONE exchange (the
    key repartition) carrying only sketch blobs → the MapInArrow fold.
    A pandas build or fold, a second exchange or an unpruned scan is a
    regression."""
    import os

    from stream_lib_spark.agg import SketchSpec, sketch_agg

    path = str(tmp_path / "lineitem3")
    spark.read.parquet(f"{SF}/lineitem.parquet").repartition(3).write.parquet(path)
    df = spark.read.parquet(path)
    assert _n_partitions(df) > 1
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
    assert _map_in_arrow(plan) == tree.count("MapInArrow") == 2
    assert tree.index("MapInArrow") < tree.index("Exchange") < tree.rindex("MapInArrow")


def test_one_file_keyed_sketch_agg_plan_shape(spark):
    """A keyed aggregate over a one-file input builds in one task, so
    its kernel finalizes: pruned scan → the one MapInArrow, and no
    exchange or fold above it."""
    import os

    from stream_lib_spark.agg import SketchSpec, sketch_agg

    df = spark.read.parquet(f"{SF}/lineitem.parquet")
    os.environ["SPARK_GRAFT_DIRECT_SCAN"] = "0"
    try:
        out = sketch_agg(df, ["l_returnflag"], "l_orderkey", SketchSpec("hll", p=12))
    finally:
        os.environ.pop("SPARK_GRAFT_DIRECT_SCAN", None)
    plan = _plan(out)
    assert not re.findall(r"\((\d+)\) Exchange", plan), plan
    assert "ReadSchema: struct<l_orderkey:bigint,l_returnflag:string>" in plan  # pruned scan
    assert _map_in_arrow(plan) == 1
