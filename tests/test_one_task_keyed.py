"""The one-task keyed shortcut: a keyed ``sketch_agg`` /
``multi_sketch_agg`` whose build runs in exactly one task finalizes in
the build kernel, with no exchange and no fold stage.  Pins that its
bytes equal the distributed fold's (``merge_partials`` over the same
partials, which never shortcuts), that it engages on a one-file input
(classic and direct read), and that an uncertain count keeps the fold:
an exchange below the build, a subquery scan's file-count estimate,
and an input with no partitions."""

import io
import re
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from stream_lib_spark import agg
from stream_lib_spark.agg import (
    SketchSpec,
    _direct_tasks,
    _n_partitions,
    merge_partials,
    multi_sketch_agg,
    sketch_agg,
    sketch_partials,
)

SF = "/root/testdata/sf0.001"

# name -> (column, spec) over the one-file, one-row-group events table
KINDS = {
    "hll": ("event_id", SketchSpec("hll", p=12)),
    "cms": ("event_id", SketchSpec("cms", eps=1e-2, confidence=0.99)),
    "cms-conservative": ("event_id", SketchSpec("cms", eps=1e-2, confidence=0.99, conservative=True)),
    "tdigest": ("value", SketchSpec("tdigest", compression=100.0)),
    "kll": ("value", SketchSpec("kll", k=200)),
    "qdigest": ("user_id", SketchSpec("qdigest", compression_factor=16.0)),
    "bloom": ("event_id", SketchSpec("bloom", n_elements=2000, fpp=0.01)),
    "spacesaving": ("user_id", SketchSpec("spacesaving", capacity=8)),
    "bottomk": ("event_id", SketchSpec("bottomk", k=64)),
    "linearcounting": ("event_id", SketchSpec("linearcounting", max_n=5000)),
    "loglog": ("event_id", SketchSpec("loglog", k=10)),
    "countthenestimate": ("event_id", SketchSpec("countthenestimate", tipping_point=100)),
    "cms-reference": ("event_type", SketchSpec("cms", depth=5, width=500, seed=7,
                                               hash_family="reference")),
    "bloom-reference": ("event_id", SketchSpec("bloom", n_elements=2000, fpp=0.01,
                                               hash_family="reference")),
}


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _nodes(plan: str, name: str) -> int:
    return len(set(re.findall(rf"\((\d+)\) {name}", plan)))


def _rows(df, keys, names):
    """The result as sorted (key values, blobs) tuples."""
    return sorted(([str(r[k]) for k in keys], [bytes(r[n]) for n in names]) for r in df.collect())


def _fold_of(df, keys, col, spec):
    """The distributed keyed fold of the same input's partials."""
    return merge_partials(sketch_partials(df, keys, col, spec), keys, spec)


def _assert_shortcut(out):
    plan = _plan(out)
    assert _nodes(plan, "Exchange") == 0, plan
    assert _nodes(plan, "MapInArrow") == 1, plan


def _assert_fold(out):
    plan = _plan(out)
    assert _nodes(plan, "MapInArrow") == 2, plan  # build + keyed fold


@pytest.fixture
def events(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    assert _n_partitions(ev, exact=True) == 1
    return ev


@pytest.mark.parametrize("name", list(KINDS))
def test_one_task_keyed_bytes_equal_the_fold(events, name):
    col, spec = KINDS[name]
    out = sketch_agg(events, ["event_type"], col, spec)
    _assert_shortcut(out)
    want = _rows(_fold_of(events, ["event_type"], col, spec), ["event_type"], ["sketch"])
    assert len(want) == 5
    assert _rows(out, ["event_type"], ["sketch"]) == want


def test_one_task_null_and_two_keys(events):
    """A null key is its own group; two keys group on both."""
    col, spec = KINDS["tdigest"]
    df = events.withColumn("k1", F.when(F.col("user_id") % 3 == 0, None).otherwise(F.col("event_type"))) \
               .withColumn("k2", (F.col("user_id") % 2).cast("string"))
    for keys in (["k1"], ["k1", "k2"]):
        out = sketch_agg(df, keys, col, spec)
        _assert_shortcut(out)
        want = _rows(_fold_of(df, keys, col, spec), keys, ["sketch"])
        assert any(k[0] == "None" for k, _ in want)
        assert _rows(out, keys, ["sketch"]) == want


def test_one_task_multi_sketch_agg(events):
    names = ["hll", "tdigest", "spacesaving"]
    sketches = {n: KINDS[n] for n in names}
    out = multi_sketch_agg(events, sketches, keys=["event_type"])
    _assert_shortcut(out)
    got = _rows(out, ["event_type"], names)
    for i, n in enumerate(names):
        want = _rows(_fold_of(events, ["event_type"], *KINDS[n]), ["event_type"], ["sketch"])
        assert [(k, [b[i]]) for k, b in got] == want, n


def test_one_task_direct_read(events, monkeypatch):
    """The keyed direct read over one row group is one task: it takes
    the shortcut, with the fold's bytes."""
    monkeypatch.setattr(agg, "_DIRECT_SCAN_MIN_ROWS", 0)
    col, spec = KINDS["hll"]
    direct = _direct_tasks(events, ["event_type"], {"sketch": (col, spec)}, "xxhash64")
    assert direct is not None and len(direct[0]) == 1
    out = sketch_agg(events, ["event_type"], col, spec)
    _assert_shortcut(out)
    assert "ReadSchema" not in _plan(out)  # the direct read, not the JVM scan
    assert _rows(out, ["event_type"], ["sketch"]) == \
        _rows(_fold_of(events, ["event_type"], col, spec), ["event_type"], ["sketch"])


def test_merge_partials_never_shortcuts(events):
    """Partials of unknown origin may hold several rows per key in one
    partition: ``merge_partials`` keeps its fold even over one."""
    col, spec = KINDS["hll"]
    parts = sketch_partials(events, ["event_type"], col, spec)
    two = parts.union(parts).coalesce(1)  # two rows per key in one partition
    assert _n_partitions(two, exact=True) == 1
    merged = merge_partials(two, ["event_type"], spec)
    assert _nodes(_plan(merged), "Exchange") == 1
    assert len(merged.collect()) == 5  # one row per key


def test_uncertain_counts_keep_the_fold(spark, events, tmp_path):
    """Each input below is one partition or reads as one, but its count
    is not certain, so the keyed fold stays, with the same bytes:

    * ``repartition(1)``: an exchange below the build (AQE may coalesce
      or split a shuffle's partitions);
    * a scalar-subquery partition filter on a one-file partitioned
      table: the count is the scan's file-count estimate;
    * an input with no partitions: zero rows, as ever (so is
      ``createDataFrame([], schema)``, one partition per core here)."""
    col, spec = KINDS["tdigest"]
    want = _rows(_fold_of(events, ["event_type"], col, spec), ["event_type"], ["sketch"])
    shuffled = events.repartition(1)
    assert _n_partitions(shuffled) == 1 and _n_partitions(shuffled, exact=True) == 0
    out = sketch_agg(shuffled, ["event_type"], col, spec)
    _assert_fold(out)
    assert _rows(out, ["event_type"], ["sketch"]) == want

    path = str(tmp_path / "part")
    events.withColumn("p", F.lit("a")).coalesce(1).write.partitionBy("p").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("one_task_part")
    events.withColumn("p", F.lit("a")).createOrReplaceTempView("one_task_dim")
    scalar = spark.sql("SELECT * FROM one_task_part WHERE p = (SELECT max(p) FROM one_task_dim)")
    assert _n_partitions(scalar) == 1 and _n_partitions(scalar, exact=True) == 0  # an estimate
    out = sketch_agg(scalar, ["event_type"], col, spec)
    _assert_fold(out)
    assert _rows(out, ["event_type"], ["sketch"]) == want

    none = spark.createDataFrame(spark.sparkContext.emptyRDD(), events.schema)
    assert _n_partitions(none, exact=True) == 0
    for empty in (none, spark.createDataFrame([], events.schema)):
        assert _n_partitions(empty, exact=True) == empty.rdd.getNumPartitions() != 1
        out = sketch_agg(empty, ["event_type"], col, spec)
        _assert_fold(out)
        assert out.collect() == []
