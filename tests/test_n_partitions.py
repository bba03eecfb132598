"""``agg._n_partitions``: the partial count a global merge sizes its
fan-in level from, read off the physical plan.  It must start no Spark
job, equal the executed partition count on narrow plans, and equal an
exchange's pre-AQE partition count (the shuffle-partitions setting)
wherever a shuffle lies upstream."""

import contextlib
import io
import re
from contextlib import redirect_stdout

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from stream_lib_spark.agg import SketchSpec, _n_partitions, sketch_agg

SHUFFLE = 7  # the wide shapes' exchange count: distinct from every narrow count here


@contextlib.contextmanager
def _conf(spark, **kv):
    """Set SQL confs for the block and restore them in a finally."""
    prior = {k: spark.conf.get(k, None) for k in kv}
    for k, v in kv.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _count(spark, df) -> int:
    """``_n_partitions(df)``, asserting that it started no Spark job."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    n = _n_partitions(df)
    assert set(tracker.getJobIdsForGroup(None)) == before, "the count started a Spark job"
    return n


@pytest.fixture
def two_files(spark, tmp_path):
    """A 2-file parquet table read as 2 scan partitions (each file costs
    a whole split, so the two small files are not packed into one)."""
    for f, lo in (("a.parquet", 0), ("b.parquet", 100)):
        pq.write_table(pa.table({"k": pa.array(range(lo, lo + 100), type=pa.int64()),
                                 "g": pa.array([f"g{i % 3}" for i in range(100)])}),
                       str(tmp_path / f))
    with _conf(spark, **{"spark.sql.files.openCostInBytes": str(128 << 20)}):
        yield spark.read.parquet(str(tmp_path))


def test_narrow_shapes_equal_executed_count(spark, sf_dir, two_files):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cached = two_files.where(F.col("k") > 10).cache()
    shapes = {
        "2-file scan": (two_files, 2),
        "filter+project": (two_files.where(F.col("k") > 10).select((F.col("k") + 1).alias("j")), 2),
        "union of two scans": (two_files.union(two_files), 4),
        "broadcast join": (two_files.join(F.broadcast(ev.select(F.col("event_id").alias("k"))), "k"), 2),
        "cached frame": (cached, 2),
        "local relation": (spark.sql("SELECT * FROM VALUES (1), (2), (3) AS t(a)"), None),
        "empty local relation": (spark.sql("SELECT * FROM VALUES (1) AS t(a) WHERE a > 5"), 0),
        "range(0, 70, 1, 70)": (spark.range(0, 70, 1, 70), 70),
        "coalesce(3)": (ev.repartition(96).coalesce(3), 3),
    }
    try:
        for name, (df, want) in shapes.items():
            n = _count(spark, df)
            assert n == df.rdd.getNumPartitions(), name
            assert want is None or n == want, name
        cached.count()  # materialized, the cache reads the same count
        assert _count(spark, cached) == cached.rdd.getNumPartitions() == 2
    finally:
        cached.unpersist()


def test_wide_shapes_count_the_pre_aqe_exchange(spark, two_files):
    with _conf(spark, **{"spark.sql.shuffle.partitions": str(SHUFFLE)}):
        agg = two_files.groupBy("g").count()
        cached_agg = two_files.groupBy("g").agg(F.max("k").alias("m")).cache()  # never materialized
        shapes = {
            "repartition(96)": (two_files.repartition(96), 96),
            "repartition(96, col)": (two_files.repartition(96, "k"), 96),
            "upstream groupBy": (agg, SHUFFLE),
            "orderBy": (two_files.orderBy("k"), SHUFFLE),
            "union of two aggregates": (agg.union(two_files.groupBy("g").count()), SHUFFLE),
            "unmaterialized cached aggregate": (cached_agg, SHUFFLE),
        }
        try:
            for name, (df, want) in shapes.items():
                assert _count(spark, df) == want, name
        finally:
            cached_agg.unpersist()


def test_subquery_filtered_scan_counts_its_files(spark, sf_dir, tmp_path):
    """A file scan whose partition filter holds a subquery cannot build
    its RDD without running it: a dynamic-pruning subquery raises, a
    scalar subquery runs as Spark jobs.  The count reads the scan's
    files instead (an estimate), without an error and without a job."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.write.partitionBy("event_type").parquet(str(tmp_path / "part"))
    part = spark.read.parquet(str(tmp_path / "part"))
    dim = ev.where(F.col("user_id") < 10).select("event_type").distinct()
    joined = part.join(dim, "event_type")
    buf = io.StringIO()
    with redirect_stdout(buf):
        joined.explain()
    assert "dynamicpruning" in buf.getvalue()  # the pruned scan is really there
    assert _count(spark, joined) == len(part.inputFiles())
    part.createOrReplaceTempView("n_partitions_part")
    ev.createOrReplaceTempView("n_partitions_ev")
    scalar = spark.sql("SELECT * FROM n_partitions_part WHERE event_type = "
                       "(SELECT max(event_type) FROM n_partitions_ev)")
    assert _count(spark, scalar) == len(part.inputFiles())


def test_default_session_global_agg_has_no_fan_in_level(spark, sf_dir):
    """At Spark's default of 200 shuffle partitions a global aggregate
    over a 1-file table has 1 partial: two MapInArrow nodes (build,
    fold) and the driver fold, not a fan-in level."""
    with _conf(spark, **{"spark.sql.shuffle.partitions": "200"}):
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        out = sketch_agg(ev, [], "user_id", SketchSpec("hll", p=12))
        buf = io.StringIO()
        with redirect_stdout(buf):
            out.explain("formatted")
        assert len(set(re.findall(r"\((\d+)\) MapInArrow", buf.getvalue()))) == 2
        assert hasattr(out, "_slp_driver_fold")


def test_ensure_parallelism_counts_without_a_job(spark):
    """The text kernels' input count is ``_n_partitions``: over a shuffled
    input it reads the exchange's count off the plan, where
    ``df.rdd.getNumPartitions()`` under AQE runs the upstream shuffle
    stage (one job) just to count."""
    from stream_lib_spark.textops import _ensure_parallelism

    docs = spark.createDataFrame([(i, f"doc {i % 13}") for i in range(60)],
                                 "doc_id long, text string").repartition(5, "text")
    tracker = spark.sparkContext.statusTracker()
    with _conf(spark, **{"spark.sql.adaptive.enabled": "true"}):
        before = set(tracker.getJobIdsForGroup(None))
        out = _ensure_parallelism(docs)
        assert set(tracker.getJobIdsForGroup(None)) == before, "the count started a Spark job"
    want_same = 5 >= spark.sparkContext.defaultParallelism
    assert (out is docs) == want_same
