"""Kill-and-resume: a checkpointed sketch job interrupted at any point
resumes to a byte-identical final state (north rule; BASELINE.md
'Resumability')."""

import shutil

import pytest
from pyspark.sql import functions as F

from stream_lib_spark.agg import SketchSpec
from stream_lib_spark.jobs.checkpoint import CheckpointedSketchJob


@pytest.fixture()
def ckpt_dir(tmp_path):
    d = str(tmp_path / "ckpt")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _job(spark, ckpt_dir, snap, keys=None):
    return CheckpointedSketchJob(
        spark=spark,
        spec=SketchSpec("hll", p=12),
        col="user_id",
        keys=keys or [],
        n_buckets=16,
        checkpoint_dir=ckpt_dir,
        snapshot_id=snap,
        bucket_cols=["event_id"],
    )


def test_resume_byte_identical(spark, ckpt_dir, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")

    # uninterrupted run
    full = _job(spark, ckpt_dir, "full").run(ev)
    blob_full = bytes(full.collect()[0]["sketch"])

    # killed run: only 5 buckets complete, then resume twice
    job = _job(spark, ckpt_dir, "killed")
    assert job.build_partials(ev, max_buckets=5) == 5
    assert len(job._done_buckets()) == 5
    assert job.build_partials(ev, max_buckets=7) == 7
    out = job.run(ev)  # finishes the remaining 4 + merges
    blob_resumed = bytes(out.collect()[0]["sketch"])

    assert blob_resumed == blob_full
    # re-invoking a finished job recomputes nothing and is stable
    assert job.build_partials(ev) == 0
    assert bytes(job.final_merge().collect()[0]["sketch"]) == blob_full


def test_metrics_lineage_rows(spark, ckpt_dir, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    job = _job(spark, ckpt_dir, "metrics")
    job.run(ev)
    m = job.metrics().toPandas()
    assert len(m) == 16  # one lineage row per bucket
    assert m["rows_seen"].sum() == ev.count()
    assert m["state_sha256"].str.len().eq(64).all()


def test_keyed_checkpoint_resume(spark, ckpt_dir, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    full = _job(spark, ckpt_dir, "kfull", keys=["event_type"]).run(ev)
    ref = {r["event_type"]: bytes(r["sketch"]) for r in full.collect()}

    job = _job(spark, ckpt_dir, "kkill", keys=["event_type"])
    job.build_partials(ev, max_buckets=9)
    out = job.run(ev)
    got = {r["event_type"]: bytes(r["sketch"]) for r in out.collect()}
    assert got == ref


def test_snapshot_isolation_and_resume(spark, ckpt_dir, sf_dir, tmp_path):
    """Snapshot-pinned read + checkpointed job: files added after the
    snapshot are invisible; resuming on the same snapshot reproduces the
    uninterrupted state byte-for-byte even though the table grew."""
    import shutil

    from stream_lib_spark.jobs.snapshots import list_snapshots, read_snapshot, snapshot

    table = str(tmp_path / "table")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.where(F.col("event_id") % 2 == 0).repartition(2).write.mode("append").parquet(table)
    snap = snapshot(table)

    # uninterrupted run over the snapshot
    job_full = _job(spark, ckpt_dir, snap + "-full")
    blob_full = bytes(job_full.run(read_snapshot(spark, table, snap)).collect()[0]["sketch"])

    # interrupted run; table grows between the kill and the resume
    job = _job(spark, ckpt_dir, snap)
    job.build_partials(read_snapshot(spark, table, snap), max_buckets=6)
    ev.where(F.col("event_id") % 2 == 1).write.mode("append").parquet(table)
    out = job.run(read_snapshot(spark, table, snap))  # still pinned to snap
    assert bytes(out.collect()[0]["sketch"]) == blob_full

    # a new snapshot sees the grown table
    snap2 = snapshot(table)
    assert snap2 != snap
    assert read_snapshot(spark, table, snap2).count() == ev.count()
    assert set(list_snapshots(table)) == {snap, snap2}


def test_qdigest_checkpoint_resume_byte_identical(spark, tmp_path):
    # ivalue-mode sketch through the lineage-bucket checkpoint path:
    # killed-and-resumed run == uninterrupted run, byte for byte
    from pyspark.sql import functions as F

    from stream_lib_spark.agg import SketchSpec
    from stream_lib_spark.jobs.checkpoint import CheckpointedSketchJob

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    cents = li.select((F.col("l_extendedprice") * 100).cast("long").alias("cents"))

    def job(snap):
        return CheckpointedSketchJob(
            spark=spark, spec=SketchSpec("qdigest", compression_factor=512),
            col="cents", n_buckets=8, checkpoint_dir=str(tmp_path),
            snapshot_id=snap, bucket_cols=["cents"],
        )

    a = job("qd-interrupted")
    a.build_partials(cents, max_buckets=3)  # "killed" partway
    a.build_partials(cents)                 # resume
    interrupted = bytes(a.final_merge().collect()[0]["sketch"])
    b = job("qd-clean")
    clean = bytes(b.run(cents).collect()[0]["sketch"])
    assert interrupted == clean


# the one-sketch job, and a two-sketch job whose hll column keeps the
# one-sketch name: the marker rows carry one empty blob per sketch
HLL_ONLY = {"spec": SketchSpec("hll", p=10), "col": "user_id"}
HLL_AND_CMS = {"sketches": {"sketch": ("user_id", SketchSpec("hll", p=10)),
                            "cms": ("event_id", SketchSpec("cms", depth=4, width=64))}}


@pytest.mark.parametrize("sketches", [HLL_ONLY, HLL_AND_CMS], ids=["one", "two"])
def test_empty_buckets_marked_done_and_resume_converges(spark, tmp_path, sketches):
    """A table with fewer rows than buckets: every bucket (including the
    empty ones) is marked done after one pass, so the next invocation
    has NO work — the resume done-set converges instead of re-scanning
    empty buckets forever."""
    from stream_lib_spark.agg import SketchSpec
    from stream_lib_spark.jobs.checkpoint import CheckpointedSketchJob

    df = spark.range(0, 20).selectExpr("id AS event_id", "id % 7 AS user_id")
    job = CheckpointedSketchJob(
        spark=spark, **sketches,
        n_buckets=64, checkpoint_dir=str(tmp_path / "ckpt"),
        snapshot_id="snap-sparse", bucket_cols=["event_id"])
    assert job.build_partials(df) == 64
    assert job.build_partials(df) == 0  # done-set converged
    out = job.final_merge().collect()[0]
    from stream_lib_spark.agg import sketch_from_bytes

    assert round(sketch_from_bytes(bytes(out["sketch"])).cardinality()) == 7
    assert out["rows_seen"] == 20


@pytest.mark.parametrize("sketches", [HLL_ONLY, HLL_AND_CMS], ids=["one", "two"])
def test_keyed_markers_do_not_leak_null_key_rows(spark, tmp_path, sketches):
    """Keyed job over a sparse table: empty-bucket lineage markers must
    not surface as a null-key output group."""
    from stream_lib_spark.agg import SketchSpec, sketch_from_bytes
    from stream_lib_spark.jobs.checkpoint import CheckpointedSketchJob

    df = spark.range(0, 30).selectExpr(
        "id AS event_id", "id % 5 AS user_id",
        "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS grp")
    job = CheckpointedSketchJob(
        spark=spark, **sketches,
        keys=["grp"], n_buckets=32, checkpoint_dir=str(tmp_path / "ckpt"),
        snapshot_id="snap-keyed-sparse", bucket_cols=["event_id"])
    rows = {r["grp"]: r for r in job.run(df).collect()}
    assert set(rows) == {"a", "b"}  # no None group from markers
    assert job.build_partials(df) == 0


def test_kll_checkpoint_byte_deterministic(spark, tmp_path):
    """KLL through the checkpoint path: two independent runs over the
    same data land on byte-identical final state (finalize compression
    canonicalizes level 0 — the north-rule contract for quantile
    sketches)."""
    from stream_lib_spark.agg import SketchSpec, sketch_from_bytes
    from stream_lib_spark.jobs.checkpoint import CheckpointedSketchJob

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")

    def run(snap):
        job = CheckpointedSketchJob(
            spark=spark, spec=SketchSpec("kll", k=128), col="value",
            n_buckets=16, checkpoint_dir=str(tmp_path / "ckpt"),
            snapshot_id=snap, bucket_cols=["event_id"])
        return bytes(job.run(ev.where(ev.value.isNotNull())).collect()[0]["sketch"])

    b1, b2 = run("kll-a"), run("kll-b")
    assert b1 == b2
    sk = sketch_from_bytes(b1)
    assert 0 < sk.quantile(0.5) or sk.quantile(0.5) <= 0  # parses + answers


def test_empty_input_yields_empty_sketch_row(spark, tmp_path):
    """run() over an empty table returns one row with the monoid
    identity, not a crash (the keyed variant returns zero key rows)."""
    from stream_lib_spark.agg import SketchSpec, sketch_from_bytes
    from stream_lib_spark.jobs.checkpoint import CheckpointedSketchJob

    empty = spark.range(0).selectExpr("id AS event_id", "id AS user_id")
    job = CheckpointedSketchJob(
        spark=spark, spec=SketchSpec("hll", p=10), col="user_id",
        n_buckets=8, checkpoint_dir=str(tmp_path / "ckpt"),
        snapshot_id="snap-empty", bucket_cols=["event_id"])
    out = job.run(empty).collect()
    assert len(out) == 1
    assert sketch_from_bytes(bytes(out[0]["sketch"])).cardinality() == 0
    assert out[0]["rows_seen"] == 0
