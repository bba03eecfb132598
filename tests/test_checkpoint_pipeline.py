"""The checkpoint job runs on the library's one pipeline: phase A is the
partition-local build plus one blob fold per (bucket, keys), phase B is
one blob fold in bucket order.  Pins its answers (hll/cms/bloom bytes
and lineage rows recorded before the rebuild), t-digest kill/resume
identity over a multi-partition input, the phase-A plan shape, and the
N-sketch job: one scan, resume identity, one-sketch bytes, the CLI's
one job."""

import hashlib
import json

import pytest
from conftest import SF_DIR, SF_DIR_CORRECTNESS as SF

from stream_lib_spark.agg import SketchSpec
from stream_lib_spark.jobs.checkpoint import CheckpointedSketchJob

SPECS = {
    "hll": SketchSpec("hll", p=12),
    "cms": SketchSpec("cms", depth=4, width=256),
    "bloom": SketchSpec("bloom", n_elements=10000, fpp=0.01),
}

# sha256 of the canonical (final rows, lineage rows) of each job over
# sf0.01 events repartitioned 6 ways, 16 buckets by event_id; recorded
# with the applyInArrow bucket build the pipeline rebuild replaced
PARITY = {
    ("hll", ()):
        "e4fa933d4af76909dfc2341b297496042b8a1608dfcdc42808bfed501bec1414",
    ("hll", ("event_type",)):
        "fcae3ab233df6781a107d7fed3b6f4e32fb2cf9816cfb2bb5c1cb780f43e20b4",
    ("cms", ()):
        "47637786c93fc2bdfcf552d9c9428fa578777fbf23a096b875b92fc1717743d6",
    ("cms", ("event_type",)):
        "7f02505b9930a634700e21886cd128b48aa1916331295ac92351d76288f230be",
    ("bloom", ()):
        "fb5884b76dc69e4adfae51d2d1624c66fbb534771b41d73546e926e134c18ea3",
    ("bloom", ("event_type",)):
        "4c0b1e8c45558a12617d339063f95ac16bb70cf5a969bf87e72d8ff36644ffd8",
}


def _job(spark, tmp_path, spec, col, keys, snap, n_buckets=16):
    return CheckpointedSketchJob(
        spark=spark, spec=spec, col=col, keys=list(keys), n_buckets=n_buckets,
        checkpoint_dir=str(tmp_path / "ckpt"), snapshot_id=snap, bucket_cols=["event_id"])


def _canonical(job, final):
    """(final rows, lineage rows) as sorted plain tuples: blobs by sha256,
    one per sketch in the job's order."""
    keys = job.keys
    out = sorted(
        [[r[k] for k in keys], *[hashlib.sha256(bytes(r[n])).hexdigest() for n in job.sketches],
         r["rows_seen"]]
        for r in final.collect())
    lineage = sorted(
        [r["bucket"], [r[k] for k in keys], r["rows_seen"], r["state_sha256"]]
        for r in job.metrics().collect())
    return out, lineage


def _digest(job, final):
    return hashlib.sha256(json.dumps(_canonical(job, final), default=str).encode()).hexdigest()


@pytest.mark.parametrize("kind,keys", sorted(PARITY))
def test_checkpoint_parity(spark, tmp_path, kind, keys):
    ev = spark.read.parquet(f"{SF}/events.parquet").repartition(6)
    job = _job(spark, tmp_path, SPECS[kind], "user_id", keys, f"parity-{kind}")
    assert _digest(job, job.run(ev)) == PARITY[(kind, keys)]


@pytest.mark.parametrize("keys", [(), ("event_type",)])
def test_tdigest_resume_matches_uninterrupted(spark, tmp_path, keys):
    """A t-digest job killed after some buckets and resumed lands on the
    uninterrupted run's bytes: its final sketches and every lineage
    row's state_sha256.  The input is a multi-file table, so every
    bucket's partials come from several build tasks and the fold order
    across them is what is pinned."""
    table = str(tmp_path / "events4")
    spark.read.parquet(f"{SF}/events.parquet").repartition(4).write.parquet(table)
    ev = spark.read.parquet(table)
    assert ev.rdd.getNumPartitions() >= 4
    spec = SketchSpec("tdigest", compression=100)

    full = _job(spark, tmp_path, spec, "value", keys, "td-full", n_buckets=8)
    want = _canonical(full, full.run(ev))
    killed = _job(spark, tmp_path, spec, "value", keys, "td-killed", n_buckets=8)
    assert killed.build_partials(ev, max_buckets=3) == 3
    assert _canonical(killed, killed.run(ev)) == want


def _multi_file(spark, tmp_path):
    """The events table copied into 4 files: a multi-task build."""
    path = str(tmp_path / "events4-plan")
    spark.read.parquet(f"{SF}/events.parquet").repartition(4).write.parquet(path)
    ev = spark.read.parquet(path)
    assert ev.rdd.getNumPartitions() > 1
    return ev


def test_phase_a_shuffles_blobs_not_rows(spark, tmp_path):
    """Phase A's plan over a multi-file input: the build runs in the
    scan's tasks, so the only Exchange sits above the build's
    MapInArrow, and no grouped Arrow apply (FlatMapGroupsInArrow) is
    left."""
    ev = _multi_file(spark, tmp_path)
    job = _job(spark, tmp_path, SPECS["hll"], "user_id", ["event_type"], "plan")
    plan = job._partials(ev, list(range(16)))._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInArrow" not in plan
    lines = plan.splitlines()
    build = max(i for i, line in enumerate(lines) if "MapInArrow" in line)
    assert any("Exchange" in line for line in lines[:build])
    assert not any("Exchange" in line for line in lines[build:]), plan


def test_phase_a_one_file_has_no_fold(spark, tmp_path):
    """Phase A over a one-file input builds in one task, which finalizes
    every (bucket, key) state: no Exchange, one MapInArrow."""
    ev = spark.read.parquet(f"{SF}/events.parquet")
    job = _job(spark, tmp_path, SPECS["hll"], "user_id", ["event_type"], "plan-one")
    plan = job._partials(ev, list(range(16)))._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert sum("MapInArrow" in line for line in plan.splitlines()) == 1, plan


N_SKETCHES = {
    "hll": ("user_id", SPECS["hll"]),
    "cms": ("user_id", SPECS["cms"]),
    "td": ("value", SketchSpec("tdigest", compression=100)),
}


def _n_job(spark, tmp_path, keys, snap, sketches=N_SKETCHES, n_buckets=8):
    return CheckpointedSketchJob(
        spark=spark, sketches=sketches, keys=list(keys), n_buckets=n_buckets,
        checkpoint_dir=str(tmp_path / "ckpt"), snapshot_id=snap, bucket_cols=["event_id"])


def test_phase_a_scans_once_for_n_sketches(spark, tmp_path):
    """Three sketches, one pass over a multi-file input: below phase A's
    first Exchange sit one parquet scan and one build MapInArrow."""
    ev = _multi_file(spark, tmp_path)
    job = _n_job(spark, tmp_path, ["event_type"], "plan-n")
    plan = job._partials(ev, list(range(8)))._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    below = lines[next(i for i, line in enumerate(lines) if "Exchange" in line):]
    assert sum("Scan parquet" in line for line in below) == 1, plan
    assert sum("MapInArrow" in line for line in below) == 1, plan


@pytest.mark.parametrize("keys", [(), ("event_type",)])
def test_n_sketch_resume_matches_uninterrupted(spark, tmp_path, keys):
    """hll + cms + t-digest in one job over a multi-file table, killed
    after 3 buckets and resumed, land on the uninterrupted run's final
    and lineage rows; its hll and cms columns are the one-sketch jobs'
    blobs byte for byte."""
    table = str(tmp_path / "events4")
    spark.read.parquet(f"{SF}/events.parquet").repartition(4).write.parquet(table)
    ev = spark.read.parquet(table)

    full = _n_job(spark, tmp_path, keys, "n-full")
    final = full.run(ev)
    want = _canonical(full, final)
    killed = _n_job(spark, tmp_path, keys, "n-killed")
    assert killed.build_partials(ev, max_buckets=3) == 3
    assert _canonical(killed, killed.run(ev)) == want

    got = {tuple(r[k] for k in keys): r for r in final.collect()}
    for name in ("hll", "cms"):
        col, spec = N_SKETCHES[name]
        one = _job(spark, tmp_path, spec, col, keys, f"one-{name}", n_buckets=8).run(ev)
        assert {tuple(r[k] for k in keys): bytes(r["sketch"]) for r in one.collect()} == \
            {k: bytes(r[name]) for k, r in got.items()}


def test_resume_refuses_changed_sketches(spark, tmp_path):
    """A checkpoint built for {hll} has no cms state in its done buckets:
    resuming it with {hll, cms} fails closed, naming the table and both
    sketch lists."""
    ev = spark.read.parquet(f"{SF}/events.parquet")
    one = {"hll": N_SKETCHES["hll"]}
    assert _n_job(spark, tmp_path, (), "changed", sketches=one).build_partials(ev, max_buckets=2) == 2
    job = _n_job(spark, tmp_path, (), "changed", sketches={**one, "cms": N_SKETCHES["cms"]})
    with pytest.raises(ValueError) as e:
        job.build_partials(ev)
    assert job.partials_path in str(e.value)
    assert "['hll']" in str(e.value) and "['hll', 'cms']" in str(e.value)


@pytest.mark.parametrize("kw", [
    {},
    {"spec": SPECS["hll"]},
    {"spec": SPECS["hll"], "col": "user_id", "sketches": {"hll": N_SKETCHES["hll"]}},
    {"sketches": {}},
])
def test_job_takes_one_form_of_sketches(kw):
    with pytest.raises(ValueError, match="not both or neither"):
        CheckpointedSketchJob(spark=None, **kw)


def test_each_bucket_is_written_by_one_task(spark, tmp_path):
    """Phase A's fold spreads a bucket's keys over several tasks; the
    write re-deals them by bucket, so every bucket's rows land in one
    checkpoint file and a job killed while committing its files never
    leaves a bucket that is listed as done but missing keys."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{SF}/events.parquet").repartition(6)
    job = _job(spark, tmp_path, SPECS["hll"], "user_id", ["event_type"], "files")
    # keep the fold's 4 shuffle partitions apart: coalesced into one,
    # any write would put a bucket in one file
    conf = "spark.sql.adaptive.coalescePartitions.enabled"
    before = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        assert job.build_partials(ev) == 16
    finally:
        spark.conf.set(conf, before)
    files = (spark.read.parquet(job.partials_path)
             .select("bucket", F.input_file_name().alias("file")).distinct()
             .groupBy("bucket").count().collect())
    assert len(files) == 16 and all(r["count"] == 1 for r in files), files

def _null_key_table(spark, tmp_path):
    from pyspark.sql import functions as F

    path = str(tmp_path / "events_null_key")
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    (ev.withColumn("event_type", F.when(F.col("event_id") % 7 != 0, F.col("event_type")))
       .repartition(3).write.parquet(path))
    return path


@pytest.mark.parametrize("keys", [[], ["event_type"]])
def test_cli_multi_op_checkpoint(spark, tmp_path, keys):
    """Multi-op CLI with --checkpoint-dir: one rows_seen column, the
    null-key group kept, and every op's blob equal to the run without a
    checkpoint."""
    from stream_lib_spark.jobs.run_sketches import main

    src = _null_key_table(spark, tmp_path)
    common = ["--input", src, "--ops", "hll:user_id:p=12", "cms:user_id:depth=4,width=256",
              "--keys", *keys, "--cpus", "4"]
    main(common + ["--output", str(tmp_path / "plain")])
    main(common + ["--output", str(tmp_path / "ckpt_out"), "--checkpoint-dir", str(tmp_path / "ckpt")])

    plain = spark.read.parquet(str(tmp_path / "plain"))
    ckpt = spark.read.parquet(str(tmp_path / "ckpt_out"))
    assert ckpt.columns.count("rows_seen") == 1
    ops = ["hll_user_id", "cms_user_id"]

    def blobs(df):
        return {tuple(r[k] for k in keys): [bytes(r[o]) for o in ops] for r in df.collect()}

    want = blobs(plain)
    assert len(want) == (6 if keys else 1) and ((None,) in want) == bool(keys)
    assert blobs(ckpt) == want


def test_cli_multi_op_checkpoint_keeps_key_null_in_one_op(spark, tmp_path):
    """A key whose rows are null in one op's column keeps its row, with
    that op's empty sketch, as in the run without a checkpoint."""
    from pyspark.sql import functions as F

    from stream_lib_spark.jobs.run_sketches import main

    src = str(tmp_path / "events_null_user")
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    (ev.withColumn("user_id", F.when(F.col("event_type") != "click", F.col("user_id")))
       .repartition(3).write.parquet(src))
    common = ["--input", src, "--ops", "hll:user_id:p=12", "cms:event_id:depth=4,width=256",
              "--keys", "event_type", "--cpus", "4"]
    main(common + ["--output", str(tmp_path / "plain")])
    main(common + ["--output", str(tmp_path / "ckpt_out"), "--checkpoint-dir", str(tmp_path / "ckpt")])
    ops = ["hll_user_id", "cms_event_id"]

    def blobs(name):
        rows = spark.read.parquet(str(tmp_path / name)).collect()
        return {r["event_type"]: [bytes(r[o]) for o in ops] for r in rows}

    want = blobs("plain")
    assert len(want) == 5 and want["click"][0] == SketchSpec("hll", p=12).new().to_bytes()
    assert blobs("ckpt_out") == want
    ckpt = {r["event_type"]: r["rows_seen"]
            for r in spark.read.parquet(str(tmp_path / "ckpt_out")).collect()}
    # rows_seen follows multi_sketch_agg's row rule: a row counts if any
    # requested column is non-null ('click' has no user_id, every event_id)
    any_set = F.col("user_id").isNotNull() | F.col("event_id").isNotNull()
    exact = spark.read.parquet(src).where(any_set).groupBy("event_type").count().collect()
    assert ckpt == {r["event_type"]: r["count"] for r in exact}
    assert ckpt["click"] == 210 and ckpt["view"] == 188


def test_cli_checkpoint_writes_one_metrics_table(spark, tmp_path):
    """A multi-op --checkpoint-dir run writes one lineage table at
    <output>_metrics; its rows_seen, summed per key, is the output's."""
    from pyspark.sql import functions as F

    from stream_lib_spark.jobs.run_sketches import main

    src, out = _null_key_table(spark, tmp_path), str(tmp_path / "out")
    main(["--input", src, "--ops", "hll:user_id:p=12", "cms:event_id:depth=4,width=256",
          "--keys", "event_type", "--cpus", "4", "--output", out,
          "--checkpoint-dir", str(tmp_path / "ckpt")])
    metrics = spark.read.parquet(f"{out}_metrics")
    assert set(metrics.columns) == {"bucket", "event_type", "rows_seen", "state_sha256"}
    lineage = {r["event_type"]: r["n"] for r in metrics.where(F.col("rows_seen") > 0)
               .groupBy("event_type").agg(F.sum("rows_seen").alias("n")).collect()}
    assert lineage == {r["event_type"]: r["rows_seen"] for r in spark.read.parquet(out).collect()}
    assert sum(lineage.values()) == spark.read.parquet(src).count()


def test_cli_rejects_murmur64_with_checkpoint(tmp_path, capsys):
    """The checkpoint job builds xxhash64 sketches only: asking for
    murmur64 parity with --checkpoint-dir fails closed, naming both
    flags, instead of silently building the other hash family."""
    from stream_lib_spark.jobs.run_sketches import main

    with pytest.raises(SystemExit):
        main(["--input", f"{SF_DIR}/events.parquet", "--ops", "hll:user_id:p=12",
              "--output", str(tmp_path / "out"), "--hash-mode", "murmur64",
              "--checkpoint-dir", str(tmp_path / "ckpt")])
    err = capsys.readouterr().err
    assert "--hash-mode" in err and "--checkpoint-dir" in err
