"""End-to-end ``spark-submit --py-files`` launch (the north rule's
deploy mechanism, exercised for real): package the library into a zip,
submit the CLI job as a separate process with the package shipped via
--py-files, and check the sketch output parquet it writes."""

import json
import os
import shutil
import subprocess

import numpy as np
import pytest

SF = "/root/testdata/sf0.001"


@pytest.mark.slow
def test_spark_submit_py_files_end_to_end(spark, tmp_path):
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        pytest.skip("spark-submit not on PATH")
    from stream_lib_spark.jobs.session import package_zip

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = tmp_path / "sketch_out"
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="2g")
    r = subprocess.run(
        [spark_submit, "--master", "local[4]",
         "--py-files", package_zip(),
         os.path.join(repo, "stream_lib_spark", "jobs", "launch_sketches.py"),
         "--input", f"{SF}/events.parquet",
         "--ops", "hll:user_id:p=14", "tdigest:value:compression=100",
         "--output", str(out), "--cpus", "4"],
        capture_output=True, text=True, timeout=300, env=env,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    stats = json.loads([l for l in r.stdout.splitlines() if l.startswith("{")][-1])
    assert stats["rows"] > 0

    # verify the job's output through the shared test session (do NOT
    # create-and-stop another one: getOrCreate() returns the fixture's
    # session, and stopping it would kill every later test)
    from stream_lib_spark.agg import sketch_from_bytes

    ev = spark.read.parquet(f"{SF}/events.parquet")
    exact = ev.select("user_id").distinct().count()
    amounts = np.sort(np.array([r2["value"] for r2 in ev.select("value").collect()], dtype=np.float64))
    row = spark.read.parquet(str(out)).collect()[0]
    hll = sketch_from_bytes(bytes(row["hll_user_id"]))
    rse = 1.04 / (1 << 14) ** 0.5
    assert abs(hll.cardinality() - exact) <= 4 * rse * max(exact, 1)
    td = sketch_from_bytes(bytes(row["tdigest_value"]))
    med = td.quantile(0.5)
    rank = np.searchsorted(amounts, med, side="right") / len(amounts)
    assert abs(rank - 0.5) <= 0.02 + 2.0 / len(amounts)


def test_cli_wire_format_reference(spark, tmp_path):
    """--wire-format reference: the job's output blobs are JVM
    stream-lib wire bytes — parseable by the reference-format codecs
    and carrying the same answers as the native run."""
    from stream_lib_spark.jobs.run_sketches import main

    out_n = tmp_path / "native_out"
    out_r = tmp_path / "ref_out"
    common = ["--input", f"{SF}/events.parquet",
              "--ops", "hll:user_id:p=14", "tdigest:value:compression=100",
              "topk:event_type:capacity=64", "qdigest:user_id:compression_factor=256",
              "--cpus", "4"]
    main(common + ["--output", str(out_n)])
    main(common + ["--output", str(out_r), "--wire-format", "reference"])

    from stream_lib_spark.agg import sketch_from_bytes
    from stream_lib_spark.sketches.hll_wire import from_reference_bytes as hll_from
    from stream_lib_spark.sketches.qdigest_wire import from_reference_bytes as qd_from, reference_quantile
    from stream_lib_spark.sketches.spacesaving_wire import parse_reference_bytes as ss_parse
    from stream_lib_spark.sketches.tdigest_wire import from_reference_bytes as td_from

    nat = spark.read.parquet(str(out_n)).collect()[0]
    ref = spark.read.parquet(str(out_r)).collect()[0]

    hll_n = sketch_from_bytes(bytes(nat["hll_user_id"]))
    hll_r = hll_from(bytes(ref["hll_user_id"]))
    assert hll_r.cardinality() == hll_n.cardinality()

    td_n = sketch_from_bytes(bytes(nat["tdigest_value"]))
    td_r = td_from(bytes(ref["tdigest_value"]))
    assert abs(td_r.quantile(0.5) - td_n.quantile(0.5)) < 1e-9

    ss_n = sketch_from_bytes(bytes(nat["spacesaving_event_type"]))
    ss_r = ss_parse(bytes(ref["spacesaving_event_type"]))
    assert {(i, c) for i, c, _ in ss_r.top_k(5)} == {(i, c) for i, c, _ in ss_n.top_k(5)}

    qd_r = qd_from(bytes(ref["qdigest_user_id"]))
    qd_n = sketch_from_bytes(bytes(nat["qdigest_user_id"]))
    assert reference_quantile(qd_r, 0.5) == qd_n.quantile(0.5)


def test_cli_wire_format_cms_bloom(spark, tmp_path):
    """--wire-format reference on cms/bloom ops (refused before round
    5): the CLI auto-switches the BUILD to the reference hash family,
    and the output blobs deserialize as JVM CountMinSketch/BloomFilter
    state answering probes with exact parity."""
    from stream_lib_spark.jobs.run_sketches import main
    from stream_lib_spark.sketches.bloom_wire import ReferenceBloom
    from stream_lib_spark.sketches.cms_wire import ReferenceCMS

    out = tmp_path / "ref_cms_bloom"
    main(["--input", f"{SF}/events.parquet",
          "--ops", "cms:event_type:eps=1e-3,confidence=0.99,seed=7364181",
          "bloom:user_id:n_elements=2000,fpp=0.01",
          "--output", str(out), "--cpus", "4",
          "--wire-format", "reference"])
    row = spark.read.parquet(str(out)).collect()[0]
    ev = spark.read.parquet(f"{SF}/events.parquet")
    exact = {r["event_type"]: r["count"]
             for r in ev.groupBy("event_type").count().collect()}
    cms = ReferenceCMS.from_bytes(bytes(row["cms_event_type"]))
    keys = sorted(exact)
    for k, e in zip(keys, cms.estimate_string(keys)):
        assert exact[k] <= e <= exact[k] + max(1e-3 * cms.size, 1)
    bl = ReferenceBloom.from_bytes(bytes(row["bloom_user_id"]))
    ids = [str(r["user_id"]) for r in ev.select("user_id").distinct().collect()]
    assert bl.is_present(ids).all()


def test_cli_wire_format_rejects_unsound_kinds(tmp_path):
    from stream_lib_spark.jobs.run_sketches import main

    with pytest.raises(SystemExit):
        main(["--input", f"{SF}/events.parquet",
              "--ops", "kll:value:k=200",
              "--output", str(tmp_path / "x"), "--cpus", "4",
              "--wire-format", "reference"])


def test_cli_refuses_two_ops_with_one_name(tmp_path, capsys):
    """Two --ops that map to one output name (same kind and column) are
    refused before any Spark work, naming the name and both ops;
    otherwise the output would silently keep only the last op's column."""
    from stream_lib_spark.jobs.run_sketches import main

    out = tmp_path / "clash"
    with pytest.raises(SystemExit):
        main(["--input", f"{SF}/events.parquet",
              "--ops", "hll:user_id:p=12", "cms:user_id:eps=0.01,confidence=0.99", "hll:user_id:p=14",
              "--output", str(out), "--cpus", "4"])
    err = capsys.readouterr().err
    assert "hll_user_id" in err and "hll:user_id:p=12" in err and "hll:user_id:p=14" in err
    assert not out.exists()


def test_cli_hllc_op(spark, tmp_path):
    """The 'hllc' op (classic HyperLogLog, reference-family-only) works
    end-to-end from the CLI; with --wire-format reference the output is
    the packed 5-bit RegisterSet blob the JVM class deserializes."""
    from stream_lib_spark.jobs.run_sketches import main
    from stream_lib_spark.sketches.loglog_wire import ReferenceHyperLogLog

    out = tmp_path / "hllc_out"
    main(["--input", f"{SF}/events.parquet",
          "--ops", "hllc:user_id:log2m=10",
          "--output", str(out), "--cpus", "4",
          "--wire-format", "reference"])
    row = spark.read.parquet(str(out)).collect()[0]
    sk = ReferenceHyperLogLog.from_bytes(bytes(row["hllc_user_id"]))
    ev = spark.read.parquet(f"{SF}/events.parquet")
    exact = ev.select("user_id").distinct().count()
    assert abs(sk.cardinality() - exact) <= max(0.35 * exact, 5)


def test_cli_cte_llc_hlc_reference_builds(spark, tmp_path):
    """Round 6: the CLI can build LogLog- and classic-HLL-tipped
    CountThenEstimate in the reference hash family and export JVM wire
    blobs the CTE codec parses back with identical estimates."""
    from stream_lib_spark.jobs.run_sketches import main
    from stream_lib_spark.sketches.cte_wire import TYPE_HLC, TYPE_LLC, parse_reference_bytes

    out = tmp_path / "cte_out"
    main(["--input", f"{SF}/events.parquet",
          "--ops",
          "countthenestimate:event_id:tipping_point=50,builder=llc,k=8,hash_family=reference",
          "countthenestimate:user_id:tipping_point=50,builder=hlc,log2m=10,hash_family=reference",
          "--output", str(out), "--cpus", "4",
          "--wire-format", "reference"])
    row = spark.read.parquet(str(out)).collect()[0]
    llc = parse_reference_bytes(bytes(row["countthenestimate_event_id"]))
    assert llc.tipped and llc.estimator_type == TYPE_LLC
    assert llc.estimator().cardinality() > 50  # event_id is unique per row
    hlc = parse_reference_bytes(bytes(row["countthenestimate_user_id"]))
    # 15 distinct users < tipping_point -> untipped element list with
    # the HyperLogLog$Builder rsd on the wire
    assert not hlc.tipped and len(hlc.elements) == 15
    assert hlc.builder_class.endswith("HyperLogLog$Builder")
