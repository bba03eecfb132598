"""Capture .explain('formatted') output for the bench headline queries
(and selected operator pipelines) into plans/r08/<name>_<tag>.txt.

Usage:  python tools/capture_plans.py <tag> [name ...]
        tag is 'before' or 'after'; with no names, captures all.

The DataFrames here rebuild exactly the expressions bench.py times (the
bench lambdas are not importable one-by-one), so the plans are the ones
the driver's frozen bench executes.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "plans", "r08")


def build_plan_dfs(spark):
    """name -> DataFrame for every bench headline query (lazy plans)."""
    from stream_lib_spark.agg import SketchSpec, sketch_agg
    from stream_lib_spark.functions import approx_quantiles, approx_topk
    from stream_lib_spark.textops import minhash_lsh_pairs, winnowing_fingerprints
    from stream_lib_spark.transcripts import turn_latencies

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    import bench
    tr = bench.materialize_transcripts(spark)
    cents = li.select((F.col("l_extendedprice") * 100).cast("long").alias("cents"))
    dfs = {
        "hll_orders_global": sketch_agg(li, [], "l_orderkey", SketchSpec("hll", p=14)),
        "hll_users_by_type": sketch_agg(ev, ["event_type"], "user_id", SketchSpec("hll", p=12)),
        "cms_partkey_freq": sketch_agg(li, [], "l_partkey", SketchSpec("cms", eps=1e-4, confidence=0.99)),
        "tdigest_price": sketch_agg(li, [], "l_extendedprice", SketchSpec("tdigest", compression=100.0)),
        "kll_price": sketch_agg(li, [], "l_extendedprice", SketchSpec("kll", k=200)),
        "qdigest_price": sketch_agg(cents, [], "cents", SketchSpec("qdigest", compression_factor=2048)),
        "topk_partkey": approx_topk(li, "l_partkey", k=20, capacity=2048),
        "minhash_dedup_docs": minhash_lsh_pairs(docs, threshold=0.5),
        "winnowing_fingerprints": winnowing_fingerprints(docs),
        "transcript_hll_convs": sketch_agg(tr, [], "conv_id", SketchSpec("hll", p=14)),
        "transcript_tool_hll": sketch_agg(
            tr.where(F.col("tool").isNotNull()), ["tool"], "conv_id", SketchSpec("hll", p=12)),
        "transcript_latency_tdigest": approx_quantiles(
            turn_latencies(tr), "latency_s", [0.5, 0.9, 0.99], kind="tdigest"),
        "q1_pricing": (li.where(F.col("l_shipdate") <= "1998-09-02")
                       .groupBy("l_returnflag", "l_linestatus")
                       .agg(F.sum("l_quantity"), F.count("*"))),
    }
    return dfs


def main():
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:]) or None
    os.makedirs(OUT_DIR, exist_ok=True)
    import bench
    spark = bench._session(int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    dfs = build_plan_dfs(spark)
    for name, df in dfs.items():
        if only and name not in only:
            continue
        header = ""
        # r8: global sketch aggregates below the fan-in threshold are
        # FINALIZED DRIVER-SIDE by collect_sketch (the partials job is
        # the only distributed part).  Capture the plan that actually
        # executes, with a note, instead of the unexecuted distributed
        # merge tail.
        fold = getattr(df, "_slp_driver_fold", None)
        if fold is not None:
            partials = fold[0]
            header = (
                "NOTE (r8): executed topology = the partials plan below "
                "+ a driver-side fold of its <= 64 output blobs inside "
                "collect_sketch().  The repartition(1) + MapInArrow "
                "merge tail of the lazy DataFrame is not executed on "
                "this path (it remains the execution path above the "
                "fan-in threshold / for distributed consumers).\n\n")
            df = partials
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        root = txt.splitlines()[1] if len(txt.splitlines()) > 1 else ""
        if not header and ("LocalTableScan" in root or "Scan ExistingRDD" in root):
            header = (
                "NOTE (r8): this query's global finalize now runs "
                "driver-side (approx_topk/approx_quantiles fast path): "
                "the distributed part is exactly the sketch partials "
                "job (same shape as the corresponding sketch-query "
                "partials plan); the returned DataFrame is the local "
                "finalized result below.\n\n")
        path = os.path.join(OUT_DIR, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(header + txt)
        print("wrote", path)
    spark.stop()


if __name__ == "__main__":
    main()
