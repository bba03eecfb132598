"""Extra benchmarks for the optimization round (bench.py is frozen; the
numbers cited in OPTIMIZATION_r08.md come from here).

Modes:
  python bench_extra.py                 # headline queries via bench.bench_queries
  python bench_extra.py --phases        # per-phase isolation (noop sink, guide §1.4)

Both honor $SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS exactly like bench.py
and print one JSON line.

The --phases mode splits the sketch pipeline of representative queries
into: scan+hash projection only (JVM), + Python partial build, + merge
and collect — each timed with the noop sink so the computation is
measured, not the sink (spark_optimization_guide.md §1.4).
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

import bench  # reads SPARK_GRAFT_SF_DIR/_CPUS at import, like the driver


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _best(fn, repeats=3):
    best = float("inf")
    for _ in range(repeats):
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    return round(best, 3)


def run_phases(spark) -> dict:
    from stream_lib_spark.agg import (
        STATE_COL, SketchSpec, _project, collect_sketch, sketch_agg, sketch_partials,
    )

    li = spark.read.parquet(f"{bench.SF_DIR}/lineitem.parquet")
    out: dict = {}

    def phases(name, df, col, spec):
        spark.sparkContext.setJobDescription(f"{name}: scan+hash only")
        prepared = _project(df, [], {STATE_COL: (col, spec)})
        out[f"{name}.scan_hash"] = _best(lambda: _noop(prepared))
        spark.sparkContext.setJobDescription(f"{name}: + partial build")
        out[f"{name}.partials"] = _best(
            lambda: _noop(sketch_partials(df, [], col, spec)))
        spark.sparkContext.setJobDescription(f"{name}: full agg+collect")
        out[f"{name}.full"] = _best(
            lambda: collect_sketch(sketch_agg(df, [], col, spec)))
        spark.sparkContext.setJobDescription(None)

    phases("hll_orderkey", li, "l_orderkey", SketchSpec("hll", p=14))
    phases("cms_partkey", li, "l_partkey", SketchSpec("cms", eps=1e-4, confidence=0.99))
    phases("tdigest_price", li, "l_extendedprice", SketchSpec("tdigest", compression=100.0))

    # raw scan parallelism evidence: tasks per base-table scan
    for t in ("lineitem", "events", "orders"):
        df = spark.read.parquet(f"{bench.SF_DIR}/{t}.parquet")
        out[f"scan_partitions.{t}"] = df.rdd.getNumPartitions()
    return out


def main():
    phases = "--phases" in sys.argv
    spark = bench._session(bench.CPUS)
    if phases:
        out = {"metric": "bench_extra_phases", "sf": bench._sf(), **run_phases(spark)}
    else:
        timings, extras = bench.bench_queries(spark)
        out = {
            "metric": "bench_extra_headline",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "queries": timings,
            "sf": bench._sf(),
            **{k: v for k, v in extras.items() if isinstance(v, (int, float))},
        }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
