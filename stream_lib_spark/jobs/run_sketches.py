"""spark-submit job entry: sketch a table's columns into a metrics
parquet (the rebuild of the reference CLIs, ``util/TopK.java:41-141``
and ``util/ObyCount.java:37-96``, as a cluster job).

Usage (sandbox / cluster — identical):

    spark-submit --py-files stream_lib_spark.zip \
        stream_lib_spark/jobs/launch_sketches.py \
        --input /data/transcripts \
        --ops hll:conv_id:p=14 cms:text:eps=1e-4,confidence=0.99 \
              tdigest:latency_s:compression=100 topk:tool:capacity=256 \
        --keys tool \
        --output /data/sketch_metrics \
        [--checkpoint-dir /data/ckpt --snapshot-id snap-42] \
        [--wire-format reference]

``--wire-format reference`` writes the sketch columns as JVM stream-lib
wire bytes, so a JVM consumer deserializes job outputs with stream-lib
directly.  hll / tdigest / qdigest / topk export their native state;
cms and bloom are automatically BUILT in the reference's own hash
family (``hash_family=reference`` — the JVM re-hashes probes at query
time, so export soundness is a build-time property; add
``item_type=long`` to a cms op for ``add(long)``-family parity on
numeric columns).  See ``sketches/wire_export.py``.

With ``--checkpoint-dir`` the job runs through the resumable lineage
path (jobs/checkpoint.py): ONE checkpointed job builds every op in one
scan, with its checkpoint table at
``<checkpoint-dir>/<snapshot-id>/partials`` and its per-bucket lineage
rows written to ``<output>_metrics``; the output gets one ``rows_seen``
column (a key's rows with any op's column non-null).  Re-running after
a kill resumes from the last completed lineage bucket and produces
byte-identical output.  A changed op set is refused on resume: give it
a new ``--snapshot-id``.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def parse_op(op: str):
    """'hll:conv_id:p=14' → (name, col, SketchSpec)."""
    from ..agg import SketchSpec

    parts = op.split(":")
    kind, col = parts[0], parts[1]
    params = {}
    if len(parts) > 2 and parts[2]:
        for kv in parts[2].split(","):
            k, v = kv.split("=")
            try:
                params[k] = int(v)
            except ValueError:
                try:
                    params[k] = float(v)
                except ValueError:
                    params[k] = v
    if kind == "topk":
        kind = "spacesaving"
    if kind == "hllc":
        # classic HyperLogLog exists only as a reference-family build
        # (native classic shape is hll with sp=0); the CLI implies it
        params.setdefault("hash_family", "reference")
    return f"{kind}_{col}", col, SketchSpec(kind, **params)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="table path (Iceberg table at deploy)")
    ap.add_argument("--format", default="parquet", choices=["parquet", "csv", "json"],
                    help="source format (csv reads with header+inferSchema)")
    ap.add_argument("--ops", nargs="+", required=True, help="kind:column[:k=v,...]")
    ap.add_argument("--keys", nargs="*", default=[], help="grouping keys")
    ap.add_argument("--output", required=True, help="output parquet for sketch rows")
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--snapshot-id", default="snap-0")
    ap.add_argument("--hash-mode", default="xxhash64", choices=["xxhash64", "murmur64"])
    ap.add_argument("--wire-format", default="native", choices=["native", "reference"],
                    help="'reference' re-serializes sketch columns as JVM "
                         "stream-lib wire bytes (hll/tdigest/qdigest/topk "
                         "only — see sketches/wire_export.py)")
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args(argv)
    if args.checkpoint_dir and args.hash_mode != "xxhash64":
        # the checkpoint job hashes with xxhash64 only: a silent
        # xxhash64 build would break the murmur64 parity asked for
        ap.error(f"--hash-mode {args.hash_mode} is not supported with --checkpoint-dir "
                 "(the checkpoint job hashes with xxhash64)")

    from ..agg import REFERENCE_FAMILY, SketchSpec, multi_sketch_agg
    from .session import get_spark
    from .checkpoint import CheckpointedSketchJob

    from pyspark.sql import SparkSession, functions as F

    ops = list(map(parse_op, args.ops))
    named: dict = {}
    for (name, _col, _spec), op in zip(ops, args.ops):
        if name in named:  # the output holds one column per name: one op would vanish
            ap.error(f"--ops {named[name]!r} and {op!r} both name the output column {name!r}")
        named[name] = op
    if args.wire_format == "reference":
        # export soundness for cms/bloom is a BUILD-time property: the
        # JVM re-hashes probes with its own family at query time, so
        # switch those builds to the reference hash family up front
        ops = [
            (name, col,
             SketchSpec(spec.kind, **{**spec.params, "hash_family": "reference"})
             if spec.kind in REFERENCE_FAMILY and not spec.reference_family
             else spec)
            for name, col, spec in ops
        ]
        # fail FAST at the CLI if any rewritten spec can't construct —
        # the native kinds' param vocabularies (e.g. linearcounting
        # max_n=..., bloom m_bits/k) don't all map onto the reference-
        # family constructors, and a TypeError inside the Arrow build
        # kernel on an executor is an opaque way to find that out
        for name, _col, spec in ops:
            try:
                spec.new()
            except (TypeError, ValueError) as e:
                ap.error(
                    f"op {name!r}: --wire-format reference rebuilds this as a "
                    f"reference-hash-family sketch, but the spec params don't "
                    f"fit its constructor ({e}). Accepted params: "
                    "cms(depth,width,seed | eps,confidence,seed [,item_type=long]); "
                    "bloom(n_elements, fpp | buckets_per_element); "
                    "linearcounting(size); loglog(k [,adaptive=1]); "
                    "countthenestimate(tipping_point, "
                    "builder=lc|adaptive|hllpp|llc|hlc, size|k|p,sp|log2m); "
                    "hllc(log2m)")

    # only stop a session this job created — getOrCreate() returns any
    # live session (e.g. a host application invoking main() in-process)
    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark("run_sketches", cpus=args.cpus)
    if args.format == "csv":
        df = spark.read.option("header", True).option("inferSchema", True).csv(args.input)
    elif args.format == "json":
        df = spark.read.json(args.input)
    else:
        df = spark.read.parquet(args.input)
    t0 = time.time()
    n_rows = df.count()

    sketches = {name: (col, spec) for name, col, spec in ops}
    if args.checkpoint_dir:
        job = CheckpointedSketchJob(spark=spark, sketches=sketches, keys=args.keys,
                                    checkpoint_dir=args.checkpoint_dir, snapshot_id=args.snapshot_id)
        result = job.run(df)
        job.metrics().write.mode("overwrite").parquet(f"{args.output}_metrics")
    else:
        result = multi_sketch_agg(df, sketches, keys=args.keys, hash_mode=args.hash_mode)

    if args.wire_format == "reference":
        from ..sketches.wire_export import EXPORTABLE, reference_wire_udf

        bad = [name for name, _c, spec in ops if spec.kind not in EXPORTABLE]
        if bad:
            ap.error(f"--wire-format reference: no sound export for {bad} "
                     f"(exportable kinds: {', '.join(EXPORTABLE)})")
        for name, _col, spec in ops:
            result = result.withColumn(name, reference_wire_udf(spec.kind)(F.col(name)))

    result.write.mode("overwrite").parquet(args.output)
    wall = time.time() - t0
    print(json.dumps({"rows": n_rows, "wall_sec": round(wall, 3),
                      "rows_per_sec": round(n_rows / wall, 1),
                      "ops": args.ops, "output": args.output}))
    if owns_session:
        spark.stop()


if __name__ == "__main__":
    main()
