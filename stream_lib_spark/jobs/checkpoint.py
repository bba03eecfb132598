"""Checkpointed, resumable sketch jobs with per-partition lineage.

North-rule contract: a job over a huge (10^12-turn) table must be
resumable from a snapshot checkpoint, with per-partition lineage and
metrics rows, and the resumed result must be byte-identical to an
uninterrupted run.

Mechanism (Iceberg-ready, parquet-backed in the sandbox):

- rows are assigned to ``n_buckets`` deterministic lineage buckets by a
  stable row key expression (default: xxhash64 of all columns — for the
  transcript table use ``(conv_id, turn_idx)``).  Buckets play the role
  of Iceberg file/partition manifests: content-stable across runs, so
  "which work is done" is a set of bucket ids.
- phase A builds one partial-sketch row per (bucket, keys...) and
  appends it to the checkpoint table together with lineage metrics
  (snapshot_id, bucket, rows_seen, state_sha256, wall_ms).  A resumed
  run lists finished buckets and processes only the complement —
  already-persisted partials are never recomputed.
- phase B folds all bucket partials with the sketch monoid in
  deterministic bucket order.  Because bucket contents are pure
  functions of the table snapshot and merges are commutative monoids,
  the final state is byte-identical however many times the job was
  interrupted (tested in tests/test_checkpoint.py).

Swapping parquet for Iceberg at deploy time = replacing ``_read_done``
/ append with catalog operations on a metrics table; the lineage model
is unchanged (SURVEY.md §7).
"""

from __future__ import annotations

import hashlib
import os
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..agg import STATE_COL, SketchSpec, _fold, _groups, _offer, _project


@dataclass
class CheckpointedSketchJob:
    spark: SparkSession
    spec: SketchSpec
    col: str
    keys: list[str] = field(default_factory=list)
    n_buckets: int = 64
    checkpoint_dir: str = "/tmp/sketch_checkpoints"
    snapshot_id: str = "snap-0"
    bucket_cols: list[str] | None = None  # stable row identity; None = all cols

    # ------------------------------------------------------------ paths

    @property
    def partials_path(self) -> str:
        return os.path.join(self.checkpoint_dir, self.snapshot_id, "partials")

    # ------------------------------------------------------------ lineage

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        cols = self.bucket_cols or df.columns
        return df.withColumn(
            "__bucket", F.pmod(F.xxhash64(*cols), F.lit(self.n_buckets)).cast("int")
        )

    def _done_buckets(self) -> set[int]:
        """Finished bucket ids from the checkpoint table.  Only a
        missing checkpoint path means "nothing done"; any OTHER read
        failure must propagate — treating a transient error as an empty
        set would recompute and append every bucket as a duplicate,
        double-counting sum-monoid state on final_merge."""
        from pyspark.errors import AnalysisException

        try:
            partials = self.spark.read.parquet(self.partials_path)
        except AnalysisException as e:
            get_cls = getattr(e, "getCondition", None) or getattr(e, "getErrorClass", None)
            cls = get_cls() if callable(get_cls) else None
            if (cls and "PATH_NOT_FOUND" in cls) or "Path does not exist" in str(e):
                return set()
            raise
        rows = partials.select("bucket").distinct().collect()
        return {r["bucket"] for r in rows}

    # ------------------------------------------------------------ phase A

    def build_partials(self, df: DataFrame, max_buckets: int | None = None) -> int:
        """Compute + persist partials for buckets not yet checkpointed.
        ``max_buckets`` caps work for this invocation (used by tests to
        simulate a killed job).  Returns #buckets written."""
        done = self._done_buckets()
        todo = [b for b in range(self.n_buckets) if b not in done]
        if max_buckets is not None:
            todo = todo[:max_buckets]
        if not todo:
            return 0
        spec, keys, col = self.spec, self.keys, self.col
        bucketed = self._with_bucket(df).where(F.col("__bucket").isin(todo))
        prepared, _ = _project(bucketed, keys + ["__bucket"], {STATE_COL: (col, spec)})

        key_fields = [prepared.schema[k] for k in keys]
        out_schema = T.StructType(
            [T.StructField("bucket", T.IntegerType())]
            + key_fields
            + [
                T.StructField(STATE_COL, T.BinaryType()),
                T.StructField("rows_seen", T.LongType()),
                T.StructField("state_sha256", T.StringType()),
                T.StructField("wall_ms", T.LongType()),
            ]
        )
        arrow_schema = to_arrow_schema(out_schema)

        def build(tbl: pa.Table) -> pa.Table:
            bucket = tbl.column("__bucket")[0].as_py()
            rows = []
            for key, sub in _groups(tbl, keys):
                t0 = time.time()  # per-KEY wall, not cumulative since bucket start
                blob = _offer(spec, spec.new(), sub.column(f"__in_{STATE_COL}")).to_bytes()
                rows.append({"bucket": bucket, **dict(zip(keys, key)), STATE_COL: blob,
                             "rows_seen": sub.num_rows, "state_sha256": hashlib.sha256(blob).hexdigest(),
                             "wall_ms": int((time.time() - t0) * 1000)})
            return pa.Table.from_pylist(rows, schema=arrow_schema)

        partials = prepared.groupBy("__bucket").applyInArrow(build, schema=out_schema)
        partials.write.mode("append").parquet(self.partials_path)
        # buckets with ZERO matching rows produce no applyInArrow group
        # and hence no partial row — without a marker they would never be
        # "done" and every resume would re-scan the full input for them
        # forever.  Append an empty-sketch marker row (rows_seen=0, keys
        # null) for each; the keyed final_merge filters markers out, the
        # global path folds them as the monoid identity.
        covered = self._done_buckets()
        missing = [b for b in todo if b not in covered]
        if missing:
            blob = spec.new().to_bytes()
            digest = hashlib.sha256(blob).hexdigest()
            marker_rows = [
                tuple([b] + [None] * len(keys) + [blob, 0, digest, 0])
                for b in missing
            ]
            # key fields may be non-nullable in the source schema; the
            # markers deliberately carry null keys, so relax nullability
            marker_schema = T.StructType([
                T.StructField(f.name, f.dataType, True) for f in out_schema.fields
            ])
            (self.spark.createDataFrame(marker_rows, schema=marker_schema)
             .write.mode("append").parquet(self.partials_path))
        return len(todo)

    # ------------------------------------------------------------ phase B

    def final_merge(self) -> DataFrame:
        """Fold all checkpointed partials in deterministic bucket order
        → one row per key group: (keys..., sketch, rows_seen)."""
        partials = self.spark.read.parquet(self.partials_path)
        spec, keys = self.spec, self.keys
        key_fields = [partials.schema[k] for k in keys]
        out_schema = T.StructType(
            key_fields
            + [T.StructField(STATE_COL, T.BinaryType()), T.StructField("rows_seen", T.LongType())]
        )
        arrow_schema = to_arrow_schema(out_schema)
        # computed here: a closure that captures the DataFrame cannot
        # run on an executor
        in_schema = to_arrow_schema(partials.schema)

        def merge(tbl: pa.Table) -> pa.Table:
            tbl = tbl.sort_by("bucket")  # deterministic fold order
            # the library's one fold: an empty partials table (nothing
            # built yet) gives the empty sketch, and t-digest/KLL get the
            # same final compress as every merge — without it the bytes
            # (and state_sha256) would depend on shuffle arrival
            sk = _fold(tbl.column(STATE_COL).to_pylist(), spec)
            return pa.Table.from_pylist([{
                **{k: tbl.column(k)[0].as_py() for k in keys}, STATE_COL: sk.to_bytes(),
                "rows_seen": pc.sum(tbl.column("rows_seen")).as_py() or 0}], schema=arrow_schema)

        if keys:
            # drop the empty-bucket marker rows (null keys, rows_seen=0):
            # they exist only to mark lineage coverage, not key groups
            real = partials.where(F.col("rows_seen") > 0)
            return real.groupBy(*keys).applyInArrow(merge, schema=out_schema)
        return partials.repartition(1).mapInArrow(
            lambda it: merge(pa.Table.from_batches(list(it), schema=in_schema)).to_batches(),
            schema=out_schema)

    def run(self, df: DataFrame) -> DataFrame:
        """Build any missing partials, then merge. Safe to re-invoke
        after a kill at any point."""
        self.build_partials(df)
        return self.final_merge()

    def metrics(self) -> DataFrame:
        """Per-bucket lineage/metrics rows (the ops surface)."""
        return self.spark.read.parquet(self.partials_path).select(
            "bucket", *self.keys, "rows_seen", "state_sha256", "wall_ms"
        )

