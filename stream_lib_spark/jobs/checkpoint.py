"""Checkpointed, resumable sketch jobs with per-partition lineage.

North-rule contract: a job over a huge (10^12-turn) table must be
resumable from a snapshot checkpoint, with per-partition lineage and
metrics rows, and the resumed result must be byte-identical to an
uninterrupted run.

One job builds N sketches in one scan: ``sketches={name: (column,
spec)}``, the shape ``multi_sketch_agg`` takes (``spec=``/``col=`` is
the one-sketch job ``{"sketch": (col, spec)}``).  Its checkpoint table
has one blob column per sketch and one ``rows_seen``, which counts a
key's rows with ANY requested column non-null (``multi_sketch_agg``'s
row rule).  ``state_sha256`` is ``sha2(concat(<blob columns in
sketches order>), 256)`` — for one sketch, the sha256 of its blob.  A
resume whose sketch names differ from the table's blob columns is
refused: the table's done buckets hold no state for a new sketch.

Mechanism (Iceberg-ready, parquet-backed in the sandbox), built from
the library's one pipeline (``agg._build`` + ``agg._fold_level``), so
every shuffle moves sketch blobs, never rows:

- rows are assigned to ``n_buckets`` deterministic lineage buckets by a
  stable row key expression (default: xxhash64 of all columns — for the
  transcript table use ``(conv_id, turn_idx)``).  Buckets play the role
  of Iceberg file/partition manifests: content-stable across runs, so
  "which work is done" is a set of bucket ids.
- phase A builds partials for the buckets not yet done: the
  partition-local build keyed by (bucket, keys...) in the scan's own
  tasks, then one blob fold per (bucket, keys...) in build-task order.
  A build task holds one state per (bucket, key) it sees — never a
  bucket's rows.  The blobs are shuffled by bucket, so one fold task
  writes each bucket's rows, with their lineage metrics (bucket, keys,
  rows_seen, state_sha256), into one file of the checkpoint table: a
  job killed part-way marks no half-built bucket done.  A build over
  exactly one partition needs no fold: its one task finalizes every
  (bucket, key) state and writes every todo bucket into one file, so a
  bucket is still one file.  A bucket with no rows gets a marker row
  instead (null keys, rows_seen 0, one empty blob per sketch), so it
  too is done.  A resumed run lists finished
  buckets and processes only the complement — already-persisted
  partials are never recomputed.
- phase B folds all bucket partials per key with the sketch monoid in
  bucket order.  Because bucket contents are pure functions of the
  table snapshot, build tasks are the snapshot's scan splits (an input
  that re-deals rows, such as a round-robin repartition, is not) and
  both fold orders are pinned, the final state is byte-identical however
  many times the job was interrupted (tested in tests/test_checkpoint.py,
  tests/test_checkpoint_pipeline.py).  Digests (t-digest, KLL,
  q-digest) are chunking-sensitive: their bytes hold only while a build
  task's rows of the buckets being built stay below the build kernel's
  2^22-row flush; past it a resume moves the flush points, and their
  bytes (never their bounds) may differ.

Swapping parquet for Iceberg at deploy time = replacing ``_done_buckets``
/ append with catalog operations on a metrics table; the lineage model
is unchanged (SURVEY.md §7).
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F, types as T

from ..agg import STATE_COL, SketchSpec, _build, _fold_level, _local_frame


@dataclass
class CheckpointedSketchJob:
    spark: SparkSession
    spec: SketchSpec | None = None
    col: str | None = None
    keys: list[str] = field(default_factory=list)
    n_buckets: int = 64
    checkpoint_dir: str = "/tmp/sketch_checkpoints"
    snapshot_id: str = "snap-0"
    bucket_cols: list[str] | None = None  # stable row identity; None = all cols
    sketches: dict[str, tuple[str, SketchSpec]] | None = None  # {name: (col, spec)}

    def __post_init__(self):
        if self.sketches is None and self.spec is not None and self.col is not None:
            self.sketches = {STATE_COL: (self.col, self.spec)}
        elif not self.sketches or self.spec is not None or self.col is not None:
            raise ValueError("CheckpointedSketchJob takes sketches={name: (col, spec)} "
                             "or spec= with col=, not both or neither")
        self.specs = {name: spec for name, (_, spec) in self.sketches.items()}

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
        blobs = [c for c in partials.columns if c not in ("bucket", *self.keys, "rows_seen", "state_sha256")]
        if blobs != list(self.specs):
            # a done bucket holds no state for a sketch the table lacks:
            # resuming would skip that sketch's build for those buckets
            raise ValueError(f"checkpoint table {self.partials_path} holds sketches {blobs}, "
                             f"the job builds {list(self.specs)}: use a new snapshot id")
        rows = partials.select("bucket").distinct().collect()
        return {r["bucket"] for r in rows}

    # ------------------------------------------------------------ phase A

    def _partials(self, df: DataFrame, todo: list[int]) -> DataFrame:
        """Phase A's plan for buckets ``todo``: one (bucket, keys...,
        <name>..., rows_seen, state_sha256) row per (bucket, key) — the
        partition-local build of every sketch in one scan, then one fold
        of its per-task partials in build-task order.  A build over
        exactly one partition finalizes in its kernel instead and needs
        no fold (``_build``'s one-task shortcut)."""
        keys = ["__bucket", *self.keys]
        bucketed = self._with_bucket(df).where(F.col("__bucket").isin(todo))
        parts, finalized = _build(bucketed, keys, self.sketches, rows=True, final=True)
        if not finalized:
            # shuffled by bucket alone: one task folds (and writes) every
            # key of a bucket, so a bucket is one file — the unit of "done"
            parts = _fold_level(parts.withColumn("__task", F.spark_partition_id()), keys,
                                self.specs, order=["__task"], by=["__bucket"])
        return parts.select(F.col("__bucket").alias("bucket"), *self.keys, *self.specs,
                            F.col("__rows").alias("rows_seen"),
                            F.sha2(F.concat(*self.specs), 256).alias("state_sha256"))

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
        partials = self._partials(df, todo)
        partials.write.mode("append").parquet(self.partials_path)
        # buckets with ZERO matching rows produce no partial row —
        # without a marker they would never be "done" and every resume
        # would re-scan the full input for them forever.  Append a
        # marker row (keys null, one empty blob per sketch, rows_seen=0)
        # for each; the keyed final_merge filters markers out, the global
        # path folds them as the monoid identity.
        covered = self._done_buckets()
        missing = [b for b in todo if b not in covered]
        if missing:
            blobs = [spec.new().to_bytes() for spec in self.specs.values()]
            digest = hashlib.sha256(b"".join(blobs)).hexdigest()
            marker_rows = [(b, *[None] * len(self.keys), *blobs, 0, digest) for b in missing]
            # key fields may be non-nullable in the source schema; the
            # markers deliberately carry null keys, so relax nullability
            marker_schema = T.StructType([
                T.StructField(f.name, f.dataType, True) for f in partials.schema.fields
            ])
            (_local_frame(self.spark, marker_schema, marker_rows)
             .write.mode("append").parquet(self.partials_path))
        return len(todo)

    # ------------------------------------------------------------ phase B

    def final_merge(self) -> DataFrame:
        """Fold all checkpointed partials in bucket order → one row per
        key group: (keys..., <name>..., rows_seen); a global job gives
        exactly one row, even on empty input."""
        partials = self.spark.read.parquet(self.partials_path)
        if self.keys:
            # drop the empty-bucket marker rows (null keys, rows_seen=0):
            # they exist only to mark lineage coverage, not key groups
            partials = partials.where(F.col("rows_seen") > 0)
        # bucket order pins the fold: digest bytes (t-digest, KLL) must
        # not depend on shuffle arrival
        merged = _fold_level(partials.withColumnRenamed("rows_seen", "__rows"), self.keys,
                             self.specs, order=["bucket"])
        return merged.withColumnRenamed("__rows", "rows_seen")

    def run(self, df: DataFrame) -> DataFrame:
        """Build any missing partials, then merge. Safe to re-invoke
        after a kill at any point."""
        self.build_partials(df)
        return self.final_merge()

    def metrics(self) -> DataFrame:
        """Per-bucket lineage/metrics rows (the ops surface)."""
        return self.spark.read.parquet(self.partials_path).select(
            "bucket", *self.keys, "rows_seen", "state_sha256")

