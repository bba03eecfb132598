"""The workloads: ops run back to back by one client, each through the
library's public entry points.

An op has an untraced form (the single public call a user makes) and a
traced form that makes the same computation as a sequence of layer
calls, each under a span named ``<workload>/<op>/<layer>``:

- ``agg.plan``: ``sketch_partials`` before any action (plan probe and
  parquet footer reads);
- ``agg.build``: the partials run into the noop sink;
- ``agg.merge``: ``merge_partials`` over pre-materialized partials
  (for a global aggregate below the fan-in threshold this only plans:
  the fold happens on the driver inside ``collect_sketch``; a keyed
  merge is fetched to the driver here, as the untraced form fetches it);
- ``agg.collect``: the driver's finish, estimate / quantile / top-k
  included: ``collect_sketch`` for a global aggregate, decoding each
  fetched row for a keyed one;
- ``jobs.*``: the job entry points, one span per call;
- ``trace.materialize``: work only the traced form does (collecting and
  re-creating the partials); it is left out of every layer sum.
"""

from __future__ import annotations

import contextlib
import io
import os
import shutil

import numpy as np

from stream_lib_spark import functions as fn
from stream_lib_spark.agg import (
    STATE_COL,
    SketchSpec,
    collect_sketch,
    merge_partials,
    sketch_agg,
    sketch_from_bytes,
    sketch_partials,
)

from . import checks
from .checks import QUANTILES

TOPK = 10


class Ctx:
    """What an op needs: the live session (replaced by each set-up),
    the seeded table with its oracle, a scratch directory and the
    core count."""

    def __init__(self, spark, table, scratch: str, cores: int):
        self.spark, self.table, self.scratch, self.cores = spark, table, scratch, cores

    def df(self):
        return self.spark.read.parquet(self.table.data)


class Op:
    name = ""
    #: the ``functions`` call the untraced form is, if any
    functions_layer: str | None = None

    def prepare(self, ctx: Ctx) -> None:
        """Untimed reset before each run (e.g. an output directory)."""

    def run(self, ctx: Ctx):
        raise NotImplementedError

    def traced(self, ctx: Ctx, tr, trace: int, prefix: str):
        raise NotImplementedError

    def check(self, ctx: Ctx, result) -> float:
        raise NotImplementedError


class AggOp(Op):
    """One sketch aggregation: global (finalized on the driver) or keyed
    (the merged per-key rows collected to the driver and decoded there).
    ``finalize`` turns the collected sketch (global) or rows (keyed) into
    the op's answer."""

    def __init__(self, name, keys, col, spec, untraced, finalize, check,
                 functions_layer=None):
        self.name, self.keys, self.col, self.spec = name, keys, col, spec
        self._untraced, self._finalize, self._check = untraced, finalize, check
        self.functions_layer = functions_layer

    def run(self, ctx):
        return self._untraced(ctx)

    def traced(self, ctx, tr, trace, prefix):
        df = ctx.df()
        with tr.span(f"{prefix}/agg.plan", trace):
            parts = sketch_partials(df, self.keys, self.col, self.spec)
        with tr.span(f"{prefix}/agg.build", trace, rows=ctx.table.rows):
            parts.write.format("noop").mode("overwrite").save()
        with tr.span(f"{prefix}/trace.materialize", trace) as rec:
            blobs = parts.toPandas()
            rec["counts"].update(
                builds=1, direct=int(not parts.inputFiles()), n_partials=len(blobs),
                partial_bytes=int(blobs[STATE_COL].map(len).sum()))
            pre = ctx.spark.createDataFrame(blobs, parts.schema)
        if not self.keys:
            with tr.span(f"{prefix}/agg.merge", trace):
                merged = merge_partials(pre, [], self.spec)
            with tr.span(f"{prefix}/agg.collect", trace):
                return self._finalize(collect_sketch(merged))
        with tr.span(f"{prefix}/agg.merge", trace):
            rows = merge_partials(pre, self.keys, self.spec).toPandas()
        with tr.span(f"{prefix}/agg.collect", trace):
            return self._finalize(rows)

    def check(self, ctx, result):
        return self._check(result)


def _quantiles(sk):
    return np.array([sk.quantile(q) for q in QUANTILES])


def _topk_rows(sk):
    return [(str(i), int(c), int(e)) for i, c, e in sk.top_k(TOPK)]


HLL = SketchSpec("hll", p=14)
CMS = SketchSpec("cms", eps=1e-3, confidence=0.99)
TDIGEST = SketchSpec("tdigest", compression=100.0)
KLL = SketchSpec("kll", k=200)
TOPK_CAPACITY = max(4 * TOPK, 64)  # approx_topk's default capacity


def global_ops(t) -> list[Op]:
    """Global sketches of table ``t``; the Bloom filter is sized for the
    conversations generated."""
    n_bloom = int(t.meta["n_convs"])
    return [
        AggOp("hll_conv_id", [], "conv_id", HLL,
              lambda ctx: collect_sketch(sketch_agg(ctx.df(), [], "conv_id", HLL)).cardinality(),
              lambda sk: sk.cardinality(),
              lambda r: checks.hll(r, t.n_convs)),
        AggOp("cms_tool", [], "tool", CMS,
              lambda ctx: collect_sketch(sketch_agg(ctx.df(), [], "tool", CMS))
              .estimate_hashed(t.tool_hashes),
              lambda sk: sk.estimate_hashed(t.tool_hashes),
              lambda r: checks.cms(r, t.tool_counts, CMS.new().eps)),
        AggOp("bloom_conv_id", [], "conv_id", SketchSpec("bloom", n_elements=n_bloom, fpp=0.01),
              lambda ctx: fn.bloom_build(ctx.df(), "conv_id", n_bloom, fpp=0.01),
              lambda sk: sk,
              lambda r: checks.bloom(r, t.conv_hashes),
              functions_layer="functions.bloom_build"),
        AggOp("tdigest_latency_s", [], "latency_s", TDIGEST,
              lambda ctx: np.array(fn.approx_quantiles(ctx.df(), "latency_s", list(QUANTILES))
                                   .collect()[0]),
              _quantiles,
              lambda r: checks.rank(t.latency_sorted, r),
              functions_layer="functions.approx_quantiles"),
        AggOp("kll_latency_s", [], "latency_s", KLL,
              lambda ctx: np.array(fn.approx_quantiles(ctx.df(), "latency_s", list(QUANTILES),
                                                       kind="kll").collect()[0]),
              _quantiles,
              lambda r: checks.rank(t.latency_sorted, r),
              functions_layer="functions.approx_quantiles"),
        AggOp("topk_tool", [], "tool", SketchSpec("spacesaving", capacity=TOPK_CAPACITY),
              lambda ctx: [(r["item"], r["count"], r["error"])
                           for r in fn.approx_topk(ctx.df(), "tool", TOPK).collect()],
              _topk_rows,
              lambda r: checks.topk(r, t.tools, t.tool_counts, TOPK_CAPACITY),
              functions_layer="functions.approx_topk"),
    ]


def _per_key(key: str, answer):
    """Finalize of a keyed op: {key: answer(sketch)} over the fetched rows."""
    def finalize(pdf):
        out = {k: answer(sketch_from_bytes(bytes(b)))
               for k, b in zip(pdf[key].tolist(), pdf[STATE_COL].tolist())}
        if len(out) != len(pdf):
            raise checks.CheckFailed(f"{len(pdf) - len(out)} repeated {key} rows")
        return out
    return finalize


def keyed_ops(t) -> list[Op]:
    def op(name, key, col, spec, answer, check):
        finalize = _per_key(key, answer)
        return AggOp(name, [key], col, spec,
                     lambda ctx: finalize(sketch_agg(ctx.df(), [key], col, spec).toPandas()),
                     finalize, lambda r: check(r, t))

    return [
        op("tdigest_latency_s_by_conv_id", "conv_id", "latency_s", TDIGEST,
           lambda sk: sk.quantiles(QUANTILES), checks.keyed_rank),
        op("hll_conv_id_by_tool", "tool", "conv_id", HLL,
           lambda sk: sk.cardinality(), checks.keyed_hll),
    ]


class CliOp(Op):
    """``jobs.run_sketches.main``, the spark-submit CLI: hll, tdigest,
    kll and top-k in one ``multi_sketch_agg`` scan, written to parquet."""

    name = "run_sketches_cli"
    TOPK_CAPACITY = 256
    OPS = ["hll:conv_id:p=14", "tdigest:latency_s:compression=100",
           "kll:latency_s:k=200", f"topk:tool:capacity={TOPK_CAPACITY}"]

    def _out(self, ctx):
        return os.path.join(ctx.scratch, "cli_out")

    def prepare(self, ctx):
        shutil.rmtree(self._out(ctx), ignore_errors=True)

    def run(self, ctx):
        from stream_lib_spark.jobs import run_sketches

        with contextlib.redirect_stdout(io.StringIO()):
            run_sketches.main(["--input", ctx.table.data, "--ops", *self.OPS,
                               "--output", self._out(ctx), "--cpus", str(ctx.cores)])
        return self._out(ctx)

    def traced(self, ctx, tr, trace, prefix):
        with tr.span(f"{prefix}/jobs.run_sketches.main", trace):
            return self.run(ctx)

    def check(self, ctx, out):
        import pyarrow.parquet as pq

        from stream_lib_spark.agg import sketch_from_bytes

        row = pq.read_table(out).to_pylist()
        if len(row) != 1:
            raise checks.CheckFailed(f"cli: {len(row)} output rows, expected 1")
        sk = {k: sketch_from_bytes(v) for k, v in row[0].items()}
        t = ctx.table
        return max(
            checks.hll(sk["hll_conv_id"].cardinality(), t.n_convs),
            checks.rank(t.latency_sorted, _quantiles(sk["tdigest_latency_s"])),
            checks.rank(t.latency_sorted, _quantiles(sk["kll_latency_s"])),
            checks.topk(_topk_rows(sk["spacesaving_tool"]), t.tools, t.tool_counts,
                        self.TOPK_CAPACITY),
        )


class CheckpointOp(Op):
    """``CheckpointedSketchJob``: build half the lineage buckets, resume
    for the rest, then ``final_merge`` (a tdigest of latency_s)."""

    name = "checkpoint_resume"
    BUCKETS = 8

    def _dir(self, ctx):
        return os.path.join(ctx.scratch, "checkpoint")

    def prepare(self, ctx):
        shutil.rmtree(self._dir(ctx), ignore_errors=True)

    def _job(self, ctx):
        from stream_lib_spark.jobs.checkpoint import CheckpointedSketchJob

        return CheckpointedSketchJob(
            spark=ctx.spark, spec=TDIGEST, col="latency_s", n_buckets=self.BUCKETS,
            checkpoint_dir=self._dir(ctx), snapshot_id="bench",
            bucket_cols=["conv_id", "turn_idx"])

    def run(self, ctx):
        job, df = self._job(ctx), ctx.df()
        job.build_partials(df, max_buckets=self.BUCKETS // 2)
        job.build_partials(df)
        row = job.final_merge().collect()[0]
        return bytes(row[STATE_COL]), int(row["rows_seen"])

    def traced(self, ctx, tr, trace, prefix):
        import pyarrow.parquet as pq

        job, df = self._job(ctx), ctx.df()
        with tr.span(f"{prefix}/jobs.checkpoint.build_partials", trace):
            job.build_partials(df, max_buckets=self.BUCKETS // 2)
        with tr.span(f"{prefix}/jobs.checkpoint.build_partials", trace):
            job.build_partials(df)
        with tr.span(f"{prefix}/jobs.checkpoint.final_merge", trace):
            row = job.final_merge().collect()[0]
        with tr.span(f"{prefix}/trace.materialize", trace) as rec:
            blobs = pq.read_table(job.partials_path, columns=[STATE_COL]).column(0)
            rec["counts"]["checkpoint_partials_bytes"] = sum(len(b) for b in blobs.to_pylist())
        return bytes(row[STATE_COL]), int(row["rows_seen"])

    def check(self, ctx, result):
        from stream_lib_spark.agg import sketch_from_bytes

        blob, rows_seen = result
        if rows_seen != ctx.table.rows:
            raise checks.CheckFailed(f"checkpoint: rows_seen {rows_seen} != {ctx.table.rows}")
        return checks.rank(ctx.table.latency_sorted, _quantiles(sketch_from_bytes(blob)))


def job_ops(t) -> list[Op]:
    return [CliOp(), CheckpointOp()]


#: name -> (conversations generated, op factory).  Every op of a
#: workload scans that workload's whole table once.  global_build's
#: table stays above the direct read's 1M-row floor; the keyed table is
#: small because the keyed fold is serial Python (README: Workloads).
WORKLOADS = {
    "global_build": (26_000, global_ops),
    "keyed_merge": (1_000, keyed_ops),
    "sketch_job": (1_000, job_ops),
}

#: which layer groups each workload's own ops reach; a traced run probes
#: the other groups once on its table so that every per-layer metric
#: is measured
GROUPS = {
    "global_build": {"agg", "functions"},
    "keyed_merge": {"agg"},
    "sketch_job": {"jobs"},
}


def make_ops(workload: str, ctx: Ctx) -> list[Op]:
    return WORKLOADS[workload][1](ctx.table)


def probe_ops(workload: str, ctx: Ctx) -> list[tuple[str, Op]]:
    """(mode, op) pairs for the layer groups the workload misses:
    mode "traced" runs the op's traced form, "functions" its untraced
    public call under one ``functions.*`` span."""
    have = GROUPS[workload]
    out: list[tuple[str, Op]] = []
    g = {op.name: op for op in global_ops(ctx.table)}
    if "agg" not in have:
        out += [("traced", g[n]) for n in
                ("hll_conv_id", "tdigest_latency_s", "kll_latency_s", "topk_tool")]
    if "functions" not in have:
        out += [("functions", g[n]) for n in
                ("bloom_conv_id", "tdigest_latency_s", "topk_tool")]
    if "jobs" not in have:
        out += [("traced", op) for op in job_ops(ctx.table)]
    return out
