"""Benchmark of the sketch library on seeded transcript tables.

    python3 perfbench/run.py --workload global_build --seed 7 --seconds 10 --trace 0
    python3 perfbench/run.py --selfcheck

Run from a checkout of the repository.  One run builds a session of one
task per two CPUs with memory sized from the box, generates (or reuses)
the seeded input table and its DuckDB oracle, sets the session up
several times, makes untimed warm passes for ``WARM_SECONDS``, then
makes passes over the workload's op list as one client in a closed loop
for ``--seconds``.  Every op's output is checked against the oracle.
The timed figures are CPU seconds of the whole process tree (driver,
JVM, Python workers) outside the JVM's JIT compilers; wall times are in
the report.  The last stdout line is one JSON object: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it is a fuller report (box, sample counts, wall and
tail figures, failure fraction, error over bound, per-op layer sums).
All files go to ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import itertools
import json
import os
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

#: the session is set up this many times per run; setup_s is the median
SETUPS = 3

#: untimed passes run for at least this long before the timed ones, so
#: that the JVM has compiled the ops' code paths
WARM_SECONDS = 6

END_TO_END = {
    "cpu_s": "s",
    "turns_per_cpu_s": "1/s",
    "setup_s": "s",
    "worker_rss_mb": "MB",
}


def _per_layer_units() -> dict[str, str]:
    units = {}
    for kind in ("hll", "cms", "tdigest", "kll", "bloom", "spacesaving"):
        units.update({
            f"sketches.{kind}.update_ns_per_row": "ns",
            f"sketches.{kind}.merge_us": "us",
            f"sketches.{kind}.to_bytes_us": "us",
            f"sketches.{kind}.from_bytes_us": "us",
            f"sketches.{kind}.state_bytes": "bytes",
        })
    units.update({
        "hashing.xxhash64_long_ns_per_row": "ns",
        "hashing.murmur64a_chunked_ns_per_row": "ns",
        "agg.plan_s": "s",
        "agg.direct_share": "ratio",
        "agg.build_s": "s",
        "agg.build_rows_per_s": "1/s",
        "agg.n_partials": "count",
        "agg.partial_bytes": "bytes",
        "agg.merge_s": "s",
        "agg.collect_s": "s",
        "functions.approx_topk_s": "s",
        "functions.approx_quantiles_s": "s",
        "functions.bloom_build_s": "s",
        "jobs.run_sketches.main_s": "s",
        "jobs.checkpoint.build_partials_s": "s",
        "jobs.checkpoint.final_merge_s": "s",
        "jobs.checkpoint.partials_bytes": "bytes",
        "jobs.session.get_spark_s": "s",
        "jvm.jit_cpu_s": "s",
        "transcripts.generate_s": "s",
        "spark.stages": "count",
        "spark.tasks": "count",
        "spark.shuffle_write_bytes": "bytes",
        "spark.shuffle_read_bytes": "bytes",
        "spark.executor_run_s": "s",
        "spark.task_skew": "ratio",
        "trace.layer_sum_over_wall": "ratio",
        "trace.overhead_s": "s",
    })
    return units


PER_LAYER = _per_layer_units()


def box() -> dict:
    """Cores and memory of this machine; the session is sized from them.

    The session runs one task per two CPUs: a running task keeps a JVM
    thread and its Python worker busy, so more tasks than that would
    measure the scheduler.  On a 4-CPU machine two tasks were as fast as
    four on both declared workloads, and two busy neighbour processes
    slowed ``global_build`` by about 15% against 33% with four tasks.
    """
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return {"cpus": cpus, "cores": max(1, cpus // 2), "mem_total_mb": mem_kb // 1024,
            "driver_mem_mb": max(1024, mem_kb // 1024 // 4)}


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile with at least ten
    samples beyond it; with fewer than eleven samples, the maximum."""
    s = sorted(samples)
    n = len(s)
    if n < 11:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


class Run:
    def __init__(self, args, spec: dict):
        from perfbench import workloads

        self.args, self.box = args, spec
        self.workload = args.workload
        self.n_convs = 300 if args.tiny else workloads.WORKLOADS[args.workload][0]
        self.attempted = self.failed = 0
        self.worst = 0.0
        self.failures: list[str] = []
        self._trace_ids = itertools.count(1)

    # ------------------------------------------------------------ session

    def session(self, trace: bool):
        """(session, get_spark seconds, set-up seconds, set-up CPU seconds)."""
        from stream_lib_spark.agg import SketchSpec, collect_sketch, sketch_agg
        from stream_lib_spark.jobs.session import get_spark

        conf = {
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": "true" if trace else "false",
        }
        cores = self.box["cores"]
        c0, t0 = _cpu()[0], time.perf_counter()
        spark = get_spark("perfbench", cpus=cores, extra_conf=conf)
        t1 = time.perf_counter()
        # warm-up: start a Python worker per core and ship the package
        n = 1 << 18
        est = collect_sketch(sketch_agg(spark.range(0, n, 1, cores), [], "id",
                                        SketchSpec("hll", p=14))).cardinality()
        if abs(est - n) > 0.05 * n:
            raise RuntimeError(f"warm-up hll estimate {est} for {n} ids")
        return spark, t1 - t0, time.perf_counter() - t0, _cpu()[0] - c0

    # ------------------------------------------------------------ passes

    def record(self, op, result, where: str) -> None:
        from perfbench.checks import CheckFailed

        self.attempted += 1
        try:
            if isinstance(result, BaseException):
                raise result
            ratio = op.check(self.ctx, result)
            self.worst = max(self.worst, ratio)
            if ratio > 1.0:
                raise CheckFailed(f"error {ratio:.3f} x its bound")
        except Exception as e:  # an op that raised or broke its bound
            self.failed += 1
            msg = f"{where}/{op.name}: {type(e).__name__}: {e}"
            self.failures.append(msg)
            print(f"FAILED {msg}", file=sys.stderr)
            traceback.print_exception(e, file=sys.stderr)

    def one_pass(self, ops, tracer=None, label="pass") -> dict[str, float]:
        walls = {}
        for op in ops:
            op.prepare(self.ctx)
            trace_id = next(self._trace_ids)
            t0 = time.perf_counter()
            try:
                if tracer:
                    prefix = f"{self.workload}/{op.name}"
                    with tracer.span(prefix, trace_id, **{"pass": label}):
                        result = op.traced(self.ctx, tracer, trace_id, prefix)
                else:
                    result = op.run(self.ctx)
            except Exception as e:  # counted and reported by record()
                result = e
            walls[op.name] = time.perf_counter() - t0
            self.record(op, result, label)
        return walls

    def passes(self, ops, seconds: float, tracer=None):
        """Op walls of each pass, and per pass the CPU seconds spent by
        this process, the JVM and the Python workers outside the JVM's
        JIT compilers, and in them."""
        out, cpu, jit = [], [], []
        end = time.perf_counter() + seconds
        while not out or time.perf_counter() < end:
            c0, j0 = _cpu()
            out.append(self.one_pass(ops, tracer, f"pass{len(out)}"))
            c1, j1 = _cpu()
            cpu.append(c1 - c0)
            jit.append(j1 - j0)
        return out, cpu, jit

    # ------------------------------------------------------------ main

    def main(self) -> dict:
        from perfbench import inputs, workloads

        args, trace = self.args, bool(self.args.trace)
        report: dict = {"workload": self.workload, "seed": args.seed,
                        "seconds": args.seconds, "trace": int(trace), "box": self.box}
        layer: dict[str, float] = {}
        if trace:  # before the JVM starts, so nothing competes with it
            from perfbench.kernels import kernel_table

            layer.update(kernel_table(args.seed, rows=1 << 14 if args.tiny else 1 << 19))

        setups, setups_cpu, get_spark_s = [], [], []
        report["phase_s"] = {}
        t_start = time.perf_counter()
        try:
            spark, g, s, c = self.session(trace)
            setups.append(s)
            setups_cpu.append(c)
            get_spark_s.append(g)
            table = inputs.ensure_table(spark, os.path.join(WORK, "inputs"),
                                        self.n_convs, args.seed, self.box["cores"])
            generate_s = table.meta["generate_s"]
            if trace and not table.fresh:  # every traced run measures it
                generate_s = inputs.time_generation(spark, os.path.join(WORK, "scratch"),
                                                    self.n_convs, args.seed, self.box["cores"])
            for _ in range(SETUPS - 1):
                spark.stop()
                _wait_python_gone()
                spark, g, s, c = self.session(trace)
                setups.append(s)
                setups_cpu.append(c)
                get_spark_s.append(g)
            self.ctx = workloads.Ctx(spark, table, os.path.join(WORK, "scratch"),
                                     self.box["cores"])
            ops = workloads.make_ops(self.workload, self.ctx)
            warm_end = time.perf_counter() + WARM_SECONDS
            self.one_pass(ops, label="warm")
            while time.perf_counter() < warm_end:
                self.one_pass(ops, label="warm")
            report["phase_s"]["setup"] = time.perf_counter() - t_start
            report["table"] = {"rows": table.rows, "convs": table.n_convs,
                               "generate_s": generate_s, "cached": not table.fresh}
            report["versions"] = _versions(spark)
            if trace:
                self.traced_run(ops, layer, report)
                layer["jobs.session.get_spark_s"] = statistics.median(get_spark_s)
                layer["transcripts.generate_s"] = generate_s
                metrics = {k: layer[k] for k in PER_LAYER}
            else:
                from perfbench.spans import RssSampler

                with RssSampler(_jvm_pid()) as rss:
                    untraced, cpu, jit = self.passes(ops, args.seconds)
                report["pass_jit_cpu_s"] = jit
                metrics = self.end_to_end(untraced, cpu, setups, setups_cpu, rss.peak_children,
                                          table.rows, report)
                report["peak_rss_mb"] = rss.peak / 2**20
                report["peak_rss_jvm_mb"] = rss.peak_root / 2**20
            report["phase_s"]["measure"] = time.perf_counter() - t_start - report["phase_s"]["setup"]
        finally:
            _teardown()
        report["attempted"], report["failed"] = self.attempted, self.failed
        report["ops_failed_frac"] = self.failed / max(self.attempted, 1)
        report["err_over_bound"] = self.worst
        report["setups_s"] = setups
        report["setups_cpu_s"] = setups_cpu
        report["get_spark_s"] = get_spark_s
        report["failures"] = self.failures
        return {"report": report, "metrics": metrics}

    def end_to_end(self, untraced, cpu, setups, setups_cpu, worker_rss, rows,
                   report) -> dict[str, float]:
        walls = [sum(p.values()) for p in untraced]
        wall = statistics.median(walls)
        tail_v, tail_p = tail(walls)
        cpu_s = statistics.median(cpu)
        report.update({
            "samples": len(walls), "pass_walls_s": walls, "pass_cpu_s": cpu,
            "tail_percentile": tail_p,
            "op_median_s": {k: statistics.median(p[k] for p in untraced) for k in untraced[0]},
            "cpu_tail_s": tail(cpu)[0],
            "wall_s": wall, "wall_tail_s": tail_v, "turns_per_s": rows / wall,
            "setup_wall_s": statistics.median(setups),
        })
        return {
            "cpu_s": cpu_s,
            "turns_per_cpu_s": rows / cpu_s,
            "setup_s": statistics.median(setups_cpu),
            "worker_rss_mb": worker_rss / 2**20,
        }

    def traced_run(self, ops, layer: dict, report: dict) -> None:
        """Half the time untraced (the base, and the engine counters
        from the REST API), half traced; then probes for the layer
        groups this workload's ops do not reach."""
        from perfbench import workloads
        from perfbench.spans import SparkRest, Tracer

        spark = self.ctx.spark
        rest = SparkRest(spark)
        first = rest.last_stage_id(spark)
        untraced, _, jit = self.passes(ops, self.args.seconds / 2)
        layer["jvm.jit_cpu_s"] = statistics.median(jit)
        layer.update(rest.counters(spark, first, len(untraced)))
        tr = Tracer()
        traced, _, _ = self.passes(ops, self.args.seconds / 2, tr)
        fn_walls: dict[str, list[float]] = {}
        for op in ops:
            if op.functions_layer:
                fn_walls.setdefault(op.functions_layer, []).extend(p[op.name] for p in untraced)
        for mode, op in workloads.probe_ops(self.workload, self.ctx):
            if mode == "functions":
                op.prepare(self.ctx)
                t0 = time.perf_counter()
                try:
                    result = op.run(self.ctx)
                except Exception as e:  # counted and reported by record()
                    result = e
                fn_walls.setdefault(op.functions_layer, []).append(time.perf_counter() - t0)
                self.record(op, result, "probe")
            else:
                self.one_pass([op], tr, "probe")
        for name, walls in fn_walls.items():
            layer[f"{name}_s"] = statistics.median(walls)
        layer.update(_layer_metrics(tr))
        base = {k: statistics.median(p[k] for p in untraced) for k in untraced[0]}
        sums = _op_layer_sums(tr)
        report["op_layer_sum_over_wall"] = {
            op: {"layer_sum_s": statistics.median(v), "untraced_wall_s": base[op],
                 "ratio": statistics.median(v) / base[op]}
            for op, v in sums.items() if op in base}
        traced_walls = [sum(p.values()) for p in traced]
        untraced_walls = [sum(p.values()) for p in untraced]
        layer_sum = sum(statistics.median(v) for op, v in sums.items() if op in base)
        layer["trace.overhead_s"] = statistics.median(traced_walls) - statistics.median(untraced_walls)
        layer["trace.layer_sum_over_wall"] = layer_sum / statistics.median(untraced_walls)
        report["traced_pass_walls_s"] = traced_walls
        report["untraced_pass_walls_s"] = untraced_walls
        path = os.path.join(WORK, f"spans-{self.workload}-seed{self.args.seed}.json")
        tr.write(path)
        report["spans"] = os.path.relpath(path, ROOT)


def _layer_of(span) -> str | None:
    parts = span["name"].split("/")
    return parts[2] if len(parts) == 3 else None


def _pass_of(tr) -> dict[int, str]:
    return {s["trace"]: s["counts"]["pass"] for s in tr.spans if "pass" in s["counts"]}


def _op_layer_sums(tr) -> dict[str, list[float]]:
    """Op name -> layer self-time sum of each traced instance of it
    (``trace.*`` spans excluded), for ops run in the timed passes."""
    self_t, passes = tr.self_times(), _pass_of(tr)
    sums: dict[tuple[int, str], float] = {}
    for s in tr.spans:
        layer = _layer_of(s)
        if layer and not layer.startswith("trace.") and passes[s["trace"]] != "probe":
            key = (s["trace"], s["name"].split("/")[1])
            sums[key] = sums.get(key, 0.0) + self_t[s["id"]]
    out: dict[str, list[float]] = {}
    for (_, op), v in sums.items():
        out.setdefault(op, []).append(v)
    return out


def _layer_metrics(tr) -> dict[str, float]:
    """Per-pass sums of each layer's self time and counts, as the median
    over the passes (probes count as one pass) in which the layer ran."""
    self_t, passes = tr.self_times(), _pass_of(tr)
    per: dict[str, dict[str, float]] = {}
    for s in tr.spans:
        layer = _layer_of(s)
        if not layer:
            continue
        acc = per.setdefault(passes[s["trace"]], {})
        acc[layer] = acc.get(layer, 0.0) + self_t[s["id"]]
        for k, v in s["counts"].items():
            acc[f"#{k}"] = acc.get(f"#{k}", 0.0) + v

    def med(fn):
        vals = [v for v in (fn(acc) for acc in per.values()) if v is not None]
        return statistics.median(vals) if vals else 0.0

    def ratio(num, den):
        return lambda a: a[num] / a[den] if a.get(den) else None

    out = {f"{name}_s": med(lambda a, n=name: a.get(n)) for name in (
        "agg.plan", "agg.build", "agg.merge", "agg.collect", "jobs.run_sketches.main",
        "jobs.checkpoint.build_partials", "jobs.checkpoint.final_merge")}
    out["agg.build_rows_per_s"] = med(ratio("#rows", "agg.build"))
    out["agg.direct_share"] = med(ratio("#direct", "#builds"))
    out["agg.n_partials"] = med(lambda a: a.get("#n_partials"))
    out["agg.partial_bytes"] = med(lambda a: a.get("#partial_bytes"))
    out["jobs.checkpoint.partials_bytes"] = med(lambda a: a.get("#checkpoint_partials_bytes"))
    return out


def _versions(spark) -> dict:
    import duckdb
    import numpy
    import pandas
    import pyarrow

    return {"spark": spark.version, "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__, "pandas": pandas.__version__,
            "duckdb": duckdb.__version__, "python": sys.version.split()[0]}


def _cpu() -> tuple[float, float]:
    """CPU seconds of this process and its descendants outside the JVM's
    JIT compiler threads, and in them."""
    from perfbench.spans import tree_cpu_s

    total, jit = tree_cpu_s(os.getpid())
    return total - jit, jit


def _jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _wait_python_gone() -> None:
    """Wait (at most 30 s) until the Python processes of a stopped session
    have ended.  A set-up's CPU count starts after that: a process that
    leaves the tree while it is counted takes its CPU time with it."""
    from perfbench.spans import alive, descendants

    deadline = time.monotonic() + 30
    while alive(descendants(_jvm_pid())) and time.monotonic() < deadline:
        time.sleep(0.05)


def _teardown() -> None:
    """Stop the session, end the gateway JVM, and wait until every
    process this run started has exited; kill what is left after 30 s."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from perfbench.spans import alive, descendants

    # taken first: a worker whose parent has exited leaves our process tree
    started = set(descendants(os.getpid()))
    gateway = SparkContext._gateway
    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while (left := alive(started | set(descendants(os.getpid())))) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in left:
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)
    while alive(left) and time.monotonic() < deadline + 10:
        time.sleep(0.1)


def _environment(spec: dict) -> None:
    for d in ("tmp", "spark-local", "scratch", "inputs"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # every JVM, spark-submit's launcher included: temp files in the
    # checkout, no hsperfdata file under /tmp, and JIT compiler threads
    # that never exit (so that tree_cpu_s can tell their CPU time apart)
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
                                       " -XX:-UseDynamicNumberOfCompilerThreads")
    os.environ["SPARK_GRAFT_CPUS"] = str(spec["cores"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{spec['driver_mem_mb']}m"
    os.environ["PYSPARK_PYTHON"] = sys.executable


def selfcheck() -> int:
    """Run every workload (those of BENCHMARK.json and ``sketch_job``)
    once on tiny inputs, untraced and traced, and check that each emits
    every metric of BENCHMARK.json with its unit and no failed op."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    from perfbench.workloads import WORKLOADS

    problems = []
    for w in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
                   "--seed", "1", "--seconds", "1", "--trace", str(trace), "--tiny"]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode or not lines:
                problems.append(f"{w} trace={trace}: exit {proc.returncode}\n"
                                f"{proc.stderr[-3000:]}")
                continue
            res, report = json.loads(lines[-1]), json.loads(lines[-2])["report"]
            for m in bench[key]:
                got = res["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"]:
                    problems.append(f"{w} trace={trace}: {m['name']} -> {got}")
            if not res["correct"] or res["failed"] or report["ops_failed_frac"] != 0:
                problems.append(f"{w} trace={trace}: failures {report['failures']}")
            print(f"{w} trace={trace}: ok={not problems} attempted={res['attempted']}",
                  flush=True)
    for p in problems:
        print(p, file=sys.stderr)
    print(json.dumps({"selfcheck": not problems}))
    return 1 if problems else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=["global_build", "keyed_merge", "sketch_job"])
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true", help="300-conversation inputs")
    ap.add_argument("--selfcheck", action="store_true",
                    help="run every workload once on tiny inputs and check the output")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "stream_lib_spark", "__init__.py")):
        print(f"stream_lib_spark not found under {ROOT}: run from a checkout of the "
              "repository", file=sys.stderr)
        return 2
    # import the benchmark as a package from the checkout root, not as
    # loose modules from the script directory
    sys.path[0] = ROOT
    if args.selfcheck:
        return selfcheck()
    if not args.workload:
        ap.error("--workload is required")
    spec = box()
    _environment(spec)
    out = Run(args, spec).main()
    rep = out["report"]
    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({"report": rep}))
    print(json.dumps({
        "correct": rep["failed"] == 0,
        "attempted": rep["attempted"],
        "failed": rep["failed"],
        "metrics": {k: {"value": out["metrics"][k], "unit": u} for k, u in units.items()},
    }))
    return 0 if rep["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
