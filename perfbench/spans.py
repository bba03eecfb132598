"""Measurement plumbing kept outside the library: spans recorded around
layer calls, a peak-RSS sampler over the Spark process tree, and the
engine counters of the benchmark's own session read from Spark's
status REST API."""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import statistics
import threading
import time
import urllib.parse
import urllib.request


class Tracer:
    """Spans kept in memory: name ``<workload>/<op>[/<layer>]``, start,
    end, parent span and the op instance (trace) they belong to.  A
    span may carry counts recorded at the same boundary."""

    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, trace: int, **counts):
        rec = {"id": next(self._ids), "trace": trace, "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "counts": dict(counts)}
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)

    def self_times(self) -> dict[int, float]:
        """Span id -> duration less the part its child spans cover."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child.get(s["id"], 0.0) for s in self.spans}

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _children() -> dict[int, list[int]]:
    """Parent pid -> child pids of every process in /proc."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    """Every process below ``pid`` in the process tree."""
    kids, out, todo = _children(), [], [pid]
    while todo:
        below = kids.get(todo.pop(), [])
        out += below
        todo += below
    return out


def alive(pids) -> set[int]:
    """The pids of ``pids`` that still run (zombies count as ended)."""
    out = set()
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if stat[stat.rindex(")") + 2] != "Z":
            out.add(pid)
    return out


def tree_rss_bytes(pid: int) -> tuple[int, int]:
    """Resident bytes of ``pid`` alone and with all its descendants."""
    page = os.sysconf("SC_PAGE_SIZE")
    own = total = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/statm") as f:
                rss = int(f.read().split()[1]) * page
        except OSError:
            continue
        total += rss
        if p == pid:
            own = rss
    return own, total


#: thread names (as /proc truncates them) of the JVM's JIT compilers
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _cpu_ticks(stat: str) -> int:
    """utime + stime + cutime + cstime of one /proc stat line."""
    return sum(int(x) for x in stat[stat.rindex(")") + 2:].split()[11:15])


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def tree_cpu_s(pid: int) -> tuple[float, float]:
    """CPU seconds (user and system) spent by ``pid`` and its descendants,
    those that have exited and were waited for included, and the part of
    it spent in JVM JIT compiler threads.  Time the hypervisor stole from
    the machine is in neither.  The JIT part is right only while compiler
    threads never exit (``-XX:-UseDynamicNumberOfCompilerThreads``)."""
    total = jit = 0
    for p in [pid] + descendants(pid):
        stat = _read(f"/proc/{p}/stat")
        if stat is None:
            continue
        total += _cpu_ticks(stat)
        if stat[stat.index("(") + 1:stat.rindex(")")] != "java":
            continue
        for tid in os.listdir(f"/proc/{p}/task") if os.path.isdir(f"/proc/{p}/task") else ():
            t = _read(f"/proc/{p}/task/{tid}/stat")
            if t and t[t.index("(") + 1:t.rindex(")")].startswith(JIT_THREADS):
                jit += _cpu_ticks(t)
    hz = os.sysconf("SC_CLK_TCK")
    return total / hz, jit / hz


class RssSampler:
    """Peak resident size of a process tree, sampled on a thread: of the
    whole tree, of its root and of the root's descendants."""

    def __init__(self, pid: int, interval: float = 0.05):
        self.pid, self.interval = pid, interval
        #: peak bytes of the whole tree, of the root alone, of its descendants
        self.peak = self.peak_root = self.peak_children = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while True:
            self._sample()
            if self._stop.wait(self.interval):
                return

    def _sample(self):
        own, total = tree_rss_bytes(self.pid)
        self.peak, self.peak_root = max(self.peak, total), max(self.peak_root, own)
        self.peak_children = max(self.peak_children, total - own)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


class SparkRest:
    """Stage counters of one application from the status REST API."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = urllib.parse.urlparse(sc.uiWebUrl).port
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def _settle(self, spark):
        # the status store is fed by an asynchronous listener
        tracker = spark.sparkContext.statusTracker()
        while tracker.getActiveStageIds():
            time.sleep(0.05)
        time.sleep(0.5)

    def last_stage_id(self, spark) -> int:
        self._settle(spark)
        return max((s["stageId"] for s in self._get("/stages")), default=-1)

    def counters(self, spark, after: int, passes: int) -> dict[str, float]:
        """Engine counters of the stages after stage ``after``, per pass."""
        self._settle(spark)
        stages = [s for s in self._get("/stages?status=complete") if s["stageId"] > after]
        skew = 1.0
        for s in stages:
            if s["numCompleteTasks"] < 4:
                continue
            tasks = self._get(f"/stages/{s['stageId']}/{s['attemptId']}/taskList?length=100000")
            run = [t["taskMetrics"]["executorRunTime"] for t in tasks if t.get("taskMetrics")]
            med = statistics.median(run) if run else 0
            if med > 0:
                skew = max(skew, max(run) / med)
        per = max(passes, 1)
        return {
            "spark.stages": len(stages) / per,
            "spark.tasks": sum(s["numCompleteTasks"] for s in stages) / per,
            "spark.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages) / per,
            "spark.shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages) / per,
            "spark.executor_run_s": sum(s["executorRunTime"] for s in stages) / 1000 / per,
            "spark.task_skew": skew,
        }
