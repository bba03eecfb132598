"""SparkSession helpers: build a tuned local session and ship the
library to executors.

On a real cluster the library is distributed with
``spark-submit --py-files stream_lib_spark.zip job.py`` (north rule).
``ensure_shipped`` automates the same mechanism for interactive /
driver-created sessions: it zips the installed package and registers it
with ``sc.addPyFile`` so executor Python workers can unpickle our UDF
closures regardless of the driver's cwd/PYTHONPATH.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_SHIPPED = set()


def package_zip() -> str:
    """Zip the stream_lib_spark package into a temp file and return the
    path.  The zip is named after the package directory, so two
    checkouts on one machine never ship each other's code (executors
    import the ``addPyFile`` zip ahead of ``PYTHONPATH``), and rebuilt
    when older than the package's newest ``.py``."""
    import stream_lib_spark

    pkg_dir = os.path.dirname(os.path.abspath(stream_lib_spark.__file__))
    if not os.path.isdir(pkg_dir):
        # the package is already running FROM a --py-files zip (e.g.
        # inside a spark-submitted driver): that zip is the artifact
        zip_path = pkg_dir
        while zip_path and not zip_path.lower().endswith(".zip"):
            parent = os.path.dirname(zip_path)
            if parent == zip_path:  # filesystem root: dirname('/') == '/'
                zip_path = ""
                break
            zip_path = parent
        if zip_path and os.path.isfile(zip_path):
            return zip_path
        raise RuntimeError(f"cannot locate package source at {pkg_dir}")
    tree = hashlib.sha1(pkg_dir.encode()).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"stream_lib_spark-pyfiles-{tree}.zip")
    newest_src = max(
        os.path.getmtime(os.path.join(root, f))
        for root, _d, files in os.walk(pkg_dir)
        for f in files
        if f.endswith(".py")
    )
    if not os.path.exists(out) or os.path.getmtime(out) < newest_src:
        # per-process temp name: two concurrent drivers rebuilding the
        # stale zip must not interleave writes into one file before the
        # atomic publish
        tmp = f"{out}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                if "__pycache__" in root:
                    continue
                for f in files:
                    if not f.endswith(".py"):
                        continue
                    full = os.path.join(root, f)
                    rel = os.path.join("stream_lib_spark", os.path.relpath(full, pkg_dir))
                    zf.write(full, rel)
        os.replace(tmp, out)
    return out


def ensure_shipped(spark: SparkSession) -> None:
    """Make stream_lib_spark importable on executors (idempotent)."""
    sc = spark.sparkContext
    key = sc.applicationId
    if key in _SHIPPED:
        return
    sc.addPyFile(package_zip())
    _SHIPPED.add(key)


def half_mem_total_mb() -> int:
    """Half of this machine's physical memory (MemTotal), in MiB."""
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (2 << 20)


def get_spark(app_name: str = "stream_lib_spark", cpus: int | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Tuned local session (sandbox stand-in for the cluster deploy;
    see /opt/skills/guides/pyspark_guide.md session pattern).
    ``extra_conf``: additional spark confs (e.g. executor-container JVM
    sizing flags for the scaling harness).  Sized from the box unless
    ``$SPARK_GRAFT_CPUS`` / ``$SPARK_GRAFT_DRIVER_MEM`` say otherwise:
    one task slot per CPU this process may run on, a driver of half of
    MemTotal."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = SparkSession.builder
    spark = (
        builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{half_mem_total_mb()}m")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # r8: let AQE convert a shuffle join to broadcast when the
        # RUNTIME-measured build side is <= this (static planning keeps
        # the conservative 10m default).  Gated on actual stage stats,
        # so it self-disables at scale: a 100-TB signature/gram table
        # measures far above the bound and keeps its shuffle join,
        # while the same query on a small slice skips two exchanges.
        # 64m is modest executor memory anywhere (guide §3.1); override
        # per deployment via SPARK_GRAFT_ADAPTIVE_BCAST.
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold",
                os.environ.get("SPARK_GRAFT_ADAPTIVE_BCAST", "64m"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
    )
    # extra_conf wins over the defaults above (e.g. the skew bench
    # re-enables the UI for its task-metrics REST reads)
    for k, v in (extra_conf or {}).items():
        spark = spark.config(k, v)
    spark = spark.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensure_shipped(spark)
    return spark
