"""Spark aggregation layer: sketch states as distributed aggregates.

Topology (the reference's advertised map-reduce contract,
``quantile/TDigest.java:48``, made explicit).  ONE pipeline serves every
entry point and any number of sketches per scan:

1. **projection** — one N-column projection: JVM-side hashing /
   casting of each requested column (``_project``).
2. **partial** — a batch source (the projected DataFrame, or the direct
   parquet row-group read) feeds ONE ``mapInArrow`` kernel (a global
   build is the zero-key case): vectorized numpy updates of one sketch
   per (grouping key) per task straight off the Arrow batches, emitted
   as one BinaryType column per sketch.  This is the map-side combine:
   the shuffle moves O(partitions × keys) sketch blobs, never rows.
3. **fan-in** — a global aggregate over more than 64 partials (the
   partition count read off the partials' physical plan by
   ``_n_partitions``; exact unless a scan waits on a subquery) gets an
   intermediate merge level of ~sqrt(n) buckets, which bounds
   reduce-side state (SURVEY.md §4 item 2); the pipeline sizes it, no
   caller does.  A keyed merge never gets one:
   its key repartition already spreads the fold over many reducers.
4. **merge** — fold partials with the sketch's monoid merge.  Every
   merge level (the fan-in level, the keyed fold, the global fold) is
   ONE ``mapInArrow`` fold kernel over ``repartition(keys)`` (global:
   ``repartition(1)``); below the fan-in threshold a global fold runs
   on the driver in ``collect_sketch`` instead.  A keyed build over
   exactly one partition (an exact count: no exchange below the build,
   no estimate) has one partial per key, so its kernel finalizes every
   state and no merge level runs: no exchange, no fold stage.  Every
   blob fold, the kernel's finalize included, is ``_fold``.
5. **finalize** — estimate/quantile/top-k, driver-side or via UDF.

Hashing happens **JVM-side** (``F.xxhash64``, whole-stage codegen) by
default, so the Python worker only ever sees int64 hashes / float64
values through Arrow — no per-row Python anywhere.  The direct
row-group read computes the same hashes in numpy (``xxhash64_long``,
and ``xxhash64_utf8`` over each string column's parquet dictionary).  A murmur64 mode
(``hash_mode='murmur64'``) hashes in numpy for bit-parity with the
reference's MurmurHash64A dispatch (``hash/MurmurHash.java:135-217``).

Skew: value-skew in the data (hot conv_id/tool values) is absorbed by
step 2 — every input partition contributes at most one partial per key,
so a key seen in every row still produces only #partitions blobs.
``salted_split`` is provided for the *exact* aggregation paths (oracle
queries, top-k reconciliation) where Spark's groupBy would shuffle raw
rows.
"""

from __future__ import annotations

import functools
import math
import operator
import os
import urllib.parse

import numpy as np
from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_schema

import pyarrow as pa
import pyarrow.compute as pc

from .arrowbuf import one_array, string_bytes
from .hashing import murmur64a_chunked, xxhash64_long, xxhash64_utf8
from .sketches.base import (
    KIND_BLOOM,
    KIND_CMS,
    KIND_HLLPP,
    KIND_KLL,
    KIND_LINEARCOUNTING,
    KIND_LOGLOG,
    KIND_SPACESAVING,
    KIND_TDIGEST,
    unpack_header,
)
from .sketches.bloom import BloomFilter
from .sketches.bottomk import KIND_BOTTOMK, BottomKSample
from .sketches.cms import CountMinSketch
from .sketches.countthenestimate import KIND_CTE, CountThenEstimate
from .sketches.hll import HllPlusPlus
from .sketches.kll import KLL
from .sketches.linear import LinearCounting, LogLog
from .sketches.qdigest import KIND_QDIGEST, QDigest
from .sketches.reference_family import (
    KIND_ALC_REF,
    KIND_BLOOM_REF,
    KIND_CMS_REF,
    KIND_CTE_REF,
    KIND_HLLC_REF,
    KIND_LC_REF,
    KIND_LOGLOG_REF,
    ReferenceFamilyAdaptiveCounting,
    ReferenceFamilyBloom,
    ReferenceFamilyCMS,
    ReferenceFamilyCTE,
    ReferenceFamilyHLLClassic,
    ReferenceFamilyLC,
    ReferenceFamilyLogLog,
)
from .sketches.spacesaving import SpaceSaving
from .sketches.tdigest import TDigest

STATE_COL = "sketch"

_KIND_TO_CLS = {
    KIND_HLLPP: HllPlusPlus,
    KIND_CMS: CountMinSketch,
    KIND_TDIGEST: TDigest,
    KIND_KLL: KLL,
    KIND_BLOOM: BloomFilter,
    KIND_SPACESAVING: SpaceSaving,
    KIND_LINEARCOUNTING: LinearCounting,
    KIND_LOGLOG: LogLog,
    KIND_CTE: CountThenEstimate,
    KIND_BOTTOMK: BottomKSample,
    KIND_QDIGEST: QDigest,
    KIND_CMS_REF: ReferenceFamilyCMS,
    KIND_BLOOM_REF: ReferenceFamilyBloom,
    KIND_LC_REF: ReferenceFamilyLC,
    KIND_LOGLOG_REF: ReferenceFamilyLogLog,
    KIND_ALC_REF: ReferenceFamilyAdaptiveCounting,
    KIND_CTE_REF: ReferenceFamilyCTE,
    KIND_HLLC_REF: ReferenceFamilyHLLClassic,
}

#: the kinds that build in the reference's own hash family
#: (hash_family='reference') and their classes.  'hllc' (the
#: reference's classic HyperLogLog class) exists only here — the native
#: classic-HLL shape is SketchSpec('hll', sp=0, estimator='classic') —
#: and loglog(adaptive=True) builds AdaptiveCounting.
REFERENCE_FAMILY = {
    "cms": ReferenceFamilyCMS,
    "bloom": ReferenceFamilyBloom,
    "linearcounting": ReferenceFamilyLC,
    "loglog": ReferenceFamilyLogLog,
    "countthenestimate": ReferenceFamilyCTE,
    "hllc": ReferenceFamilyHLLClassic,
}


def sketch_from_bytes(blob: bytes):
    _, kind = unpack_header(blob)
    return _KIND_TO_CLS[kind].from_bytes(blob)


class SketchSpec:
    """Declarative sketch constructor shipped to executors (picklable;
    equivalent of the reference's IBuilder, ``util/IBuilder.java``).

    kind: 'hll' | 'cms' | 'tdigest' | 'kll' | 'qdigest' | 'bloom' |
          'spacesaving' | 'linearcounting' | 'loglog' |
          'countthenestimate' | 'bottomk'
    input: 'hash' (64-bit hash of item) | 'value' (float64) |
           'ivalue' (non-negative int64) | 'item' (raw string)
    """

    _FACTORIES = {
        "hll": (lambda p: HllPlusPlus(**p), "hash"),
        "cms": (lambda p: CountMinSketch.from_accuracy(**p) if "eps" in p else CountMinSketch(**p), "hash"),
        "tdigest": (lambda p: TDigest(**p), "value"),
        "kll": (lambda p: KLL(**p), "value"),
        "bloom": (lambda p: BloomFilter.for_capacity(**p) if "fpp" in p else BloomFilter(**p), "hash"),
        "spacesaving": (lambda p: SpaceSaving(**p), "item"),
        "linearcounting": (lambda p: LinearCounting.for_cardinality(**p) if "max_n" in p else LinearCounting(**p), "hash"),
        "loglog": (lambda p: LogLog(**p), "hash"),
        "countthenestimate": (lambda p: CountThenEstimate(**p), "hash"),
        "bottomk": (lambda p: BottomKSample(**p), "item"),
        "qdigest": (lambda p: QDigest(**p), "ivalue"),
    }

    def __init__(self, kind: str, **params):
        if kind not in self._FACTORIES and kind not in REFERENCE_FAMILY:
            raise ValueError(f"unknown sketch kind {kind!r}")
        if kind == "hllc" and params.get("hash_family") != "reference":
            raise ValueError("kind 'hllc' requires hash_family='reference'")
        self.kind = kind
        self.params = params
        if params.get("hash_family", None) not in (None, "reference"):
            raise ValueError("hash_family must be 'reference' (or omitted)")
        if self.reference_family and kind not in REFERENCE_FAMILY:
            raise ValueError(f"hash_family='reference' unsupported for {kind!r}")

    @property
    def reference_family(self) -> bool:
        """True = build with the JVM stream-lib hash family (the kinds
        of ``REFERENCE_FAMILY``) so the state is
        reference-wire exportable AND JVM-compatible for continued
        updates / cross-system unions; items flow RAW (string or long),
        never pre-hashed."""
        return self.params.get("hash_family") == "reference"

    @property
    def input_mode(self) -> str:
        if self.reference_family:
            return "ivalue" if self.params.get("item_type") == "long" else "item"
        return self._FACTORIES[self.kind][1]

    def new(self):
        if self.reference_family:
            p = {k: v for k, v in self.params.items() if k != "hash_family"}
            if self.kind == "loglog" and p.pop("adaptive", False):
                return ReferenceFamilyAdaptiveCounting(**p)
            return REFERENCE_FAMILY[self.kind](**p)
        return self._FACTORIES[self.kind][0](self.params)


# ---------------------------------------------------------------------------
# The pipeline.  Every entry point (sketch_agg, multi_sketch_agg,
# sketch_partials/merge_partials, the spark-submit CLI, the checkpoint
# job) runs the same parts for N >= 1 sketches:
#
#   projection  _project: (keys..., __in_<name>...) with JVM-side
#               hashing / casting
#   source      classic: the projected DataFrame; direct: _row_groups,
#               the same batches read by pyarrow inside the tasks
#   kernel      _kernel, one mapInArrow build for every shape (global =
#               zero keys); every Arrow column enters a sketch via _offer
#   merge       _merge: global fan-in level (sized from _n_partitions),
#               keyed fold and global fold are each one _fold_level (the
#               mapInArrow kernel _fold_batches) + the driver-fold
#               marker; every blob fold is _fold.  A keyed build over
#               exactly one partition skips it: the kernel finalizes
#               (_build's one-task shortcut, taken by _aggregate)
#
# The checkpoint job uses the same parts: phase A is _build keyed by
# (bucket, keys...) with per-key row counts (__rows) + one _fold_level
# in build-task order (none after a one-task build), phase B one
# _fold_level in bucket order.  Every shuffle moves sketch blobs, never
# rows.
# ---------------------------------------------------------------------------


def _project(df: DataFrame, keys: list[str], sketches: dict[str, tuple[str, SketchSpec]],
             hash_mode: str = "xxhash64") -> DataFrame:
    """Project to (keys..., __in_<name>...) with JVM-side hashing /
    casting.  A row enters only if at least one requested column is
    non-null after its cast (offer(null) is a no-op; also keeps
    xxhash64(NULL)==seed out of the hash domain); each column keeps its
    own nulls for the kernel to skip (Arrow keeps an int64 column's
    validity bitmap, so a nullable long reaches numpy unrounded).  The
    input columns come last, in ``sketches`` order.  In murmur64 mode a
    hash-mode column stays a raw string, which ``_offer`` hashes."""
    valid, proj = [], [F.col(k) for k in keys]
    for name, (col, spec) in sketches.items():
        c, mode = F.col(col), spec.input_mode
        ok = c.isNotNull()
        if mode in ("value", "ivalue"):
            # try_cast: under ANSI mode (Spark 4 default) a malformed
            # string would otherwise abort the job; a failed cast is null
            expr = c.try_cast("double" if mode == "value" else "long")
            ok = ok & expr.isNotNull()
        elif mode == "hash" and hash_mode == "xxhash64":
            expr = F.xxhash64(c)
            if len(sketches) > 1:  # the row filter alone covers one sketch
                expr = F.when(ok, expr)  # xxhash64(NULL) is the seed, not null
        else:  # item, or murmur parity mode: raw strings hashed in numpy
            expr = c.cast("string")
        valid.append(ok)
        proj.append(expr.alias(f"__in_{name}"))
    return df.where(functools.reduce(operator.or_, valid)).select(*proj)


#: rows per hash-mode update: a direct read hands the kernel a whole row
#: group, and an update's temporaries (``clz64``'s passes, CMS's
#: ``np.unique``) grow with the rows it is given.  Hash-mode bytes do not
#: depend on batching.
_HASH_CHUNK = 1 << 16


def _offer(spec: SketchSpec, sk, arr):
    """THE update: fold one Arrow column into ``sk`` with no per-row
    Python, dispatched on ``spec.input_mode``.  Nulls are dropped; a
    hash-mode column arrives hashed (int64: the JVM's ``xxhash64`` or
    the direct read's ``xxhash64_long`` / ``xxhash64_utf8``) or as raw
    strings (murmur64 mode), which are hashed here off the Arrow
    offsets/data buffers (``murmur64a_chunked``), and enters its sketch
    ``_HASH_CHUNK`` rows at a time; numeric columns are zero-copy views;
    'item' mode folds the exact (values, counts) table of Arrow's C++
    value_counts, 'ivalue' mode the exact counts of ``np.unique``."""
    arr = one_array(arr)
    if arr.null_count:
        arr = arr.drop_null()
    mode = spec.input_mode
    if len(arr) == 0:
        return sk
    if mode == "item":
        vc = pc.value_counts(arr)
        # r8: to_numpy converts the Arrow string values in C (one object
        # array), ~4.5x faster than round-tripping through to_pylist +
        # np.array for the same object-dtype result (measured 0.68s ->
        # 0.15s per 1M rows; bytes identical)
        sk.update_batch(vc.field("values").to_numpy(zero_copy_only=False), vc.field("counts").to_numpy())
        return sk
    if mode == "hash" and not pa.types.is_integer(arr.type):
        vals = murmur64a_chunked(*string_bytes(arr)).view(np.int64)
    else:
        vals = arr.to_numpy(zero_copy_only=False).astype(np.float64 if mode == "value" else np.int64, copy=False)
    if mode == "hash":
        update = sk.add_hashed if spec.kind == "bloom" else sk.update_hashed
        for lo in range(0, len(vals), _HASH_CHUNK):
            update(vals[lo:lo + _HASH_CHUNK])
    elif mode == "value":
        sk.add_values(vals)
    else:  # ivalue: non-negative ints folded as exact counts
        sk.update_batch(*np.unique(vals, return_counts=True))
    return sk


def _groups(tbl: pa.Table, keys: list[str]):
    """(key tuple of Python values, the group's rows) per key group of
    an Arrow table, in first-appearance order: null keys form their own
    group, rows keep their order.  Each key column's dictionary indices
    are dense first-appearance codes (null encoded as its own value);
    several keys combine pairwise and re-densify, so a code stays below
    the row count.  One stable sort by code makes every group a
    zero-copy slice.  Global (no keys): one group of every row."""
    if not keys:
        return [((), tbl)]
    codes = None
    for k in keys:
        enc = pc.dictionary_encode(tbl.column(k).combine_chunks(), null_encoding="encode")
        c = enc.indices.cast(pa.int64())
        codes = c if codes is None else pc.dictionary_encode(
            pc.add(pc.multiply(codes, len(enc.dictionary)), c)).indices.cast(pa.int64())
    codes = codes.to_numpy()
    order = np.argsort(codes, kind="stable")
    tbl = tbl.take(order).combine_chunks()
    starts = np.flatnonzero(np.diff(codes[order], prepend=-1))
    firsts = tbl.select(keys).take(starts)
    return list(zip(zip(*(c.to_pylist() for c in firsts.columns)),
                    (tbl.slice(i, j - i) for i, j in zip(starts, [*starts[1:], len(order)]))))


def _kernel(specs: dict[str, SketchSpec], keys: list[str], schema: pa.Schema, final: bool):
    """THE build kernel (mapInArrow): fold a partition's Arrow batches
    into one state per (key, sketch) and emit one (keys..., <name>...)
    batch in ``schema`` — exactly one row for a global (zero-key) build,
    even on no input.  A ``__rows`` field in ``schema`` gets each key's
    input row count.  ``final`` finalizes every state through ``_fold``,
    as a merge's last fold does (``_build``'s one-task shortcut).

    Buffering: a keyed build buffers every column and folds per key in
    flushes of ~FLUSH_ROWS rows, so the python-call overhead is per
    (key x flush) — a 200-key partition of N batches pays 200 update
    chains instead of 200*N — while memory stays bounded (~100 MB
    worst case).  A global build folds each batch as it arrives, except
    r8's item-mode Space-Saving / bottom-k columns: one C++ value_counts
    + one update over a large flush replaces dozens, cutting the
    per-batch unique-count / truncation overhead ~4x.  Those two kinds
    only, because their gate-checked outputs are batching-invariant
    (Space-Saving gates run in the exact regime where any batching
    yields identical bytes, the heavy-hitter guarantee holds under any
    fold, and bottom-k is a pure min-k of hashes); reference-family and
    count-then-estimate item sketches keep per-batch folds — their
    internal tip-over points are batch-order-sensitive."""
    FLUSH_ROWS = 1 << 22
    buffered = [n for n, spec in specs.items() if keys or (
        spec.kind in ("spacesaving", "bottomk") and spec.input_mode == "item"
        and not spec.reference_family)]
    per_batch = [n for n in specs if n not in buffered]
    first = next(iter(specs))  # every row reaches exactly one fold of it: count there

    def build(batches):
        def new():
            return {"__rows": 0, **{n: s.new() for n, s in specs.items()}}

        states: dict[tuple, dict] = {} if keys else {(): new()}

        def fold(tbl: pa.Table, names: list[str]):
            for key, rows in _groups(tbl, keys):
                group = states.get(key)
                if group is None:
                    group = states[key] = new()
                for n in names:
                    _offer(specs[n], group[n], rows.column(f"__in_{n}"))
                if first in names:
                    group["__rows"] += rows.num_rows

        buf, buf_rows = [], 0
        for rb in batches:
            if per_batch:
                fold(pa.Table.from_batches([rb]), per_batch)
            if buffered:
                buf.append(rb.select(keys + [f"__in_{n}" for n in buffered]))
                buf_rows += rb.num_rows
                if buf_rows >= FLUSH_ROWS:
                    fold(pa.Table.from_batches(buf), buffered)
                    buf, buf_rows = [], 0
        if buf:
            fold(pa.Table.from_batches(buf), buffered)
        yield pa.RecordBatch.from_pylist(
            [{**dict(zip(keys, key)), "__rows": group["__rows"],
              **{n: (_fold((), specs[n], group[n]) if final else group[n]).to_bytes() for n in specs}}
             for key, group in states.items()], schema=schema)

    return build


# ---------------------------------------------------------------------------
# r8: direct parquet row-group read (guide §8 "co-locate instead of
# join" / §4: eliminate the JVM→Python boundary).
#
# The classic build feeds every row through Spark's InternalRow→Arrow
# writer into the Python worker; measured floor ~0.8 s per 1M-row task
# for a single int64 column (a no-op mapInArrow consumer costs the same
# — the feed, not the kernel, is the cost).  When the input is provably
# a bare local-filesystem parquet scan, the same rows can be read
# straight off the column chunks by pyarrow INSIDE the Python task
# (~0.02 s per 1M int64 rows), with hashing done by the bit-parity
# ``xxhash64_long`` / ``xxhash64_utf8`` kernels.  A string column is read
# as its parquet dictionary: each distinct value is hashed once and the
# hashes are taken by the dictionary indices (a 534k-row ``conv_id``
# chunk of 13k distinct values: ~8 ms against ~87 ms to read and hash
# every row, process CPU with one numpy thread on a 4-core VM,
# ``tools/bench_xxhash64_utf8.py``).  Spark still distributes the work:
# the task list is one row per parquet row group, so parallelism equals
# the scan's natural split and scales with input size.  One task reads
# all requested columns of its row group once and feeds the same kernel.
#
# Strict eligibility — EVERY sketch of the request must qualify, else
# every sketch takes the classic path:
#   * non-reference-family, not conservative, kind in
#     _DIRECT_SCAN_KINDS.  hll/cms/bloom are batching-invariant monoids
#     (direct result BYTE-identical to the classic path — pinned by
#     tests/test_direct_scan.py); tdigest/kll build state is
#     batch-boundary-sensitive, so the direct result is deterministic
#     but not byte-equal — admissible because no declared query exposes
#     digest bytes (quantile gates output within-bound booleans, and
#     both paths' estimates sit inside the published rank bound — also
#     pinned by tests/test_direct_scan.py);
#   * analyzed plan is a bare LogicalRelation over an unpartitioned
#     HadoopFsRelation/Parquet (no Filter/Project/Limit above it);
#   * every input file is file:// (an executor on another host could
#     not read the driver's local path otherwise; hdfs:/s3: fall back);
#   * hash mode: xxhash64 over LongType or StringType (default
#     UTF8_BINARY collation; bit parity with the JVM pinned for both);
#     value mode (tdigest/kll): DoubleType, global only — keyed quantile
#     queries expose per-key digests, which must not move with the read
#     path; keyed: string keys only;
#   * at most _DIRECT_SCAN_MAX_FILES (4096) input files, and the driver
#     reads every file's footer — the same metadata Spark itself reads —
#     to check each requested column's type and to list the row groups;
#     a file whose column is missing or of another type disengages it.
# Kill switch: SPARK_GRAFT_DIRECT_SCAN=0.
_DIRECT_SCAN_KINDS = ("hll", "cms", "tdigest", "kll", "bloom")
_DIRECT_SCAN_MAX_FILES = 4096
# below ~1M total rows the path's constant cost (plan probe, footer
# read, one extra job) exceeds the per-row feed saving — measured
# crossover on the alternating frozen-bench A/B: 600k-row tables read
# 1.1-1.5x slower direct, 6M-row tables 2-3.5x faster.  The threshold is
# work-based, not scale-tuned: any production input is far above it.
_DIRECT_SCAN_MIN_ROWS = 1_000_000


def _as_planned(got: pa.DataType, want: pa.DataType) -> bool:
    """A direct-read column of type ``got`` reads as the planned
    ``want``; a string column accepts large_string, whose values are
    the same."""
    return got == want or (want == pa.string() and got == pa.large_string())


def _direct_tasks(df: DataFrame, keys: list[str], sketches: dict[str, tuple[str, SketchSpec]],
                  hash_mode: str) -> tuple[list, dict] | None:
    """([(local_path, row_group_index)], {name: arrow type}) for a direct
    read of ``sketches``, or None if any guard refuses it.  Every
    admitted file's footer has been read on the driver: each requested
    column is there with the type the tasks read."""
    if os.environ.get("SPARK_GRAFT_DIRECT_SCAN", "1") != "1":
        return None
    wants: dict = {}
    try:
        schema = df.schema
        if not all(schema[k].dataType == T.StringType() for k in keys):
            return None  # string keys only: no other key type has a direct-vs-classic identity test
        for name, (col, spec) in sketches.items():
            if spec.reference_family or spec.kind not in _DIRECT_SCAN_KINDS or spec.params.get("conservative"):
                return None
            dtype = schema[col].dataType
            if spec.input_mode == "hash" and hash_mode == "xxhash64" and dtype in (T.LongType(), T.StringType()):
                wants[name] = pa.int64() if dtype == T.LongType() else pa.string()
            elif spec.input_mode == "value" and not keys and isinstance(dtype, T.DoubleType):
                wants[name] = pa.float64()
            else:
                return None
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRelation":
            return None
        rel = plan.relation()
        if rel.getClass().getSimpleName() != "HadoopFsRelation":
            return None
        if "parquet" not in rel.fileFormat().toString().lower():
            return None
        if rel.partitionSchema().size() != 0:  # col could live in the path
            return None
        # the file list in one gateway call: DataFrame.inputFiles() makes
        # one round trip per file (64 files: ~36 ms against ~4 ms)
        listed = df.sparkSession._jvm.scala.Predef.genericWrapArray(df._jdf.inputFiles())
        files = [f for f in listed.mkString("\n").split("\n") if f]
    except Exception:
        return None
    if not files or len(files) > _DIRECT_SCAN_MAX_FILES:
        return None
    paths = []
    for uri in files:
        parsed = urllib.parse.urlparse(uri)
        if parsed.scheme not in ("file", ""):
            return None
        paths.append(urllib.parse.unquote(parsed.path))
    col_types = {k: pa.string() for k in keys}
    col_types.update({sketches[n][0]: want for n, want in wants.items()})
    tasks: list = []
    total_rows = 0
    try:
        import pyarrow.parquet as pq

        for p in paths:
            pf = pq.ParquetFile(p)
            for c, want in col_types.items():
                idx = pf.schema_arrow.get_field_index(c)
                if idx < 0:
                    return None  # renamed/missing column: fall back
                if not _as_planned(pf.schema_arrow.field(idx).type, want):
                    return None  # heterogeneous column: fall back
            total_rows += pf.metadata.num_rows
            tasks.extend((p, rg) for rg in range(pf.metadata.num_row_groups))
    except Exception:
        return None
    return (tasks, wants) if tasks and total_rows >= _DIRECT_SCAN_MIN_ROWS else None


def _row_groups(tasks: list, keys: list[str], sketches: dict[str, tuple[str, SketchSpec]],
                wants: dict):
    """Direct batch source over task-INDEX rows (the (path, row_group)
    list rides in the closure): each task reads its row groups' column
    chunks with pyarrow and yields one Arrow record batch per row group
    shaped like the projection's — (keys..., __in_<name>...), hashed by
    ``xxhash64_long`` / ``xxhash64_utf8`` where the projection hashes
    with the JVM's xxhash64, with the projection's row rule (a row whose
    requested columns are all null is dropped), other nulls kept for the
    kernel to skip.  A string hash column that is not a key is read as
    its dictionary, and each hashed column is hashed once per row group
    however many sketches read it.  A read failure, or a column whose
    type differs from the planned one, names the file, the row group
    and the kill switch."""
    read = list(dict.fromkeys(keys + [col for col, _ in sketches.values()]))
    by_dict = list(dict.fromkeys(col for n, (col, _) in sketches.items() if wants[n] == pa.string() and col not in keys))

    def xxhash64(arr: pa.Array) -> pa.Array:
        """Spark's xxhash64 of one chunk, nulls kept; a dictionary chunk
        hashes its dictionary and takes the hashes by its indices."""
        if pa.types.is_dictionary(arr.type):
            return pc.take(xxhash64(arr.dictionary), arr.indices)
        if pa.types.is_integer(arr.type):
            hashed = xxhash64_long(arr.fill_null(0).to_numpy())
        else:
            hashed = xxhash64_utf8(*string_bytes(arr))
        return pa.array(hashed, mask=arr.is_null().to_numpy(zero_copy_only=False) if arr.null_count else None)

    def source(id_batches):
        import pyarrow.parquet as pq

        for ids in id_batches:
            for i in np.asarray(ids["id"]):
                p, rg = tasks[int(i)]
                try:
                    tbl = pq.ParquetFile(p, read_dictionary=by_dict).read_row_group(rg, columns=read)
                    cols = {k: one_array(tbl.column(k)) for k in keys}
                    hashed: dict = {}
                    for name, (col, spec) in sketches.items():
                        arr = tbl.column(col)
                        got = arr.type.value_type if pa.types.is_dictionary(arr.type) else arr.type
                        if not _as_planned(got, wants[name]):
                            # the file changed after planning
                            raise pa.ArrowTypeError(f"column {col} is {arr.type}, planned {wants[name]}")
                        if spec.input_mode == "value":
                            cols[f"__in_{name}"] = one_array(arr)
                            continue
                        if col not in hashed:
                            hashed[col] = one_array(pa.chunked_array([xxhash64(c) for c in arr.chunks], pa.int64()))
                        cols[f"__in_{name}"] = hashed[col]
                except (OSError, KeyError, pa.ArrowException) as e:
                    raise RuntimeError(
                        f"direct parquet read of {p} (row group {rg}) failed: {e}; "
                        "set SPARK_GRAFT_DIRECT_SCAN=0 to use the classic read") from e
                rb = pa.RecordBatch.from_pydict(cols)
                ok = functools.reduce(pc.or_, [rb.column(f"__in_{n}").is_valid() for n in sketches])
                yield rb.filter(ok) if ok.false_count else rb

    return source


# r8 NOTE (measured, rejected): spreading a serial scan (single parquet
# row group -> one non-empty scan task) with a repartition of the
# narrow projection was prototyped for the sketch build and REJECTED on
# interleaved A/B evidence: on a quiet box the exchange + extra AQE
# stage costs more than single-task vectorized sketch building saves at
# every measured size (sf0.1 hll 0.28s -> 0.94s; 10x keyed events
# 1.00s -> 1.48s).  The numpy kernels are ~0.03-0.11 s per 1M rows, so
# a serial build only loses past ~10M rows per row group — a layout the
# generators here never produce.  Heavy-per-row JVM operators are the
# opposite case: pii_screen (7 regex + 7 replaces per doc) and the
# tokenize kernels DO pay for the exchange, which is why textops'
# _ensure_parallelism exists and stays.


def _build(df: DataFrame, keys: list[str], sketches: dict[str, tuple[str, SketchSpec]],
           hash_mode: str = "xxhash64", rows: bool = False,
           final: bool = False) -> tuple[DataFrame, bool]:
    """Partition-local build of every sketch: one (keys..., <name>
    BinaryType...) row per key per task, plus the key's input row count
    ``__rows`` if ``rows``.  Returns (partials, finalized).

    ``final`` asks for the one-task shortcut: if the batch source has
    exactly one partition (the projection's exact ``_n_partitions``, or
    one direct-read task), every key has exactly one partial, so the
    kernel finalizes each state as the merge's last fold would and
    ``finalized`` is True: the partials are the merged rows, and no
    merge level runs.  The count is read before the kernel is made,
    because the finalize flag is part of its closure."""
    specs = {name: spec for name, (_, spec) in sketches.items()}
    schema = T.StructType([df.schema[k] for k in keys] + [T.StructField(n, T.BinaryType()) for n in specs]
                          + ([T.StructField("__rows", T.LongType())] if rows else []))
    direct = _direct_tasks(df, keys, sketches, hash_mode)
    if direct is None:
        src = _project(df, keys, sketches, hash_mode)
        one = final and _n_partitions(src, exact=True) == 1
        return src.mapInArrow(_kernel(specs, keys, to_arrow_schema(schema), one), schema=schema), one
    tasks, wants = direct
    one = final and len(tasks) == 1
    kernel = _kernel(specs, keys, to_arrow_schema(schema), one)
    source = _row_groups(tasks, keys, sketches, wants)
    # one Range partition per task: a pure-JVM feed of one long each (a
    # createDataFrame of the task rows would route through a Python RDD
    # — two extra worker crossings per task, measured ~0.4 s of fixed
    # overhead at sf0.1)
    feed = df.sparkSession.range(0, len(tasks), 1, numPartitions=len(tasks))
    return feed.mapInArrow(lambda it: kernel(source(it)), schema=schema), one


def _auto_fan_in(n_parts: int) -> int | None:
    """Two-level merge sizing: above 64 input partitions a global fold
    gets an intermediate level of ~sqrt(n) buckets, so both levels fold
    ~sqrt(n) blobs.  At 10^6 input partitions the single reducer would
    otherwise pull 10^6 × 16 KB-240 KB blobs."""
    return None if n_parts <= 64 else math.isqrt(n_parts - 1) + 1  # ceil(sqrt(n))


def _n_partitions(df: DataFrame, exact: bool = False) -> int:
    """``df``'s partition count, read off its physical plan without
    running anything.  Not ``df.rdd.getNumPartitions()``: under AQE that
    finalizes the adaptive plan, which EXECUTES the upstream query
    stages (it once ran a whole window+sketch pipeline before the real
    collect).  The walk reads AQE's initial plan, exchanges included, so
    a shuffle counts its pre-coalescing partitions:

    * a node that states its partition count gives it (an exchange,
      a range, a coalesce; a leaf scan's partitioning states none);
    * a union sums its children, any other inner node takes its widest
      child;
    * a leaf builds its RDD (no job) and counts it — except a leaf whose
      expressions hold a subquery (a dynamic-pruning or scalar-subquery
      partition filter), where building the RDD would run the subquery:
      a file scan then gives its unpruned file count, an estimate (files
      may be split, packed or pruned), and any other such leaf gives 0;
    * AQE's plan and a cached frame's plan are walked, never executed:
      asking an unmaterialized cache for its partitioning runs it.

    ``exact`` gives 0 unless the count is certain: an exchange anywhere
    in the plan (AQE may coalesce or split its partitions at run time)
    or a subquery leaf's estimate makes it uncertain."""

    class Uncertain(Exception):
        pass

    def walk(node) -> int:
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if name == "InMemoryTableScanExec":
            return walk(node.relation().cachedPlan())
        if exact and "Exchange" in name:
            raise Uncertain
        n = node.outputPartitioning().numPartitions()
        kids = node.children()
        # an exact count visits every node: an exchange below a node
        # that states its count still makes that count uncertain
        counts = [walk(kids.apply(i)) for i in range(kids.size())] if exact or not n else []
        if n:
            return n
        if counts:
            return sum(counts) if name == "UnionExec" else max(counts)
        if node.subqueries().isEmpty():
            return node.execute().getNumPartitions()
        if exact:
            raise Uncertain
        try:  # building the RDD would run (or, for dynamic pruning, refuse) the subquery
            return len(node.relation().inputFiles())
        except Py4JError:  # not a file scan: no count, so no fan-in level
            return 0

    try:
        return walk(df._jdf.queryExecution().executedPlan())
    except Uncertain:
        return 0


def _fold(blobs, spec: SketchSpec, sk=None, final: bool = True):
    """THE blob fold: merge serialized partials into ``sk`` (None =
    start from the first blob).  ``final`` finalizes the result: an
    empty fold is the empty sketch, and t-digest/KLL are compressed —
    KLL's level-0 array is in fold order, so skipping it would make the
    bytes depend on shuffle arrival."""
    for b in blobs:
        s = sketch_from_bytes(bytes(b))
        sk = s if sk is None else sk.merge(s)
    if final:
        sk = spec.new() if sk is None else sk
        if isinstance(sk, (TDigest, KLL)):
            sk.compress()
    return sk


def _fold_batches(specs: dict[str, SketchSpec], keys: list[str], schema: pa.Schema,
                  final: bool):
    """THE merge kernel (mapInArrow): fold a partition's (keys...,
    <name>...) blob batches into one state per (key, sketch) and emit
    one batch in ``schema`` — exactly one row for a global (zero-key)
    fold, even on no input.  Every state is finalized by ``_fold`` when
    ``final``; a fan-in level passes False and emits its states
    uncompressed, as the build does.  Partials that carry the build's
    ``__rows`` counts get them summed per key."""

    count = "__rows" in schema.names

    def fold(batches):
        states: dict[tuple, dict] = {} if keys else {(): {"__rows": 0}}
        for rb in batches:
            for key, rows in _groups(pa.Table.from_batches([rb]), keys):
                st = states.setdefault(key, {"__rows": 0})
                for n, spec in specs.items():
                    st[n] = _fold(rows.column(n).to_pylist(), spec, st.get(n), final=False)
                if count:
                    st["__rows"] += pc.sum(rows.column("__rows")).as_py()
        yield pa.RecordBatch.from_pylist(
            [{**dict(zip(keys, key)), "__rows": st["__rows"],
              **{n: _fold((), specs[n], st.get(n), final).to_bytes() for n in specs}}
             for key, st in states.items()], schema=schema)

    return fold


def _fold_level(partials: DataFrame, keys: list[str], specs: dict[str, SketchSpec],
                final: bool = True, order: list[str] | None = None,
                by: list[str] | None = None) -> DataFrame:
    """One merge level: shuffle the partials by key (or by ``by``, a
    subset of the keys; a global fold: into one partition) and fold
    EVERY key group of a partition in one Arrow stream.  A repartition
    + map, not a grouped applyInArrow: a grouped apply makes a separate
    Arrow round trip per GROUP —
    measured ~8ms of plumbing per key (200 tools: 1.76s of overhead for
    0.1s of merging).  The exchange moves only sketch blobs, so the
    build upstream stays fully parallel.  Merge order within a key is
    partition row order, pinned by ``order`` (sort columns within each
    shuffled partition) where a digest's bytes must not depend on
    shuffle arrival; the monoid's answers never do.  A ``__rows``
    column rides along, summed per key."""
    schema = T.StructType([partials.schema[k] for k in keys] + [T.StructField(n, T.BinaryType()) for n in specs]
                          + ([partials.schema["__rows"]] if "__rows" in partials.columns else []))
    shuffled = partials.repartition(*(by or keys)) if keys else partials.repartition(1)
    if order:
        shuffled = shuffled.sortWithinPartitions(*order)
    return shuffled.mapInArrow(_fold_batches(specs, keys, to_arrow_schema(schema), final), schema=schema)


def _merge(partials: DataFrame, keys: list[str], specs: dict[str, SketchSpec]) -> DataFrame:
    """Tree-merge the partials of every sketch to one row per key (see
    ``merge_partials``).  A global merge gets a fan-in level sized by
    ``_auto_fan_in`` from the partials' partition count
    (``_n_partitions``); the level is the keyed fold with one more key,
    ``__bkt``, left unfinalized.  A keyed merge always folds, even over
    one partition: only the build knows that a partition holds one row
    per key, so the one-partition rule lives in ``_build``."""
    fan_in = None if keys else _auto_fan_in(_n_partitions(partials))
    if fan_in:
        bucket = F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(fan_in)).cast("int")
        partials = _fold_level(partials.withColumn("__bkt", bucket), keys + ["__bkt"], specs,
                               final=False).drop("__bkt")
    out = _fold_level(partials, keys, specs)
    if not keys and not fan_in:
        # r8 optimization: when no fan-in level was needed (<= 64
        # partials), the final fold moves <= 64 small blobs — the same
        # bytes the single-reducer task would pull.  Mark the DataFrame
        # so ``collect_sketch`` can collect the PARTIALS directly and
        # fold on the driver, removing one Exchange + one Python merge
        # stage + one job per global aggregate (guide §2.4).  Above the
        # fan-in threshold the distributed tree is kept unchanged, so
        # cluster-scale behavior is identical.  The DataFrame itself is
        # untouched — executing it distributed gives the same bytes
        # (merges are commutative monoids; the associativity law is
        # pinned by tests/test_fan_in_auto.py).
        out._slp_driver_fold = (partials, specs)
    return out


def sketch_partials(df: DataFrame, keys: list[str], col: str, spec: SketchSpec,
                    hash_mode: str = "xxhash64") -> DataFrame:
    """Partition-local sketch build: one (keys..., sketch BinaryType)
    row per key per partition (per row group on the direct read).
    Vectorized: numpy kernels over whole Arrow batches — no per-row
    Python anywhere."""
    return _build(df, keys, {STATE_COL: (col, spec)}, hash_mode)[0]


def merge_partials(partials: DataFrame, keys: list[str], spec: SketchSpec) -> DataFrame:
    """Tree-merge partial sketches to one row per key.

    Every merge level is the same Arrow fold kernel: the partials are
    repartitioned by key (a global merge: into one partition) and one
    ``mapInArrow`` task folds every key group it holds — exactly one row
    for a global merge, even on no input.

    A GLOBAL merge whose partials span more than 64 partitions (counted
    off their physical plan) first folds them in an intermediate
    level of ~sqrt(n) buckets — the keyed fold with the bucket as one
    more key, left unfinalized — which bounds reduce-side fan-in across
    huge partition counts.  The buckets are fixed only in topology, not
    in result: all merges are commutative monoids.  A keyed merge never
    gets the level: the key repartition already spreads it over the
    reducers.

    A keyed merge here always folds, even over one partition: partials
    of unknown origin may hold several rows per key in one partition.
    Only ``sketch_agg`` / ``multi_sketch_agg`` skip the fold, where
    their own one-task build finalized each key's only partial.
    """
    return _merge(partials, keys, {STATE_COL: spec})


def sketch_agg(df: DataFrame, keys: list[str], col: str, spec: SketchSpec,
               hash_mode: str = "xxhash64") -> DataFrame:
    """Full two-level sketch aggregation → (keys..., sketch): a
    one-sketch ``multi_sketch_agg``.  Global aggregates over >64
    partials (the build's partition count: its scan splits, the direct
    read's tasks, or an upstream exchange's partitions) get a
    third (fan-in) merge level — see ``merge_partials``; below it
    ``collect_sketch`` folds the partials on the driver.  A keyed
    aggregate whose build runs in exactly one task (a one-split scan
    or one direct-read task, with no exchange below the build) has one
    partial per key: the build kernel finalizes it, with the bytes the
    keyed fold would give, and no exchange or fold stage runs.

    Rows: null values (and, for value kinds, strings that do not cast)
    are skipped, never an ANSI-mode error; null keys form their own
    group.  Direct read: a bare, unpartitioned, local ``file://``
    parquet input of at most 4096 files and at least 1M rows
    (``_DIRECT_SCAN_MIN_ROWS``) is read by
    the tasks themselves with pyarrow, one task per row group, when the
    sketch is hll/cms/bloom over a LongType or StringType column
    (xxhash64 mode, hashed bit-identically to the JVM; a string column
    is read as its parquet dictionary, whose distinct values are hashed
    once per row group; keyed: string keys only) or, global only,
    tdigest/kll over a DoubleType column — never reference-family or
    conservative CMS.
    The driver reads every file's footer first; a file whose column is
    missing or of another type sends the aggregate to the classic read.
    hll/cms/bloom bytes are identical on both paths; tdigest/kll bytes
    differ between the direct and classic paths (partial boundaries
    move), both within the published rank bound.
    ``SPARK_GRAFT_DIRECT_SCAN=0`` turns the direct read off.
    """
    return _aggregate(df, keys, {STATE_COL: (col, spec)}, hash_mode)


def multi_sketch_agg(df: DataFrame, sketches: dict[str, tuple[str, SketchSpec]],
                     keys: list[str] | None = None,
                     hash_mode: str = "xxhash64") -> DataFrame:
    """Update MANY sketches in ONE scan / ONE Arrow crossing.

    ``sketches``: {out_name: (column, spec)}.  At 100 TB the scan and
    the JVM→Python boundary dominate; a pipeline that needs distinct
    conv_ids, token frequencies, latency quantiles and a tool Bloom
    filter should pay for them once, not once per sketch.  Returns one
    row per key group with one BinaryType column per sketch name.  Each
    sketch's bytes equal its one-sketch ``sketch_agg`` wherever the
    kind is insensitive to batching (hll, cms, bloom, ...).

    Rows: a row enters the build only if at least one requested column
    is non-null after its cast (``try_cast`` — a malformed numeric
    string is skipped, never an ANSI-mode error), and each sketch skips
    its own nulls.  Keyed: null keys form their own group, and a key
    whose rows are null in every requested column yields no row.

    Direct read: engages only if EVERY sketch of the request qualifies
    under ``sketch_agg``'s rules (global: hll/cms/bloom over LongType
    or StringType, tdigest/kll over DoubleType; keyed: hll/cms/bloom
    with string keys); one task then reads all requested columns of its
    row group once, and hashes each hashed column once however many
    sketches read it.  Otherwise every sketch takes the classic path.
    tdigest/kll bytes differ between the two paths, both within the
    rank bound.

    Merge: as ``sketch_agg``'s — a keyed build in exactly one task
    finalizes in its kernel and skips the exchange and the fold.
    """
    return _aggregate(df, keys or [], sketches, hash_mode)


def _aggregate(df: DataFrame, keys: list[str], sketches: dict[str, tuple[str, SketchSpec]],
               hash_mode: str) -> DataFrame:
    """Build and merge: the whole of ``sketch_agg`` and
    ``multi_sketch_agg``.  A keyed build over exactly one partition
    finalizes in its kernel and is the answer (``_build``'s shortcut);
    a global build always goes to ``_merge`` (at <= 64 partials, its
    fold runs on the driver in ``collect_sketch``)."""
    partials, finalized = _build(df, keys, sketches, hash_mode, final=bool(keys))
    return partials if finalized else _merge(partials, keys, {n: s for n, (_, s) in sketches.items()})


def collect_sketch(df_or_merged: DataFrame):
    """Collect a single global sketch blob to the driver (one small
    row — NOT a data collect).

    Fast path (r8): a global merge below the fan-in threshold carries
    its partials DataFrame; collecting those <= 64 blobs and folding
    driver-side skips the repartition(1) exchange, the Python merge
    stage and one whole job — the driver pulls exactly the bytes the
    single-reducer task would have pulled.  Bytes are identical
    (commutative-monoid merges, same fold)."""
    fold = getattr(df_or_merged, "_slp_driver_fold", None)
    if fold is not None and STATE_COL in fold[1]:
        partials, specs = fold
        # toArrow: an Arrow transfer of the binary blobs; py4j row
        # collect pickles each ~1 MB CMS partial through the gateway
        # socket instead.  The partials DataFrame itself, not a
        # projection of it: its plan is the one ``_merge`` counted
        return _fold(partials.toArrow().column(STATE_COL).to_pylist(), specs[STATE_COL])
    row = df_or_merged.select(STATE_COL).collect()
    if len(row) != 1:
        raise ValueError(f"expected one merged sketch row, got {len(row)}")
    return sketch_from_bytes(bytes(row[0][0]))


def _local_frame(spark, schema: T.StructType, rows: list) -> DataFrame:
    """DataFrame of driver-held ``rows`` (tuples in ``schema`` order),
    handed to Spark as one Arrow table: it plans as a
    ``LocalTableScan``, so collecting it runs no job.  A
    ``createDataFrame`` of a Python list goes through a pickled Python
    RDD instead, whose collect runs a job through a Python worker."""
    table = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows],
                                 schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)


def salted_split(df: DataFrame, key: str, salts: int, col_name: str = "__salt") -> DataFrame:
    """Explicit skew salting for exact aggregation paths: adds a
    deterministic sub-key so a hot `key` spreads over `salts` reducers;
    aggregate by (key, salt) then re-aggregate by key (north rule)."""
    return df.withColumn(col_name, F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salts)).cast("int"))
