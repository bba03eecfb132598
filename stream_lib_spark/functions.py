"""High-level sketch query functions + finalize UDFs.

The finalize step of every sketch (estimate / quantile / top-k /
membership) is exposed two ways:

- as Arrow UDFs over the BinaryType state column (for keyed results
  that stay distributed): ``_blob_udf`` answers each state blob,
  ``_probe_udf`` probes one broadcast sketch with an int64 hash column;
- on the driver, over a collected global sketch (one small blob).  Rows
  held on the driver go back into Spark only as an Arrow table
  (``agg._local_frame``): a ``LocalRelation``, whose collect runs no
  job, never a ``createDataFrame`` of a Python list (a pickled Python
  RDD, collected through a Python worker).
"""

from __future__ import annotations

import functools

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_type

from .agg import STATE_COL, SketchSpec, _local_frame, collect_sketch, sketch_agg, sketch_from_bytes


def _blob_udf(return_type: T.DataType, answer):
    """Arrow UDF over a state-blob column: ``answer(blob)`` once per
    non-null row (the answer decodes the blob itself); a null blob
    gives null."""
    arrow_type = to_arrow_type(return_type)

    def finalize(blobs):
        return pa.array([None if b is None else answer(b) for b in blobs.to_pylist()], arrow_type)

    return F.arrow_udf(finalize, return_type)


hll_cardinality = _blob_udf(T.DoubleType(), lambda b: float(sketch_from_bytes(b).cardinality()))


def quantile_udf(q: float):
    return _blob_udf(T.DoubleType(), lambda b: float(sketch_from_bytes(b).quantile(q)))


_TOPK = T.StructType([
    T.StructField("item", T.StringType()),
    T.StructField("count", T.LongType()),
    T.StructField("error", T.LongType()),
    T.StructField("rank", T.IntegerType()),
])


def _answer(df: DataFrame, keys: list[str], col: str, spec: SketchSpec,
            fields: T.StructType, rows, **kw) -> DataFrame:
    """THE finalize of the ``approx_*`` functions: ``sketch_agg`` then
    ``rows(sketch)``, the sketch's answer rows in ``fields``.  Keyed:
    one array UDF per merged blob, inlined, with no extra shuffle.
    Global: the merged sketch is collected (``collect_sketch``) and its
    rows become a driver-built ``_local_frame``."""
    merged = sketch_agg(df, keys, col, spec, **kw)
    if not keys:
        return _local_frame(df.sparkSession, fields, rows(collect_sketch(merged)))
    answer = _blob_udf(T.ArrayType(fields), lambda b: rows(sketch_from_bytes(b)))
    return merged.select(*keys, F.inline(answer(STATE_COL)))


def _doubles(names: list[str]) -> T.StructType:
    return T.StructType([T.StructField(n, T.DoubleType()) for n in names])


def approx_count_distinct(df: DataFrame, col: str, keys: list[str] | None = None,
                          p: int = 14, **kw) -> DataFrame:
    """HLL++ distinct count → (keys..., approx_distinct double)."""
    return _answer(df, keys or [], col, SketchSpec("hll", p=p), _doubles(["approx_distinct"]),
                   lambda sk: [(float(sk.cardinality()),)], **kw)


def approx_quantiles(df: DataFrame, col: str, qs: list[float],
                     keys: list[str] | None = None, kind: str = "tdigest", **kw) -> DataFrame:
    """t-digest / KLL quantiles → (keys..., q_<x> double ...); each blob
    decodes once for all qs."""
    spec = SketchSpec(kind, compression=100.0) if kind == "tdigest" else SketchSpec(kind, k=200)
    return _answer(df, keys or [], col, spec, _doubles([f"q_{str(q).replace('.', '_')}" for q in qs]),
                   lambda sk: [tuple(float(x) for x in sk.quantiles(qs))], **kw)


def approx_topk(df: DataFrame, col: str, k: int, capacity: int | None = None,
                keys: list[str] | None = None, **kw) -> DataFrame:
    """Space-Saving top-k → (keys..., item, count, error, rank): the
    sketch's top k as up to k rows per key (or per global answer)."""
    spec = SketchSpec("spacesaving", capacity=capacity or max(4 * k, 64))
    return _answer(df, keys or [], col, spec, _TOPK,
                   lambda sk: [(str(item), int(cnt), int(err), i)
                               for i, (item, cnt, err) in enumerate(sk.top_k(k), 1)], **kw)


def cms_frequencies(df: DataFrame, col: str, probe_items: list, eps: float = 1e-4,
                    confidence: float = 0.99, **kw) -> DataFrame:
    """Global CMS over df[col], probed at probe_items →
    (item string, est_count long): ``cms_frequencies_df`` over a probe
    frame built on the driver.  A probe that cannot cast to the
    column's type can never equal any item of the column, so its exact
    count is 0 — reported as such instead of null."""
    probes = _local_frame(df.sparkSession, T.StructType([T.StructField("item", T.StringType())]),
                          [(str(i),) for i in probe_items])
    est = cms_frequencies_df(df, col, probes, "item", eps=eps, confidence=confidence, **kw)
    return est.select("item", F.coalesce("est_count", F.lit(0)).alias("est_count"))


def hll_intersection_estimate(sk_a, sk_b) -> float:
    """|A ∩ B| by inclusion-exclusion over HLL estimates:
    |A| + |B| − |A ∪ B| (union = non-mutating register merge).

    The reference exercises exactly this algebra in
    ``TestHyperLogLogPlus.testMerge_SparseIntersection``
    (``src/test/java/.../TestHyperLogLogPlus.java:489-515``): in the
    sparse-exact regime the result is EXACT; in the dense regime the
    error compounds to ~rse·(|A| + |B| + |A∪B|), so small overlaps of
    large sets drown in noise — callers wanting guaranteed overlap
    accuracy should intersect bottom-k samples instead.  Inputs are not
    mutated (the union merges a deserialized copy)."""
    union = sketch_from_bytes(sk_a.to_bytes()).merge(sk_b)
    return float(sk_a.cardinality() + sk_b.cardinality() - union.cardinality())


def bottomk_overlap_estimate(sk_a, sk_b) -> dict:
    """Set overlap from two bottom-k samples over the SAME hash
    function (the guaranteed-accuracy alternative the HLL
    inclusion-exclusion docstring points at): take the k smallest
    hashes of the UNION; the fraction of those present in BOTH samples
    is an unbiased Jaccard estimator with s.e. ≈ √(J(1−J)/k)
    (classic MinHash/bottom-k coordination), and
    |A∩B| ≈ J · |A∪B|_bottom-k.

    Works because a hash in the union's bottom-k that belongs to A is
    necessarily in A's bottom-k too (it is smaller than A's k-th
    smallest) — so membership tests against the two samples are exact.
    Returns {jaccard, intersection, union} estimates."""
    import numpy as np

    if sk_a.k != sk_b.k:
        raise ValueError("bottom-k overlap needs equal k")
    union = type(sk_a).from_bytes(sk_a.to_bytes()).merge(sk_b)
    uh = union.hashes  # sorted ascending, truncated to k
    in_a = np.isin(uh, sk_a.hashes)
    in_b = np.isin(uh, sk_b.hashes)
    both = int((in_a & in_b).sum())
    j = both / len(uh) if len(uh) else 0.0
    u_est = union.distinct_estimate()
    return {"jaccard": float(j), "intersection": float(j * u_est), "union": float(u_est)}


def cms_frequencies_df(df: DataFrame, col: str, probes: DataFrame,
                       probe_col: str | None = None, eps: float = 1e-4,
                       confidence: float = 0.99, conservative: bool = False,
                       **kw) -> DataFrame:
    """DataFrame-native CMS probe: build the global sketch over
    ``df[col]``, then probe a probe COLUMN executor-side → ``probes``
    plus ``est_count`` long.

    Unlike ``cms_frequencies`` (a driver-built probe frame over this
    function, fine for small ad-hoc sets), the probe table here never
    touches the driver: the collected sketch blob ships via a cached
    ``SparkContext.broadcast`` and each Arrow batch of probes is
    estimated with the vectorized kernel — so a 10^9-row candidate list
    (e.g. decontamination candidates probed against a corpus CMS) is a
    plain scan + Arrow UDF, no collect anywhere.  Probe hashing reuses
    the exact JVM xxhash64-of-``df[col]``'s-type the update path used."""
    probe_col = probe_col or col
    cms = collect_sketch(sketch_agg(
        df, [], col,
        SketchSpec("cms", eps=eps, confidence=confidence, conservative=conservative), **kw))
    est = _probe_udf(probes.sparkSession, cms, T.LongType(), "estimate_hashed")
    # null / uncastable probes get a NULL estimate, not the count at the
    # pseudo-hash of NULL (the build path dropped nulls, so membership
    # of such probes is undefined/zero, never hash(NULL)'s bucket)
    cast_col = F.col(probe_col).try_cast(dict(df.dtypes)[col])
    return probes.withColumn(
        "est_count", F.when(cast_col.isNotNull(), est(F.xxhash64(cast_col))))


def bloom_build(df: DataFrame, col: str, n_elements: int, fpp: float = 0.01, **kw):
    """Distributed Bloom build → driver-side BloomFilter."""
    return collect_sketch(
        sketch_agg(df, [], col, SketchSpec("bloom", n_elements=n_elements, fpp=fpp), **kw)
    )


_blob_bcasts: dict = {}  # (app_id, blob_sha) -> Broadcast, see bloom_probe

# Executor-side cache of PARSED probe sketches: an Arrow UDF body runs
# once per Arrow batch, and re-parsing a ~24 MB Bloom/CMS blob per
# batch is a pointless memcpy.  Keyed by a driver-generated token
# closed into the UDF (worker-side Broadcast objects expose no stable
# id) and bounded to the last few sketches a worker process probed.
_parsed_cache: dict = {}
_PARSED_CACHE_MAX = 4


def _probe_udf(spark, sketch, return_type: T.DataType, method: str):
    """Arrow UDF running ``sketch.<method>(hashes)`` on the executors
    over an int64 hash column.  The sketch blob ships once through
    ``_broadcast_blob``; its body is the module-level ``_probe`` so the
    worker's ``_parsed_cache`` outlives one task's copy of the UDF."""
    bc, tok = _broadcast_blob(spark, sketch.to_bytes())
    return F.arrow_udf(functools.partial(
        _probe, tok, bc, type(sketch).from_bytes, method, to_arrow_type(return_type)), return_type)


def _probe(tok: str, bc, parse, method: str, arrow_type, hashes):
    sk = _parsed_cache.get(tok)
    if sk is None:
        if len(_parsed_cache) >= _PARSED_CACHE_MAX:
            _parsed_cache.pop(next(iter(_parsed_cache)))
        sk = _parsed_cache[tok] = parse(bc.value)
    return pa.array(getattr(sk, method)(hashes.to_numpy()), arrow_type)


def _broadcast_blob(spark, blob: bytes):
    """Cached ``SparkContext.broadcast`` of a sketch blob: torrent-
    distributed once per executor, NOT closure-serialized per task;
    cached per (app, content) so repeated probes reuse one broadcast.
    Returns (broadcast, content-token) — the token keys the executor-
    side parsed-sketch cache."""
    import hashlib

    sha = hashlib.sha256(blob).hexdigest()
    key = (spark.sparkContext.applicationId, sha)
    bc = _blob_bcasts.get(key)
    if bc is None:
        bc = _blob_bcasts[key] = spark.sparkContext.broadcast(blob)
    return bc, sha


def bloom_probe(bf, df: DataFrame, col: str) -> DataFrame:
    """Probe a DataFrame column against a driver-side Bloom filter →
    adds boolean ``might_contain`` (JVM-side xxhash64 + Arrow batch probe).

    The probe column's TYPE must match the build column's type —
    ``xxhash64`` is type-sensitive (``hash(1 AS INT) != hash(1 AS
    BIGINT)``); cast the probe column first if they differ
    (``cms_frequencies_df`` does this internally via the source df).

    The filter blob ships via ``SparkContext.broadcast`` — once per
    executor, torrent-distributed — NOT in the UDF closure, which would
    re-serialize it with every task (a 20M-element filter is ~24 MB).
    Broadcasts are cached per (app, filter-content) so repeated probes
    of the same filter reuse one broadcast; they live for the app's
    lifetime because the returned DataFrame is lazy (an eager destroy
    would break later executions).  Long-lived apps cycling through many
    DISTINCT filters should call ``bloom_probe.clear_cache(destroy=True)``
    between generations once prior results are materialized."""
    probe = _probe_udf(df.sparkSession, bf, T.BooleanType(), "contains_hashed")
    # NULL probe values were never added (the build path drops nulls),
    # so answer NULL, not the bit pattern at xxhash64(NULL)
    return df.withColumn(
        "might_contain",
        F.when(F.col(col).isNotNull(), probe(F.xxhash64(F.col(col)))))


def _bloom_clear_cache(destroy: bool = False) -> int:
    """Drop (and optionally destroy on executors) all cached blob
    broadcasts (Bloom + CMS).  Only call destroy=True after every
    DataFrame returned by bloom_probe / cms_frequencies_df has been
    fully materialized."""
    n = len(_blob_bcasts)
    for bc in _blob_bcasts.values():
        if destroy:
            bc.destroy()
        else:
            bc.unpersist()
    _blob_bcasts.clear()
    return n


bloom_probe.clear_cache = _bloom_clear_cache
