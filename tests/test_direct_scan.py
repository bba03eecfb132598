"""Round-8 direct parquet row-group scan path (agg._direct_tasks /
agg._row_groups, fed to the shared kernels by agg._build).

Contract under test:
  * ``xxhash64_long`` is bit-parity with Spark's ``F.xxhash64`` over
    LongType (golden literals + random fuzz);
  * for the monoid-invariant kinds (hll, plain cms) the direct path's
    merged sketch is BYTE-identical to the classic Arrow-feed path,
    including on multi-row-group files with nulls (partial grouping
    differs; the merge is a commutative monoid);
  * for the batching-sensitive quantile kinds (tdigest, kll) the direct
    path is deterministic and its estimates sit within the same
    published rank bound the gates assert (no declared query exposes
    digest bytes — quantile gates output within_bound booleans);
  * every ineligible shape (filter/project above the scan, non-xxhash64
    hash mode, a hash column neither long nor string, non-whitelisted
    kind, conservative CMS, kill switch, a kill-switch value other than
    "1") falls back to the classic path;
  * a multi-sketch request reads directly only when every sketch is
    eligible, with the same bytes as the one-sketch builds;
  * a string hash column is read as its parquet dictionary (plain pages,
    mostly-null and all-null row groups, ``large_string`` files, string
    keys) with hll/cms/bloom bytes identical to the classic path, and
    its dictionary is hashed once per row group however many sketches
    read it.
"""
from __future__ import annotations

import io
import os
import re
from contextlib import redirect_stdout

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from stream_lib_spark import agg
from stream_lib_spark.agg import (
    STATE_COL,
    SketchSpec,
    _direct_tasks,
    _n_partitions,
    collect_sketch,
    multi_sketch_agg,
    sketch_agg,
    sketch_partials,
)
from stream_lib_spark.hashing import xxhash64_long

SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(autouse=True)
def _engage_at_any_size(monkeypatch):
    """The fixtures here are far below the production row threshold;
    pin the MECHANISM with the threshold lowered (the threshold itself
    is covered by test_min_rows_threshold)."""
    monkeypatch.setattr(agg, "_DIRECT_SCAN_MIN_ROWS", 0)


def _direct_count(df, keys, col, spec, hash_mode="xxhash64"):
    """Task count of the direct build, read off its plan by the merge's
    own count; None = classic path."""
    if _direct_tasks(df, keys, {STATE_COL: (col, spec)}, hash_mode) is None:
        return None
    return _n_partitions(sketch_partials(df, keys, col, spec, hash_mode))


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _direct_and_classic(run):
    """(run() with the direct read on, run() with it off); the kill
    switch's earlier value is restored after."""
    old = os.environ.get("SPARK_GRAFT_DIRECT_SCAN")
    try:
        out = []
        for mode in ("1", "0"):
            os.environ["SPARK_GRAFT_DIRECT_SCAN"] = mode
            out.append(run())
        return tuple(out)
    finally:
        if old is None:
            os.environ.pop("SPARK_GRAFT_DIRECT_SCAN", None)
        else:
            os.environ["SPARK_GRAFT_DIRECT_SCAN"] = old


def _both(df, col, spec, hash_mode="xxhash64"):
    return _direct_and_classic(lambda: collect_sketch(sketch_agg(df, [], col, spec, hash_mode)))


def test_min_rows_threshold(spark, sf_dir, monkeypatch):
    """Below ``_DIRECT_SCAN_MIN_ROWS`` the constant cost of the path
    exceeds the per-row feed saving; it must disengage."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    hll = SketchSpec("hll", p=12)
    monkeypatch.setattr(agg, "_DIRECT_SCAN_MIN_ROWS", 10**12)
    assert _direct_count(li, [], "l_orderkey", hll, "xxhash64") is None
    monkeypatch.setattr(agg, "_DIRECT_SCAN_MIN_ROWS", 0)
    assert _direct_count(li, [], "l_orderkey", hll, "xxhash64") is not None


def test_xxhash64_long_golden_and_fuzz(spark):
    vals = [0, 1, -1, 2**63 - 1, -(2**63), 123456789, 42, -42]
    # literals captured from F.xxhash64 on this Spark build (4.1.2)
    golden = [-5252525462095825812, -7001672635703045582, 3858142552250413010,
              -3246596055638297850, -8619748838626508300, 3415128141240069951,
              -6876166290308861218, -6086559926526557199]
    assert xxhash64_long(np.array(vals, dtype=np.int64)).tolist() == golden
    rng = np.random.default_rng(20260822)
    rv = rng.integers(-2**63, 2**63 - 1, size=5000, dtype=np.int64)
    jvm = np.array(
        [r.h for r in spark.createDataFrame([(int(v),) for v in rv], "v long")
         .select(F.xxhash64("v").alias("h")).collect()],
        dtype=np.int64)
    assert (xxhash64_long(rv) == jvm).all()


@pytest.mark.parametrize("col,spec", [
    ("l_orderkey", SketchSpec("hll", p=14)),
    ("l_orderkey", SketchSpec("hll", p=12, sp=0, estimator="classic")),
    ("l_partkey", SketchSpec("cms", eps=1e-3, confidence=0.99)),
    ("l_partkey", SketchSpec("bloom", n_elements=50_000, fpp=0.01)),
])
def test_monoid_kinds_byte_identical(spark, sf_dir, col, spec):
    for d in (sf_dir, SF_CORRECTNESS):  # sparse AND denser HLL regimes
        df = spark.read.parquet(f"{d}/lineitem.parquet")
        assert _direct_count(df, [], col, spec, "xxhash64") is not None
        direct, classic = _both(df, col, spec)
        assert direct.to_bytes() == classic.to_bytes()


def test_multi_row_group_file_with_nulls(spark, tmp_path):
    """Partial grouping differs between the paths (one partial per row
    group vs per scan split); the merged monoid state must not."""
    rng = np.random.default_rng(7)
    n = 50_000
    ids = rng.integers(0, 10_000, size=n)
    mask = rng.random(n) < 0.05
    vals = pa.array([None if m else int(v) for v, m in zip(ids, mask)],
                    type=pa.int64())
    path = str(tmp_path / "multi_rg.parquet")
    pq.write_table(pa.table({"k": vals}), path, row_group_size=7_000)
    assert pq.ParquetFile(path).metadata.num_row_groups > 4
    df = spark.read.parquet(path)
    spec = SketchSpec("hll", p=12)
    tasks = _direct_count(df, [], "k", spec, "xxhash64")
    assert tasks is not None
    direct, classic = _both(df, "k", spec)
    assert direct.to_bytes() == classic.to_bytes()
    cms = SketchSpec("cms", eps=1e-3, confidence=0.99)
    direct, classic = _both(df, "k", cms)
    assert direct.to_bytes() == classic.to_bytes()


def test_quantile_kinds_deterministic_and_within_bound(spark):
    df = spark.read.parquet(f"{SF_CORRECTNESS}/lineitem.parquet")
    col = "l_extendedprice"
    n = df.where(F.col(col).isNotNull()).count()
    for spec, q, bound in [
        (SketchSpec("tdigest", compression=100.0), 0.99, 0.012),
        (SketchSpec("kll", k=200), 0.5, 0.015),
    ]:
        direct, classic = _both(df, col, spec)
        d2, _ = _both(df, col, spec)
        assert direct.to_bytes() == d2.to_bytes()  # deterministic
        for sk in (direct, classic):
            est = float(sk.quantile(q))
            rank = df.where(F.col(col) <= est).count() / n
            assert abs(rank - q) <= bound


def test_many_row_groups_fan_in(spark, tmp_path):
    """Above 64 tasks the direct partials go through the auto fan-in
    merge level (sized from the exact task count), byte-identical to
    the classic path."""
    rng = np.random.default_rng(3)
    vals = pa.array(rng.integers(0, 5_000, size=70_000), type=pa.int64())
    path = str(tmp_path / "many_rg.parquet")
    pq.write_table(pa.table({"k": vals}), path, row_group_size=1_000)
    assert pq.ParquetFile(path).metadata.num_row_groups == 70  # > 64 tasks
    df = spark.read.parquet(path)
    spec = SketchSpec("hll", p=12)
    assert _direct_count(df, [], "k", spec) == 70
    wide = sketch_agg(df, [], "k", spec)
    # fan-in level: a third MapInArrow (build, fan-in level, final
    # fold), no pandas operator
    plan = _plan(wide)
    assert "InPandas" not in plan
    assert len(set(re.findall(r"\((\d+)\) MapInArrow", plan))) == 3
    assert not hasattr(wide, "_slp_driver_fold")
    direct, classic = _both(df, "k", spec)
    assert direct.to_bytes() == classic.to_bytes()


def _two_files(tmp_path, name="two.parquet"):
    ddir = tmp_path / name
    ddir.mkdir()
    for f, lo in (("a.parquet", 0), ("b.parquet", 100)):
        pq.write_table(pa.table({"k": pa.array(range(lo, lo + 100), type=pa.int64())}), str(ddir / f))
    return ddir


def test_task_read_error_names_kill_switch(spark, tmp_path):
    """A file that changes between planning (the driver read its
    footer) and the task's read fails inside the task — the column
    gone, or of another type — and the error must name the file, the
    row group and the kill switch instead of a bare pyarrow error."""
    spec = SketchSpec("hll", p=12)
    for i, drifted in enumerate(({"j": pa.array(range(100), type=pa.int64())},
                                 {"k": pa.array(range(100), type=pa.int32())})):
        ddir = _two_files(tmp_path, f"drift{i}.parquet")
        df = spark.read.parquet(str(ddir))
        assert _direct_count(df, [], "k", spec) == 2
        merged = sketch_agg(df, [], "k", spec)
        pq.write_table(pa.table(drifted), str(ddir / "b.parquet"))
        with pytest.raises(Exception) as err:
            collect_sketch(merged)
        msg = str(err.value)
        assert "SPARK_GRAFT_DIRECT_SCAN=0" in msg and "b.parquet" in msg and "row group 0" in msg


def test_file_bound_disengages_before_any_footer(spark, tmp_path, monkeypatch):
    """Above _DIRECT_SCAN_MAX_FILES input files the direct read does not
    engage, and the driver opens no footer to find that out."""
    import stream_lib_spark.agg as agg

    df = spark.read.parquet(str(_two_files(tmp_path)))
    spec = SketchSpec("hll", p=12)
    assert _direct_count(df, [], "k", spec) == 2
    opened = []
    real = pq.ParquetFile

    def spy(path, *a, **kw):
        opened.append(path)
        return real(path, *a, **kw)

    monkeypatch.setattr(pq, "ParquetFile", spy)
    monkeypatch.setattr(agg, "_DIRECT_SCAN_MAX_FILES", 1)
    assert agg._direct_tasks(df, [], {STATE_COL: ("k", spec)}, "xxhash64") is None
    assert opened == []
    monkeypatch.setattr(agg, "_DIRECT_SCAN_MAX_FILES", 2)
    tasks, _ = agg._direct_tasks(df, [], {STATE_COL: ("k", spec)}, "xxhash64")
    assert len(tasks) == 2 and len(opened) == 2


def _both_keyed(df, keys, col, spec):
    def run():
        out = sketch_agg(df, keys, col, spec).toPandas()
        out["sketch"] = out["sketch"].map(bytes)
        return out.sort_values(keys, na_position="first",
                               ignore_index=True)
    return _direct_and_classic(run)


def test_keyed_byte_identical(spark, sf_dir):
    """Keyed direct build (string keys, hash-mode long value): per-key
    merged state must be byte-identical to the classic keyed path."""
    ev = spark.read.parquet(f"{SF_CORRECTNESS}/events.parquet")
    for spec in (SketchSpec("hll", p=12),
                 SketchSpec("cms", eps=1e-3, confidence=0.99)):
        assert _direct_count(ev, ["event_type"], "user_id", spec, "xxhash64") is not None
        direct, classic = _both_keyed(ev, ["event_type"], "user_id", spec)
        assert direct.equals(classic)


def test_keyed_null_keys_and_values(spark, tmp_path):
    """Null KEYS form their own group (dropna=False) and null VALUES
    are dropped before grouping — identical to the classic path, on a
    multi-row-group file so partial boundaries differ."""
    rng = np.random.default_rng(11)
    n = 30_000
    keys = pa.array([None if r < 0.1 else f"k{int(r * 4)}"
                     for r in rng.random(n)], type=pa.string())
    vals = pa.array([None if r < 0.07 else int(r * 10_000)
                     for r in rng.random(n)], type=pa.int64())
    path = str(tmp_path / "keyed_rg.parquet")
    pq.write_table(pa.table({"k": keys, "v": vals}), path,
                   row_group_size=4_000)
    df = spark.read.parquet(path)
    spec = SketchSpec("hll", p=12)
    assert _direct_count(df, ["k"], "v", spec, "xxhash64") is not None
    direct, classic = _both_keyed(df, ["k"], "v", spec)
    assert direct.equals(classic)
    assert direct["k"].isna().any()  # the null-key group survived


def test_keyed_ineligible_shapes(spark, sf_dir):
    ev = spark.read.parquet(f"{SF_CORRECTNESS}/events.parquet")
    # long key column: the keyed build groups via pandas, string keys only
    assert _direct_count(ev, ["user_id"], "event_id", SketchSpec("hll", p=12), "xxhash64") is None
    # keyed quantile kinds expose per-key estimates: excluded
    assert _direct_count(ev, ["event_type"], "value",
        SketchSpec("tdigest", compression=100.0), "xxhash64") is None


def test_ineligible_shapes_fall_back(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    hll = SketchSpec("hll", p=12)
    assert _direct_count(li.where(F.col("l_orderkey") > 5), [],
                         "l_orderkey", hll, "xxhash64") is None
    assert _direct_count(li.select("l_orderkey"), [],
                         "l_orderkey", hll, "xxhash64") is None
    assert _direct_count(li.limit(10), [],
                         "l_orderkey", hll, "xxhash64") is None
    assert _direct_count(li, [], "l_orderkey", hll, "murmur64") is None
    assert _direct_count(li, [], "l_linenumber", hll, "xxhash64") is None  # int32
    assert _direct_count(li, [], "l_quantity", SketchSpec("qdigest", compression_factor=64),
        "xxhash64") is None
    assert _direct_count(li, [], "l_partkey",
        SketchSpec("cms", eps=1e-3, confidence=0.99, conservative=True),
        "xxhash64") is None
    os.environ["SPARK_GRAFT_DIRECT_SCAN"] = "0"
    try:
        assert _direct_count(li, [], "l_orderkey", hll, "xxhash64") is None
    finally:
        os.environ.pop("SPARK_GRAFT_DIRECT_SCAN", None)
    # and the fallback computes the same bytes as the engaged path
    direct, classic = _both(li, "l_orderkey", hll)
    assert direct.to_bytes() == classic.to_bytes()


@pytest.mark.parametrize("value", ["garbage", "true", "01"])
def test_malformed_knob_fails_closed(spark, sf_dir, value, monkeypatch):
    """The kill switch engages the direct read only at exactly "1": any
    other value turns it off (classic result) instead of raising out of
    the aggregation."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    hll = SketchSpec("hll", p=12)
    monkeypatch.setenv("SPARK_GRAFT_DIRECT_SCAN", value)
    assert _direct_count(li, [], "l_orderkey", hll) is None
    got = collect_sketch(sketch_agg(li, [], "l_orderkey", hll))
    monkeypatch.delenv("SPARK_GRAFT_DIRECT_SCAN")
    _, classic = _both(li, "l_orderkey", hll)
    assert got.to_bytes() == classic.to_bytes()


def test_multi_sketch_direct_read(spark):
    """hll(long) + tdigest(double) in one request read the row groups
    directly (no parquet scan node); each blob equals its one-sketch
    direct build."""
    li = spark.read.parquet(f"{SF_CORRECTNESS}/lineitem.parquet")
    hll, td = SketchSpec("hll", p=14), SketchSpec("tdigest", compression=100.0)
    multi = multi_sketch_agg(li, {"h": ("l_orderkey", hll),
                                  "t": ("l_extendedprice", td)})
    assert "Scan parquet" not in _plan(multi) and "Range" in _plan(multi)
    row = multi.collect()[0]
    assert bytes(row["h"]) == collect_sketch(sketch_agg(li, [], "l_orderkey", hll)).to_bytes()
    assert _direct_count(li, [], "l_extendedprice", td) is not None
    assert bytes(row["t"]) == collect_sketch(sketch_agg(li, [], "l_extendedprice", td)).to_bytes()


def test_multi_sketch_mixed_request_goes_classic(spark):
    """One ineligible sketch (a conservative CMS) sends every sketch of
    the request down the classic path."""
    li = spark.read.parquet(f"{SF_CORRECTNESS}/lineitem.parquet")
    hll = SketchSpec("hll", p=14)
    conservative = SketchSpec("cms", eps=1e-3, confidence=0.99, conservative=True)
    mixed = {"h": ("l_orderkey", hll), "c": ("l_partkey", conservative)}
    assert _direct_tasks(li, [], mixed, "xxhash64") is None
    multi = multi_sketch_agg(li, mixed)
    assert "Scan parquet" in _plan(multi)
    assert bytes(multi.collect()[0]["h"]) == collect_sketch(
        sketch_agg(li, [], "l_orderkey", hll)).to_bytes()


def test_multi_sketch_keyed_direct_read(spark, tmp_path):
    """Keyed hll + cms in one direct request, with null keys and nulls
    scattered over both value columns: each per-key blob equals the
    one-sketch classic build (nulls are skipped per column, and no
    hash is rounded through float64)."""
    rng = np.random.default_rng(5)
    n = 30_000
    keys = pa.array([None if r < 0.1 else f"k{int(r * 4)}"
                     for r in rng.random(n)], type=pa.string())

    def longs():
        return pa.array([None if r < 0.07 else int(r * 2**62)
                         for r in rng.random(n)], type=pa.int64())

    path = str(tmp_path / "keyed_multi.parquet")
    pq.write_table(pa.table({"k": keys, "a": longs(), "b": longs()}), path,
                   row_group_size=4_000)
    df = spark.read.parquet(path)
    hll, cms = SketchSpec("hll", p=12), SketchSpec("cms", eps=1e-3, confidence=0.99)
    sketches = {"h": ("a", hll), "c": ("b", cms)}
    assert _direct_tasks(df, ["k"], sketches, "xxhash64") is not None
    multi = multi_sketch_agg(df, sketches, keys=["k"])
    assert "Scan parquet" not in _plan(multi)
    rows = multi.collect()
    assert any(r["k"] is None for r in rows)  # the null-key group survived
    for name, (col, spec) in sketches.items():
        _, classic = _both_keyed(df, ["k"], col, spec)
        want = {k if isinstance(k, str) else None: b
                for k, b in zip(classic["k"], classic["sketch"])}
        assert {r["k"]: bytes(r[name]) for r in rows} == want


STRING_SKETCHES = {"h": SketchSpec("hll", p=12), "c": SketchSpec("cms", eps=1e-3, confidence=0.99),
                   "b": SketchSpec("bloom", n_elements=20_000, fpp=0.01)}


def _string_values(rng, n, null_frac=0.05, distinct=3_000):
    vocab = [f"v{i}" + "é中😀\x00"[: i % 5] + "x" * (i % 41) for i in range(distinct)]
    return pa.array([None if r < null_frac else vocab[int(r * 7919) % distinct]
                     for r in rng.random(n)], type=pa.string())


def _collect_both(df, sketches, keys=()):
    """{(key tuple, name): bytes} of a multi_sketch_agg, direct and classic."""
    return _direct_and_classic(lambda: {
        (tuple(r[k] for k in keys), n): bytes(r[n])
        for r in multi_sketch_agg(df, sketches, keys=list(keys)).collect() for n in sketches})


@pytest.mark.parametrize("layout", ["dictionary", "plain", "mostly_null", "all_null_row_group",
                                    "large_string"])
def test_string_hash_byte_identical(spark, tmp_path, layout):
    """hll/cms/bloom over a string column: the direct read (the
    column's dictionary hashed, the hashes taken by its indices) gives
    the classic path's bytes on every page layout."""
    rng = np.random.default_rng(18)
    n = 20_000
    s = _string_values(rng, n, null_frac=0.95 if layout == "mostly_null" else 0.05)
    if layout == "all_null_row_group":
        s = pa.concat_arrays([pa.nulls(4_000, pa.string()), s.slice(4_000)])
    if layout == "large_string":
        s = s.cast(pa.large_string())
    path = str(tmp_path / f"{layout}.parquet")
    pq.write_table(pa.table({"s": s}), path, row_group_size=4_000,
                   use_dictionary=layout != "plain")
    df = spark.read.parquet(path)
    sketches = {n: ("s", spec) for n, spec in STRING_SKETCHES.items()}
    tasks, wants = _direct_tasks(df, [], sketches, "xxhash64")
    assert len(tasks) == 5 and set(wants.values()) == {pa.string()}
    assert "Scan parquet" not in _plan(multi_sketch_agg(df, sketches))
    direct, classic = _collect_both(df, sketches)
    assert direct == classic
    for name, spec in STRING_SKETCHES.items():  # and each equals its one-sketch build
        assert direct[((), name)] == collect_sketch(sketch_agg(df, [], "s", spec)).to_bytes()


def test_keyed_string_key_and_string_value(spark, tmp_path):
    """Keyed direct build with a string key and a string value, nulls in
    both; the key column read as itself (hashed row by row when it is
    also the value) and the value column read as its dictionary."""
    rng = np.random.default_rng(19)
    n = 20_000
    keys = pa.array([None if r < 0.1 else f"k{int(r * 6)}" for r in rng.random(n)], type=pa.string())
    path = str(tmp_path / "keyed_strings.parquet")
    pq.write_table(pa.table({"k": keys, "s": _string_values(rng, n)}), path, row_group_size=4_000)
    df = spark.read.parquet(path)
    sketches = {n: ("s", spec) for n, spec in STRING_SKETCHES.items()}
    assert _direct_tasks(df, ["k"], sketches, "xxhash64") is not None
    direct, classic = _collect_both(df, sketches, keys=["k"])
    assert direct == classic and ((None,), "h") in direct
    by_self = {"h": ("k", STRING_SKETCHES["h"])}
    assert _direct_tasks(df, ["k"], by_self, "xxhash64") is not None
    direct, classic = _collect_both(df, by_self, keys=["k"])
    assert direct == classic


def test_string_column_hashed_once_per_row_group(tmp_path, monkeypatch):
    """hll and bloom over one string column hash its dictionary once per
    row group, and both sketches get the same hash array."""
    rng = np.random.default_rng(20)
    path = str(tmp_path / "shared.parquet")
    pq.write_table(pa.table({"s": _string_values(rng, 9_000)}), path, row_group_size=3_000)
    calls = []
    real = agg.xxhash64_utf8

    def spy(data, offsets, *a):
        calls.append(len(offsets) - 1)
        return real(data, offsets, *a)

    monkeypatch.setattr(agg, "xxhash64_utf8", spy)
    sketches = {"h": ("s", STRING_SKETCHES["h"]), "b": ("s", STRING_SKETCHES["b"])}
    source = agg._row_groups([(path, rg) for rg in range(3)], [], sketches, {"h": pa.string(), "b": pa.string()})
    batches = list(source([{"id": [0, 1, 2]}]))
    assert len(calls) == 3 and max(calls) <= 3_000  # one dictionary per row group
    for rb in batches:
        assert rb.column("__in_h").equals(rb.column("__in_b"))


def test_string_column_rewritten_as_long_fails_closed(spark, tmp_path):
    """A string column that is a long by the time the task reads it
    fails with the file, the row group and the kill switch named."""
    ddir = tmp_path / "drift_string.parquet"
    ddir.mkdir()
    for f, lo in (("a.parquet", 0), ("b.parquet", 100)):
        pq.write_table(pa.table({"k": pa.array([f"s{i}" for i in range(lo, lo + 100)])}), str(ddir / f))
    df = spark.read.parquet(str(ddir))
    spec = SketchSpec("hll", p=12)
    assert _direct_count(df, [], "k", spec) == 2
    merged = sketch_agg(df, [], "k", spec)
    pq.write_table(pa.table({"k": pa.array(range(100), type=pa.int64())}), str(ddir / "b.parquet"))
    with pytest.raises(Exception) as err:
        collect_sketch(merged)
    msg = str(err.value)
    assert "SPARK_GRAFT_DIRECT_SCAN=0" in msg and "b.parquet" in msg and "row group 0" in msg


@pytest.mark.parametrize("spec", STRING_SKETCHES.values(), ids=STRING_SKETCHES.keys())
def test_hash_updates_capped_and_batching_invariant(spec):
    """``_offer`` feeds a hash-mode sketch at most ``_HASH_CHUNK`` rows
    per update, with the bytes of one whole-batch update."""
    hashes = np.random.default_rng(21).integers(-2**63, 2**63 - 1, size=200_000, dtype=np.int64)
    whole = spec.new()
    (whole.add_hashed if spec.kind == "bloom" else whole.update_hashed)(hashes)
    sizes = []
    sk = spec.new()
    name = "add_hashed" if spec.kind == "bloom" else "update_hashed"
    real = getattr(sk, name)

    def spy(h):
        sizes.append(len(h))
        return real(h)

    setattr(sk, name, spy)
    agg._offer(spec, sk, pa.array(hashes))
    assert max(sizes) == agg._HASH_CHUNK and sum(sizes) == len(hashes)
    assert sk.to_bytes() == whole.to_bytes()
