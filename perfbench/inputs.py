"""Seeded transcript inputs and their exact oracle, cached per seed.

The library's own generator (``transcripts.generate_transcripts``) and
``turn_latencies`` write one parquet table per (n_convs, seed).  The
wide ``text`` column is left out: no workload reads it, and it would
dominate the generation time.  DuckDB then computes the exact answers
every check needs from that parquet, and they are cached beside it.
The probe keys of the distinct conv_id and tool strings are Spark's
``xxhash64`` of each string, computed here in numpy (a wrong hash would
show as Bloom false negatives and Count-Min under-counts).

A table directory is complete once its ``meta.json`` exists; it is
written last.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np

COLUMNS = ["conv_id", "turn_idx", "role", "tool", "ts", "latency_s"]

#: at most this many seeded tables are kept; the oldest go first
CACHE_TABLES = 24


class Table:
    """A generated table and its oracle, loaded lazily from the cache."""

    def __init__(self, root: str, fresh: bool = False):
        #: generated by this process, not read from the cache
        self.root, self.fresh = root, fresh
        self.data = os.path.join(root, "data")
        with open(os.path.join(root, "meta.json")) as f:
            self.meta = json.load(f)
        o = np.load(os.path.join(root, "oracle.npz"), allow_pickle=False)
        self.rows = int(self.meta["rows"])
        self.n_convs = int(self.meta["distinct_convs"])
        self.latency_sorted = o["latency_sorted"]
        # per-conv sorted latencies: values[offsets[i]:offsets[i+1]]
        self.conv_keys = o["conv_keys"].astype(str)
        self.conv_offsets = o["conv_offsets"]
        self.conv_values = o["conv_values"]
        self.conv_hashes = o["conv_hashes"]
        self.tools = o["tools"].astype(str)
        self.tool_counts = o["tool_counts"]
        self.tool_hashes = o["tool_hashes"]
        # distinct conv_id per tool group; the null-tool group is "" here
        self.tool_group_keys = o["tool_group_keys"].astype(str)
        self.tool_group_distinct = o["tool_group_distinct"]


_U = np.uint64
_P1, _P2, _P3, _P4, _P5 = (_U(0x9E3779B185EBCA87), _U(0xC2B2AE3D27D4EB4F),
                           _U(0x165667B19E3779F9), _U(0x85EBCA77C2B2AE63),
                           _U(0x27D4EB2F165667C5))


def _rotl(x, r: int):
    return (x << _U(r)) | (x >> _U(64 - r))


def xxhash64_strings(strings: list[str], seed: int = 42) -> np.ndarray:
    """Spark's ``xxhash64`` of each string (XXH64 of its UTF-8 bytes,
    seed 42), for strings shorter than 32 bytes."""
    raw = [s.encode() for s in strings]
    lens = np.array([len(b) for b in raw], dtype=np.int64)
    if len(raw) and lens.max() >= 32:
        raise ValueError("xxhash64_strings covers strings shorter than 32 bytes")
    out = np.empty(len(raw), dtype=_U)
    with np.errstate(over="ignore"):
        for n in np.unique(lens):
            idx = np.flatnonzero(lens == n)
            buf = np.frombuffer(b"".join(raw[i] for i in idx), dtype=np.uint8)
            buf = buf.reshape(len(idx), n)
            h = np.full(len(idx), _U(seed) + _P5 + _U(n), dtype=_U)
            p = 0
            while p + 8 <= n:
                k = buf[:, p:p + 8].copy().view("<u8")[:, 0]
                h ^= _rotl(k * _P2, 31) * _P1
                h = _rotl(h, 27) * _P1 + _P4
                p += 8
            if p + 4 <= n:
                h ^= buf[:, p:p + 4].copy().view("<u4")[:, 0].astype(_U) * _P1
                h = _rotl(h, 23) * _P2 + _P3
                p += 4
            for q in range(p, n):
                h ^= buf[:, q].astype(_U) * _P5
                h = _rotl(h, 11) * _P1
            h ^= h >> _U(33)
            h *= _P2
            h ^= h >> _U(29)
            h *= _P3
            h ^= h >> _U(32)
            out[idx] = h
    return out.view(np.int64)


def _oracle(data: str, threads: int) -> dict:
    import duckdb

    con = duckdb.connect(config={"threads": threads})
    try:
        src = f"read_parquet('{data}/*.parquet')"
        rows, distinct = con.execute(
            f"SELECT count(*), count(DISTINCT conv_id) FROM {src}").fetchone()
        lat = con.execute(
            f"SELECT latency_s FROM {src} ORDER BY latency_s").fetchnumpy()["latency_s"]
        per_conv = con.execute(
            f"SELECT conv_id, latency_s FROM {src} ORDER BY conv_id, latency_s").fetchnumpy()
        tools = con.execute(
            f"SELECT tool, count(*) FROM {src} WHERE tool IS NOT NULL "
            "GROUP BY tool ORDER BY tool").fetchnumpy()
        groups = con.execute(
            f"SELECT coalesce(tool, '') AS g, count(DISTINCT conv_id) FROM {src} "
            "GROUP BY tool ORDER BY g").fetchnumpy()
    finally:
        con.close()
    keys = np.asarray(per_conv["conv_id"], dtype=object)
    starts = np.flatnonzero(np.r_[True, keys[1:] != keys[:-1]])
    offsets = np.r_[starts, len(keys)].astype(np.int64)
    tool_names = np.asarray(tools["tool"], dtype=object)
    return {
        "rows": int(rows),
        "distinct_convs": int(distinct),
        "arrays": {
            "latency_sorted": np.asarray(lat, dtype=np.float64),
            "conv_keys": keys[starts].astype(str),
            "conv_offsets": offsets,
            "conv_values": np.asarray(per_conv["latency_s"], dtype=np.float64),
            "conv_hashes": xxhash64_strings(keys[starts].tolist()),
            "tools": tool_names.astype(str),
            "tool_counts": np.asarray(tools[list(tools)[1]], dtype=np.int64),
            "tool_hashes": xxhash64_strings(tool_names.tolist()),
            "tool_group_keys": np.asarray(groups["g"], dtype=object).astype(str),
            "tool_group_distinct": np.asarray(groups[list(groups)[1]], dtype=np.int64),
        },
    }


def _evict(cache: str, keep: str) -> None:
    entries = [os.path.join(cache, d) for d in os.listdir(cache)]
    entries = [d for d in entries if d != keep and os.path.isdir(d)]
    entries.sort(key=os.path.getmtime)
    for d in entries[: max(0, len(entries) + 1 - CACHE_TABLES)]:
        shutil.rmtree(d, ignore_errors=True)


def _generate(spark, data: str, n_convs: int, seed: int, threads: int) -> float:
    """Write the seeded table to ``data``; return the seconds it took."""
    from stream_lib_spark.transcripts import generate_transcripts, turn_latencies

    t0 = time.perf_counter()
    # one file per core: the direct read and the classic scan both get
    # one task per core
    (turn_latencies(generate_transcripts(spark, n_convs, seed))
     .select(*COLUMNS).coalesce(threads).write.parquet(data))
    return time.perf_counter() - t0


def time_generation(spark, scratch: str, n_convs: int, seed: int, threads: int) -> float:
    """Generate the seeded table once more into ``scratch``, removed
    afterwards, and return the seconds it took."""
    data = os.path.join(scratch, "generate")
    shutil.rmtree(data, ignore_errors=True)
    try:
        return _generate(spark, data, n_convs, seed, threads)
    finally:
        shutil.rmtree(data, ignore_errors=True)


def ensure_table(spark, cache: str, n_convs: int, seed: int, threads: int) -> Table:
    """Generate (once) the seeded table and its oracle; return it."""
    root = os.path.join(cache, f"convs{n_convs}-files{threads}-seed{seed}")
    if os.path.exists(os.path.join(root, "meta.json")):
        os.utime(root)
        return Table(root)
    os.makedirs(cache, exist_ok=True)
    _evict(cache, root)
    shutil.rmtree(root, ignore_errors=True)
    data = os.path.join(root, "data")
    generate_s = _generate(spark, data, n_convs, seed, threads)
    t0 = time.perf_counter()
    oracle = _oracle(data, threads)
    oracle_s = time.perf_counter() - t0
    np.savez(os.path.join(root, "oracle.npz"), **oracle["arrays"])
    meta = {"n_convs": n_convs, "seed": seed, "rows": oracle["rows"],
            "distinct_convs": oracle["distinct_convs"],
            "generate_s": generate_s, "oracle_s": oracle_s}
    with open(os.path.join(root, "meta.json.tmp"), "w") as f:
        json.dump(meta, f)
    os.replace(os.path.join(root, "meta.json.tmp"), os.path.join(root, "meta.json"))
    return Table(root, fresh=True)
