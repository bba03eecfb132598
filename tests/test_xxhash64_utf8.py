"""Bit parity of ``hashing.xxhash64_utf8`` with Spark's ``F.xxhash64``
over string columns, the hash the direct row-group read gives a string
hash column (``agg._row_groups``).

Covered: every byte length 0-100 (each XXH64 tail branch: 8-, 4- and
1-byte) and lengths of 200 and more (the 32-byte stripe loop run many
times); ASCII, multi-byte and embedded-NUL strings and the empty
string; a sliced array whose offset is not 0; ``large_string``; nulls,
through the direct read.
"""
from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from stream_lib_spark import agg
from stream_lib_spark.agg import SketchSpec
from stream_lib_spark.arrowbuf import string_bytes
from stream_lib_spark.hashing import xxhash64_utf8

LENGTHS = list(range(0, 101)) + [200, 201, 255, 256, 257, 333, 511, 1024]


def _strings() -> list[str]:
    rng = np.random.default_rng(20261019)
    alphabet = list("abcXYZ019 -_") + ["é", "ß", "中", "文", "😀", "\x00"]
    out = ["", "\x00", "\x00\x00abc", "a\x00b", "é", "😀"]
    for n in LENGTHS:
        out.append("x" * n)  # ASCII: byte length exactly n
        out.append("".join(rng.choice(alphabet, size=n)))  # mixed widths, NULs
    return out


def _jvm(spark, arr: pa.Array) -> list:
    """Spark's xxhash64 of each string, None for a null."""
    df = spark.createDataFrame(pa.table({"s": arr.cast(pa.string())}))
    return [r.h for r in df.select(F.when(F.col("s").isNotNull(), F.xxhash64("s")).alias("h")).collect()]


@pytest.fixture(scope="module")
def strings_and_jvm(spark):
    arr = pa.array(_strings(), pa.string())
    return arr, _jvm(spark, arr)


def test_every_byte_length_matches_spark(strings_and_jvm):
    arr, jvm = strings_and_jvm
    _, offsets = string_bytes(arr)
    assert set(LENGTHS) <= set(np.diff(offsets).tolist())
    assert xxhash64_utf8(*string_bytes(arr)).tolist() == jvm


def test_sliced_and_large_string_match_spark(strings_and_jvm):
    arr, jvm = strings_and_jvm
    sliced = arr.slice(7, 150)
    assert sliced.offset == 7
    assert xxhash64_utf8(*string_bytes(sliced)).tolist() == jvm[7:157]
    large = arr.cast(pa.large_string())
    assert xxhash64_utf8(*string_bytes(large)).tolist() == jvm
    assert xxhash64_utf8(*string_bytes(large.slice(3, 40))).tolist() == jvm[3:43]


def test_empty_input():
    assert xxhash64_utf8(*string_bytes(pa.array([], pa.string()))).tolist() == []


@pytest.mark.parametrize("use_dictionary", [True, False])
def test_direct_read_hashes_match_spark_with_nulls(spark, tmp_path, use_dictionary):
    """The direct read's hash column equals ``F.xxhash64`` row for row,
    null where the value is null (a second, never-null column keeps the
    null rows in the batch)."""
    rng = np.random.default_rng(3)
    strs = _strings()
    values = pa.array([None if r < 0.3 else strs[int(r * 1000) % len(strs)] for r in rng.random(3_000)],
                      pa.string())
    path = str(tmp_path / "s.parquet")
    pq.write_table(pa.table({"s": values, "i": pa.array(range(3_000), pa.int64())}), path,
                   row_group_size=1_000, use_dictionary=use_dictionary)
    sketches = {"h": ("s", SketchSpec("hll", p=12)), "v": ("i", SketchSpec("hll", p=12))}
    source = agg._row_groups([(path, rg) for rg in range(3)], [], sketches, {"h": pa.string(), "v": pa.int64()})
    got = [h for rb in source([{"id": [0, 1, 2]}]) for h in rb.column("__in_h").to_pylist()]
    assert got == _jvm(spark, values)
    assert got.count(None) == values.null_count > 0
