"""String-column hashing A/B: every row against the parquet dictionary.

For each string column of each parquet file of ``--table``, times two
ways to get Spark's ``xxhash64`` of every row, and asserts they give
equal hashes (nulls included):

  rows        read the column plain and hash every row with
              ``hashing.xxhash64_utf8``
  dictionary  read it with ``read_dictionary`` (as the direct row-group
              read does), hash each chunk's dictionary once and take the
              hashes by the indices

Times are process CPU per file (the read included), best of
``--repeat``, with numpy on one thread.  Prints one JSON line of
{file: {column: {"rows", "distinct" (dictionary entries summed over
the chunks), "rows_s", "dictionary_s", "speedup"}}}.  Without
``--table`` it writes a seeded synthetic file shaped like a perfbench
transcript file (534k rows: ``conv_id`` of 13k distinct values,
``tool`` of 200 values, 85% null) to a temporary directory.

    python tools/bench_xxhash64_utf8.py [--table DIR] [--repeat 5]
"""

from __future__ import annotations

import os

os.environ["OMP_NUM_THREADS"] = "1"  # before numpy loads

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import time  # noqa: E402

import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.compute as pc  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from stream_lib_spark.arrowbuf import string_bytes  # noqa: E402
from stream_lib_spark.hashing import xxhash64_utf8  # noqa: E402


def _hashed(arr: pa.Array) -> pa.Array:
    mask = arr.is_null().to_numpy(zero_copy_only=False) if arr.null_count else None
    return pa.array(xxhash64_utf8(*string_bytes(arr)), mask=mask)


def _chunks(path: str, col: str, dictionary: bool) -> list[pa.Array]:
    """The column's chunks, read one row group at a time as the direct
    read reads them."""
    pf = pq.ParquetFile(path, read_dictionary=[col] if dictionary else None)
    return [c for rg in range(pf.metadata.num_row_groups)
            for c in pf.read_row_group(rg, columns=[col]).column(col).chunks]


def by_rows(path: str, col: str) -> pa.Array:
    return pa.concat_arrays([_hashed(c) for c in _chunks(path, col, False)])


def by_dictionary(path: str, col: str) -> pa.Array:
    return pa.concat_arrays([pc.take(_hashed(c.dictionary), c.indices) for c in _chunks(path, col, True)])


def synthetic(directory: str, rows: int = 533_971, seed: int = 7) -> str:
    rng = np.random.default_rng(seed)
    conv = np.char.add("conv-", rng.integers(0, 13_000, rows).astype(str))
    tool = np.char.add("tool-", rng.zipf(1.3, rows).clip(1, 200).astype(str))
    path = os.path.join(directory, "synthetic.parquet")
    pq.write_table(pa.table({"conv_id": pa.array(conv),
                             "tool": pa.array(tool, mask=rng.random(rows) < 0.85)}),
                   path, row_group_size=rows)
    return path


def best_cpu(fn, repeat: int):
    best, out = float("inf"), None
    for _ in range(repeat):
        t0 = time.process_time()
        out = fn()
        best = min(best, time.process_time() - t0)
    return best, out


def main(argv=None) -> dict:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--table", help="parquet file or directory (every string column is measured)")
    ap.add_argument("--repeat", type=int, default=5)
    args = ap.parse_args(argv)

    with tempfile.TemporaryDirectory() as tmp:
        if not args.table:
            files = [synthetic(tmp)]
        elif os.path.isdir(args.table):
            files = sorted(glob.glob(os.path.join(args.table, "*.parquet")))
        else:
            files = [args.table]
        result: dict = {"source": args.table or "synthetic"}
        for path in files:
            schema = pq.ParquetFile(path).schema_arrow
            per_col = {}
            for field in schema:
                if not (pa.types.is_string(field.type) or pa.types.is_large_string(field.type)):
                    continue
                rows_s, rows_out = best_cpu(lambda: by_rows(path, field.name), args.repeat)
                dict_s, dict_out = best_cpu(lambda: by_dictionary(path, field.name), args.repeat)
                if not rows_out.equals(dict_out):
                    raise SystemExit(f"{path}:{field.name}: dictionary hashes differ from row hashes")
                per_col[field.name] = {
                    "rows": len(rows_out),
                    "distinct": sum(len(c.dictionary) for c in _chunks(path, field.name, True)),
                    "rows_s": round(rows_s, 4), "dictionary_s": round(dict_s, 4),
                    "speedup": round(rows_s / dict_s, 2) if dict_s else None}
            result[os.path.basename(path)] = per_col
    print(json.dumps(result))
    return result


if __name__ == "__main__":
    main()
