"""t-digest ``compress`` A/B: the frozen earlier loop against the current one.

Times the reference ``compress`` (``tests/test_tdigest_compress.py``)
and the current ``TDigest.compress`` on batched shapes the pipeline
feeds it, asserts both give the same bytes on every shape, and prints
one JSON line of {shape: {"reference_s", "current_s", "speedup"}}.
Times are process CPU, best of ``--repeat``, with numpy on one thread.

Shapes:
  keyed           1,000 per-key digests, each built from its values and
                  finalized (the keyed build kernel: ``add_values`` then
                  the finalizing ``compress``)
  keyed_fold      the same keys built over 4 row slices, then each key's
                  partials folded and finalized (``agg._fold`` against
                  the same chained ``merge`` with the reference
                  ``compress``)
  batches_17x65536, batch_1x1048576, batches_100x10000
                  one digest fed that many normal batches, then finalized
  atoms_17x65536  as above over 50 repeated integer values

The keyed shapes read ``latency_s`` by ``conv_id`` from ``--table`` (a
parquet directory, e.g. a perfbench input table); without it they use a
seeded synthetic table of the same size (1,000 keys, about 48.5
lognormal values each).

    python tools/bench_tdigest_compress.py [--table DIR] [--repeat 3]
"""

from __future__ import annotations

import os

os.environ["OMP_NUM_THREADS"] = "1"  # before numpy loads

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import sys  # noqa: E402
import time  # noqa: E402

import numpy as np  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from stream_lib_spark.agg import SketchSpec, _fold  # noqa: E402
from stream_lib_spark.sketches.tdigest import TDigest  # noqa: E402

def _load_reference():
    """``ReferenceTDigest`` from the byte-pin test, loaded by path so no
    other package named ``tests`` on ``sys.path`` can stand in for it."""
    path = os.path.join(ROOT, "tests", "test_tdigest_compress.py")
    spec = importlib.util.spec_from_file_location("tdigest_compress_reference", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module.ReferenceTDigest


ReferenceTDigest = _load_reference()

DELTA = 100.0
SPEC = SketchSpec("tdigest", compression=DELTA)


def keyed_values(table: str | None, seed: int = 7) -> tuple[np.ndarray, np.ndarray]:
    """(key codes, values) in table row order."""
    if table:
        import pyarrow.parquet as pq

        t = pq.read_table(table, columns=["conv_id", "latency_s"]).drop_null()
        keys = t.column("conv_id").combine_chunks().dictionary_encode().indices.to_numpy()
        return keys, t.column("latency_s").to_numpy()
    rng = np.random.default_rng(seed)
    sizes = rng.poisson(48.5, 1000) + 1
    return np.repeat(np.arange(1000), sizes), rng.lognormal(0.0, 1.0, int(sizes.sum()))


def _per_key(keys: np.ndarray, values: np.ndarray) -> list[np.ndarray]:
    order = np.argsort(keys, kind="stable")
    bounds = np.flatnonzero(np.diff(keys[order])) + 1
    return np.split(values[order], bounds)


def keyed(cls, groups):
    return [cls(compression=DELTA).add_values(v).compress().to_bytes() for v in groups]


def slice_partials(keys, values, slices: int = 4) -> list[list[bytes]]:
    """Each key's non-final partial blobs, one per row slice it has rows in."""
    parts: dict[int, list[bytes]] = {}
    for ks, vs in zip(np.array_split(keys, slices), np.array_split(values, slices)):
        for k, v in zip(np.unique(ks), _per_key(ks, vs)):
            parts.setdefault(int(k), []).append(TDigest(compression=DELTA).add_values(v).to_bytes())
    return list(parts.values())


def fold_reference(blob_lists):
    out = []
    for blobs in blob_lists:
        sk = None
        for b in blobs:
            s = ReferenceTDigest.from_bytes(b)
            sk = s if sk is None else sk.merge(s)
        out.append(sk.compress().to_bytes())
    return out


def fold_current(blob_lists):
    return [_fold(blobs, SPEC).to_bytes() for blobs in blob_lists]


def batched(cls, batches):
    sk = cls(compression=DELTA)
    for b in batches:
        sk.add_values(b)
    return [sk.compress().to_bytes()]


def best_cpu(fn, repeat: int):
    best, out = float("inf"), None
    for _ in range(repeat):
        t0 = time.process_time()
        out = fn()
        best = min(best, time.process_time() - t0)
    return best, out


def main(argv=None) -> dict:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--table", help="parquet directory with conv_id and latency_s")
    ap.add_argument("--repeat", type=int, default=3)
    args = ap.parse_args(argv)

    rng = np.random.default_rng(16)
    keys, values = keyed_values(args.table)
    groups = _per_key(keys, values)
    partials = slice_partials(keys, values)
    shapes = {
        "keyed": (lambda: keyed(ReferenceTDigest, groups), lambda: keyed(TDigest, groups)),
        "keyed_fold": (lambda: fold_reference(partials), lambda: fold_current(partials)),
    }
    for name, n_batches, rows, draw in [
        ("batches_17x65536", 17, 65_536, lambda n: rng.normal(0.0, 1.0, n)),
        ("batch_1x1048576", 1, 1_048_576, lambda n: rng.normal(0.0, 1.0, n)),
        ("batches_100x10000", 100, 10_000, lambda n: rng.normal(0.0, 1.0, n)),
        ("atoms_17x65536", 17, 65_536, lambda n: rng.integers(0, 50, n).astype(np.float64)),
    ]:
        batches = [draw(rows) for _ in range(n_batches)]
        shapes[name] = (lambda b=batches: batched(ReferenceTDigest, b), lambda b=batches: batched(TDigest, b))

    result = {"keyed_source": args.table or "synthetic", "keys": len(groups),
              "keyed_rows": int(len(values)), "keyed_fold_partials": sum(map(len, partials))}
    for name, (reference, current) in shapes.items():
        ref_s, ref_out = best_cpu(reference, args.repeat)
        cur_s, cur_out = best_cpu(current, args.repeat)
        if ref_out != cur_out:
            raise SystemExit(f"{name}: bytes differ from the reference")
        result[name] = {"reference_s": round(ref_s, 4), "current_s": round(cur_s, 4),
                        "speedup": round(ref_s / cur_s, 2) if cur_s else None}
    print(json.dumps(result))
    return result


if __name__ == "__main__":
    main()
