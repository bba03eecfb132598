"""``agg._groups`` (the key grouping of the build and merge kernels)
against a pandas reference: the same groups, in the same
first-appearance order, with null keys as their own group and rows in
input order."""

import numpy as np
import pyarrow as pa
import pytest

from stream_lib_spark.agg import _groups


def _pandas_groups(tbl, keys):
    codes = tbl.select(keys).to_pandas().groupby(keys, dropna=False, sort=False).ngroup().to_numpy()
    order = np.argsort(codes, kind="stable")
    tbl = tbl.take(order).combine_chunks()
    starts = np.flatnonzero(np.diff(codes[order], prepend=-1))
    return [(tuple(tbl.column(k)[int(i)].as_py() for k in keys), tbl.slice(i, j - i))
            for i, j in zip(starts, [*starts[1:], len(order)])]


def _table(rng, n):
    def chunks(make):
        return pa.chunked_array([make(n) for _ in range(3)])

    def strings(m):
        v = rng.integers(0, 7, m).astype(str).astype(object)
        v[rng.random(m) < 0.1] = None
        return pa.array(v, pa.string())

    def longs(m):
        return pa.array(rng.integers(-5, 5, m), mask=rng.random(m) < 0.1)

    return pa.table({"s": chunks(strings), "i": chunks(longs), "t": chunks(strings),
                     "row": pa.array(np.arange(3 * n))})


@pytest.mark.parametrize("keys", [["s"], ["i"], ["s", "i"], ["i", "s", "t"]])
def test_groups_match_pandas_reference(keys):
    rng = np.random.default_rng(len(keys))
    for n in (0, 1, 50, 400):
        tbl = _table(rng, n)
        got, want = _groups(tbl, keys), _pandas_groups(tbl, keys)
        assert [k for k, _ in got] == [k for k, _ in want]
        assert all(a.equals(b) for (_, a), (_, b) in zip(got, want))
