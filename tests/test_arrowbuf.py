"""The flat Arrow readers the Python kernels share (``arrowbuf``), the
doc-boundary window mask, and the embedding matrix reader, on sliced
arrays (offset != 0: ``ListArray.values`` ignores the slice and the
offsets are not rebased), empty lists, empty strings and empty batches."""

import numpy as np
import pyarrow as pa
import pytest

from stream_lib_spark.arrowbuf import fixed_lists, list_values, string_bytes
from stream_lib_spark.hashing import murmur64a_bytes, murmur64a_chunked
from stream_lib_spark.similarity import _as_matrix
from stream_lib_spark.textops import _in_one_doc


def _rows(values, offsets):
    return [values[offsets[i]:offsets[i + 1]].tolist() for i in range(len(offsets) - 1)]


def test_list_values_of_a_slice():
    arr = pa.array([[1, 2], [3], [], [4, 5, 6]], pa.list_(pa.int64())).slice(1, 3)
    assert arr.offsets.to_pylist() == [2, 3, 3, 6]  # not rebased
    values, offsets = list_values(arr)
    assert values.tolist() == [3, 4, 5, 6]
    assert offsets.tolist() == [0, 1, 1, 4] and offsets.dtype == np.int64
    assert _rows(values, offsets) == arr.to_pylist()


@pytest.mark.parametrize("arr", [
    pa.array([], pa.list_(pa.int64())),
    pa.array([[1], [2, 3]], pa.list_(pa.int64())).slice(2, 0),
    pa.array([[], [], []], pa.list_(pa.int64())),
    pa.array([[7], [], []], pa.list_(pa.int64())).slice(1),
], ids=["empty", "empty-slice", "empty-lists", "sliced-empty-lists"])
def test_list_values_empty(arr):
    values, offsets = list_values(arr)
    assert len(values) == 0
    assert offsets.tolist() == [0] * (len(arr) + 1)


@pytest.mark.parametrize("typ", [pa.string(), pa.large_string(), pa.binary()])
def test_string_bytes_of_a_slice(typ):
    arr = pa.array(["ab", "c", "", "déf", "g"], typ).slice(1, 3)
    data, offsets = string_bytes(arr)
    assert bytes(data) == "cdéf".encode()
    assert offsets.tolist() == [0, 1, 1, 5] and offsets.dtype == np.int64
    want = [s.encode() if isinstance(s, str) else s for s in arr.to_pylist()]
    assert [bytes(data[a:b]) for a, b in zip(offsets[:-1], offsets[1:])] == want
    hashes = murmur64a_chunked(data, offsets)
    assert [int(h) for h in hashes] == [murmur64a_bytes(b) for b in want]


def test_string_bytes_empty():
    for arr in (pa.array([], pa.string()), pa.array(["a", "b"]).slice(1, 0)):
        data, offsets = string_bytes(arr)
        assert len(data) == 0 and offsets.tolist() == [0]
    data, offsets = string_bytes(pa.array(["a", "", ""]).slice(1))
    assert len(data) == 0 and offsets.tolist() == [0, 0, 0]


@pytest.mark.parametrize("shape", [(3, 2), (1, 64), (0, 4), (2, 0)])
def test_fixed_lists_round_trip(shape):
    m = np.arange(shape[0] * shape[1], dtype=np.int64).reshape(shape)
    arr = fixed_lists(m)
    assert arr.to_pylist() == m.tolist()
    values, offsets = list_values(arr)
    assert _rows(values, offsets) == m.tolist()


def test_fixed_lists_of_a_column_slice():
    m = np.arange(12, dtype=np.int32).reshape(3, 4)[:, :2]  # not contiguous
    arr = fixed_lists(m)
    assert arr.type == pa.list_(pa.int32()) and arr.to_pylist() == m.tolist()


def test_fixed_lists_offsets_overflow_raises():
    m = np.broadcast_to(np.int64(0), (2, 2**31))  # a view: no values are allocated
    with pytest.raises(pa.ArrowInvalid):
        fixed_lists(m)


def _in_one_doc_reference(n_windows, starts, lens, width):
    inside = np.zeros(n_windows, dtype=bool)
    for s, n in zip(starts, lens):
        inside[s:s + max(n - width + 1, 0)] = True
    return inside


@pytest.mark.parametrize("width", [1, 2, 3, 5])
def test_in_one_doc_matches_reference(width):
    rng = np.random.default_rng(width)
    for _ in range(50):
        lens = rng.integers(0, 7, rng.integers(0, 9))
        starts = np.concatenate(([0], np.cumsum(lens)[:-1])).astype(np.int64)
        n_windows = int(lens.sum()) - width + 1
        if n_windows <= 0:
            continue
        got = _in_one_doc(n_windows, starts, lens, width)
        assert got.tolist() == _in_one_doc_reference(n_windows, starts, lens, width).tolist()


def test_in_one_doc_of_a_slice():
    # the rebased offsets of a sliced string array index its windows
    data, offsets = string_bytes(pa.array(["xx", "abc", "", "d", "efgh"]).slice(1))
    mask = _in_one_doc(len(data) - 1, offsets[:-1], np.diff(offsets), 2)
    grams = [bytes(data[i:i + 2]) for i in np.flatnonzero(mask)]
    assert grams == [b"ab", b"bc", b"ef", b"fg", b"gh"]


def test_as_matrix_of_a_slice():
    vecs = [[1.5, 2.0], [3.0, -1.0], [0.0, 0.0], [4.0, 5.0]]
    arr = pa.array(vecs, pa.list_(pa.float32())).slice(1, 2)
    m = _as_matrix(arr)
    assert m.dtype == np.float64 and m.tolist() == vecs[1:3]
    assert _as_matrix(pa.array([], pa.list_(pa.float32()))).shape == (0, 0)
    with pytest.raises(ValueError):
        _as_matrix(pa.array([[1.0, 2.0], [3.0]], pa.list_(pa.float64())))


def test_kernels_on_empty_input(spark):
    from stream_lib_spark.similarity import brute_force_topk, hyperplane_signature
    from stream_lib_spark.textops import minhash_signatures, simhash64, winnowing_fingerprints

    docs = spark.createDataFrame([(1, "a b c d e f")], "doc_id long, text string").where("doc_id < 0")
    for df in (minhash_signatures(docs), simhash64(docs), winnowing_fingerprints(docs)):
        assert df.collect() == []
    emb = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<float>").where("vec_id < 0")
    assert hyperplane_signature(emb, 2).collect() == []
    assert brute_force_topk(emb, [(7, [1.0, 0.0])]).collect() == []
