"""Flat numpy views of Arrow columns, and the way back: the one boundary
the Python kernels cross.

A sliced Arrow array shares its parent's buffers: ``ListArray.values``
ignores the slice, and neither the list offsets nor a string array's
offsets buffer are rebased.  So every reader here returns the slice's
own flat values together with int64 offsets rebased to 0: row ``i`` is
``values[offsets[i]:offsets[i + 1]]``.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa


def one_array(arr: pa.Array | pa.ChunkedArray) -> pa.Array:
    """``arr`` as one Array: a lone chunk is returned as it is, with no
    copy; more chunks are combined."""
    if isinstance(arr, pa.ChunkedArray):
        return arr.chunk(0) if arr.num_chunks == 1 else arr.combine_chunks()
    return arr


def string_bytes(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(uint8 data, int64 offsets) of a string or binary array, read
    off its offsets and data buffers without copying the data."""
    if len(arr) == 0:
        return np.empty(0, dtype=np.uint8), np.zeros(1, dtype=np.int64)
    large = pa.types.is_large_string(arr.type) or pa.types.is_large_binary(arr.type)
    width = 8 if large else 4
    _, obuf, dbuf = arr.buffers()
    offs = np.frombuffer(obuf, dtype=np.int64 if large else np.int32,
                         count=len(arr) + 1, offset=arr.offset * width).astype(np.int64)
    # an array of only empty strings may carry no data buffer
    data = np.frombuffer(dbuf, dtype=np.uint8) if dbuf is not None else np.empty(0, dtype=np.uint8)
    return data[offs[0]:offs[-1]], offs - offs[0]


def list_values(arr: pa.ListArray) -> tuple[np.ndarray, np.ndarray]:
    """(flat values, int64 offsets) of a list array; the values are a
    zero-copy view when the child array holds no nulls."""
    offs = arr.offsets.to_numpy().astype(np.int64)
    lo, hi = int(offs[0]), int(offs[-1])
    return arr.values.slice(lo, hi - lo).to_numpy(zero_copy_only=False), offs - lo


def fixed_lists(m: np.ndarray) -> pa.ListArray:
    """One list array whose row ``i`` is row ``i`` of the (n, w) matrix
    ``m``.  Its offsets are int32: a matrix of 2^31 or more values
    raises rather than wraps."""
    n, w = m.shape
    return pa.ListArray.from_arrays(pa.array(np.arange(n + 1) * w, pa.int32()), pa.array(m.ravel()))
