"""Byte pins for ``TDigest.compress`` and the t-digest blob fold.

``reference_compress`` is a frozen copy of the earlier ``compress``
(three scalar numpy calls per output centroid: ``np.clip``,
``np.arcsin``, ``np.searchsorted``).  The current loop must give the
same bytes on every digest: the cut points follow the last bit of the
k1 scale function, so any drift shows up as a different centroid list.
``tools/bench_tdigest_compress.py`` times the two against each other.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from stream_lib_spark.agg import SketchSpec, _fold
from stream_lib_spark.sketches.tdigest import TDigest, _k_inv


def _k_fn(q, delta):
    return (delta / (2.0 * math.pi)) * np.arcsin(2.0 * np.clip(q, 0.0, 1.0) - 1.0)


def reference_compress(self):
    """The earlier ``TDigest.compress``, kept verbatim as the byte oracle."""
    n = len(self.means)
    if n == 0:
        return self
    order = np.lexsort((self.weights, self.means))
    means, weights = self.means[order], self.weights[order]
    cum = np.cumsum(weights)
    total = float(cum[-1])
    out_m, out_w = [], []
    i = 0
    w_so_far = 0.0
    delta = self.compression
    while i < n:
        q0 = w_so_far / total
        q_limit = _k_inv(float(_k_fn(q0, delta)) + 1.0, delta)
        w_limit = total * q_limit
        j = int(np.searchsorted(cum, w_limit, side="right")) - 1
        if j < i:
            j = i
        w = float(cum[j] - w_so_far)
        if means[i] == means[j]:
            out_m.append(float(means[i]))
        else:
            seg_w = weights[i : j + 1]
            out_m.append(float(np.dot(means[i : j + 1], seg_w) / w))
        out_w.append(w)
        w_so_far = float(cum[j])
        i = j + 1
    self.means = np.array(out_m, dtype=np.float64)
    self.weights = np.array(out_w, dtype=np.float64)
    self.total = total
    return self


class ReferenceTDigest(TDigest):
    compress = reference_compress


def fuzz_case(seed: int):
    """One seeded case: (delta, [batches]) — delta in {20, 100, 500},
    1 to 70,000 values log-uniformly, continuous or integer atoms with
    signed zeros mixed in, split into 1-3 batches."""
    rng = np.random.default_rng(seed)
    delta = float(rng.choice([20, 100, 500]))
    n = int(np.exp(rng.uniform(0.0, math.log(70_000))))
    shape = seed % 4
    if shape == 0:
        v = rng.normal(0.0, 1.0, n)
    elif shape == 1:
        v = rng.integers(-3, 4, n).astype(np.float64)  # integer atoms
    elif shape == 2:
        v = rng.exponential(1.0, n) * rng.choice([-1.0, 1.0], n)
        v[rng.random(n) < 0.2] = -0.0
        v[rng.random(n) < 0.2] = 0.0
    else:
        v = np.round(rng.lognormal(0.0, 2.0, n), 1)  # heavy repeats, long tail
    cuts = np.sort(rng.integers(0, n + 1, int(rng.integers(0, 3))))
    return delta, np.split(v, cuts)


def _build(cls, delta, batches):
    sk = cls(compression=delta)
    for b in batches:
        sk.add_values(b)
    return sk


@pytest.mark.parametrize("block", range(9))
def test_compress_bytes_match_reference(block):
    for seed in range(block * 100, block * 100 + 100):
        delta, batches = fuzz_case(seed)
        got = _build(TDigest, delta, batches).to_bytes()
        assert got == _build(ReferenceTDigest, delta, batches).to_bytes(), seed


def test_compress_after_300_way_merge_matches_reference():
    rng = np.random.default_rng(16)
    parts = [TDigest.from_values(rng.normal(rng.uniform(-5, 5), 1.0, int(rng.integers(1, 400))), 100.0)
             for _ in range(300)]
    merged = TDigest(compression=100.0)
    for p in parts:
        merged.merge(p)
    ref = ReferenceTDigest(compression=100.0, means=merged.means.copy(), weights=merged.weights.copy(),
                           total=merged.total, vmin=merged.vmin, vmax=merged.vmax)
    assert merged.compress().to_bytes() == ref.compress().to_bytes()


def _signed_zero_blobs(n_blobs: int, seed: int) -> list[bytes]:
    """Uncompressed-looking t-digest blobs with +0.0/-0.0 means, repeated
    atoms and equal (mean, weight) pairs across blobs, so the tie order
    of the fold's sorts shows in the bytes."""
    rng = np.random.default_rng(seed)
    blobs = []
    for _ in range(n_blobs):
        k = int(rng.integers(0, 12))
        means = rng.choice([-0.0, 0.0, 1.0, 2.5, -3.0], k)
        means[: k // 2] = rng.normal(0.0, 2.0, k // 2)
        weights = rng.integers(1, 4, k).astype(np.float64)
        order = np.lexsort((weights, means))
        sk = TDigest(compression=100.0, means=means[order], weights=weights[order],
                     total=float(weights.sum()) + 0.1 * float(rng.integers(0, 3)),
                     vmin=float(means.min()) if k else math.inf,
                     vmax=float(means.max()) if k else -math.inf)
        blobs.append(sk.to_bytes())
    return blobs


@pytest.mark.parametrize("final", [False, True])
def test_fold_bytes_equal_chained_merge(final):
    blobs = _signed_zero_blobs(320, seed=5)
    chained = None
    for b in blobs:
        s = TDigest.from_bytes(b)
        chained = s if chained is None else chained.merge(s)
    if final:
        chained.compress()
    spec = SketchSpec("tdigest", compression=100.0)
    assert _fold(blobs, spec, final=final).to_bytes() == chained.to_bytes()
    # folding onto a running state (the fold kernel's per-batch shape)
    half = _fold(blobs[:150], spec, final=False)
    assert _fold(blobs[150:], spec, half, final=final).to_bytes() == chained.to_bytes()


def test_fold_of_one_blob_keeps_it_unsorted():
    sk = TDigest(compression=100.0, means=np.array([2.0, -0.0, 0.0]), weights=np.ones(3),
                 total=3.0, vmin=-0.0, vmax=2.0)
    assert _fold([sk.to_bytes()], SketchSpec("tdigest", compression=100.0),
                 final=False).to_bytes() == sk.to_bytes()
