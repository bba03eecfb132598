"""``quantiles(qs)`` must answer bitwise what ``quantile(q)`` answers
for each q — and, for KLL, whose ``quantiles`` sorts the weighted items
once and runs one vectorized search, what the earlier per-q search
answered."""

import numpy as np
import pytest

from stream_lib_spark.sketches.kll import KLL
from stream_lib_spark.sketches.tdigest import TDigest

def kll_reference_quantile(sk, q):
    """The earlier per-q ``KLL.quantile``, kept verbatim."""
    v, w = sk._weighted_items()
    if len(v) == 0:
        return float("nan")
    cum = np.cumsum(w)
    rank = q * cum[-1]
    i = int(np.searchsorted(cum, rank, side="left"))
    return float(v[min(i, len(v) - 1)])


QS = [0.0, 1e-9, 0.01, 0.25, 0.5, 0.5, 0.75, 0.99, 1.0]


def _sketches():
    rng = np.random.default_rng(11)
    yield TDigest(compression=100.0)  # empty
    yield KLL(k=200)
    yield TDigest.from_values(np.array([4.5]), 100.0)  # one centroid
    yield KLL(k=200).add_values(np.array([4.5]))
    yield TDigest.from_values(np.array([2.0, 2.0, 2.0]), 100.0)
    for n in (2, 7, 300, 50_000):
        v = rng.lognormal(0.0, 1.5, n)
        yield TDigest.from_values(v, 100.0)
        yield TDigest.from_values(v, 100.0).merge(TDigest.from_values(rng.normal(0, 1, n), 100.0))
        yield KLL(k=200).add_values(v)
        yield KLL(k=16).add_values(v).merge(KLL(k=16).add_values(rng.integers(0, 9, n).astype(float)))


@pytest.mark.parametrize("sk", list(_sketches()), ids=lambda sk: f"{type(sk).__name__}")
def test_quantiles_equal_quantile_per_q(sk):
    batch = sk.quantiles(QS)
    single = np.array([sk.quantile(q) for q in QS])
    assert batch.dtype == np.float64 and batch.shape == (len(QS),)
    assert batch.tobytes() == single.tobytes()
    if isinstance(sk, KLL):
        assert batch.tobytes() == np.array([kll_reference_quantile(sk, q) for q in QS]).tobytes()
