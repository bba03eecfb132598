"""Correctness checks of every op against the exact oracle.

Each check returns the op's observed error divided by its published
bound, so 1.0 is the edge of the contract, or raises ``CheckFailed``
for a guarantee that allows no error at all.  The bounds are the ones
``tools/bench_error_sweep.py`` uses for each kind; they are restated
here so that the benchmark does not move when that tool changes.
"""

from __future__ import annotations

import math

import numpy as np

#: canonical quantiles of the quantile ops
QUANTILES = (0.01, 0.1, 0.5, 0.9, 0.99)
#: merged rank-error contract of tdigest (delta=100) and kll (k=200)
RANK_BOUND = 0.015
#: HLL++ at p=14: about 3 sigma of the 1.04/sqrt(m) standard error
HLL_BOUND = 3 * 1.04 / math.sqrt(1 << 14)


class CheckFailed(Exception):
    """An op's output broke a guarantee of its sketch."""


def hll(estimate: float, exact: int) -> float:
    return abs(float(estimate) - exact) / max(exact, 1) / HLL_BOUND


def rank(sorted_values: np.ndarray, estimates) -> float:
    """Rank error of quantile estimates at ``QUANTILES``.  With ties and
    few values the rank of an estimate is an interval; its distance
    from q, less two rank steps (2/n: one for the interval's
    granularity, one for interpolating inside a centroid of a few
    values), is the error.  At n=97 a tdigest's estimate was measured
    2.5 rank steps from q; the 0.015 contract is stated for n=100k."""
    n = len(sorted_values)
    est = np.asarray(estimates, dtype=np.float64)
    lo = np.searchsorted(sorted_values, est, side="left") / n
    hi = np.searchsorted(sorted_values, est, side="right") / n
    q = np.asarray(QUANTILES)
    dist = np.maximum(0.0, np.maximum(q - hi, lo - q))
    return max(0.0, float(dist.max()) - 2.0 / n) / RANK_BOUND


def cms(estimates, exact, eps: float) -> float:
    """Count-Min: never an under-count; over-count <= eps * N."""
    over = np.asarray(estimates, dtype=np.int64) - np.asarray(exact, dtype=np.int64)
    if (over < 0).any():
        raise CheckFailed(f"cms under-counted {int((over < 0).sum())} items")
    return float(over.max()) / (eps * float(np.sum(exact)))


def bloom(bf, member_hashes: np.ndarray) -> float:
    """Bloom filter: no false negatives (the bound allows none)."""
    missing = int((~bf.contains_hashed(member_hashes)).sum())
    if missing:
        raise CheckFailed(f"bloom: {missing} false negatives")
    return 0.0


def topk(rows, tools: np.ndarray, counts: np.ndarray, capacity: int) -> float:
    """Space-Saving: every reported count brackets the true count
    (count - error <= f <= count, over-count <= N/capacity), and every
    item whose true count beats both N/capacity and the k-th reported
    count is reported."""
    truth = dict(zip(tools.tolist(), counts.tolist()))
    n = float(counts.sum())
    worst = 0.0
    for item, count, error in rows:
        f = truth.get(item, 0)
        if not count - error <= f <= count:
            raise CheckFailed(f"topk: {item} count {count} error {error} true {f}")
        worst = max(worst, (count - f) / (n / capacity))
    reported = {r[0] for r in rows}
    floor = max(n / capacity, min(r[1] for r in rows)) if rows else n / capacity
    missing = [t for t, f in truth.items() if f > floor and t not in reported]
    if missing:
        raise CheckFailed(f"topk: guaranteed heavy hitters missing: {missing[:5]}")
    return worst


def keyed_rank(quantiles: dict, table) -> float:
    """Per-conv tdigest quantiles against each conv's exact latencies."""
    index = {k: i for i, k in enumerate(table.conv_keys.tolist())}
    if set(quantiles) != set(index):
        raise CheckFailed(f"keyed tdigest: {len(quantiles)} keys, expected {len(index)}")
    off, vals = table.conv_offsets, table.conv_values
    return max(rank(vals[off[index[k]]:off[index[k] + 1]], est) for k, est in quantiles.items())


def keyed_hll(estimates: dict, table) -> float:
    """Per-tool HLL estimates (the null-tool group, keyed ``None``,
    included) against each group's exact distinct conv count."""
    exact = dict(zip(table.tool_group_keys.tolist(), table.tool_group_distinct.tolist()))
    got = {"" if k is None else k: v for k, v in estimates.items()}
    if set(got) != set(exact):
        raise CheckFailed(f"keyed hll: {len(got)} keys, expected {len(exact)}")
    return max(hll(v, exact[k]) for k, v in got.items())
