"""Percentiles for clustered latency samples.

Output rows of one micro-batch share its emission time, so their
latencies are not independent: a percentile is only as trustworthy as the
number of distinct batches above it. A percentile is *supported* when at
least ``MIN_BATCHES_BEYOND`` batches contribute a row above it; at runs of
about 100 batches that makes p90 the highest supported percentile.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

MIN_BATCHES_BEYOND = 10


@dataclass(frozen=True)
class Percentile:
    q: float
    value: float
    rows: int  # samples in the whole set
    batches: int  # distinct batches in the whole set
    rows_beyond: int  # samples strictly above ``value``
    batches_beyond: int  # distinct batches with a sample strictly above ``value``

    @property
    def supported(self) -> bool:
        return self.batches_beyond >= MIN_BATCHES_BEYOND


def row_percentile(values, batches, q: float) -> Percentile:
    """Row-weighted nearest-rank percentile ``q`` (0 < q <= 100) of
    ``values``; ``batches[i]`` names the batch that emitted row ``i``."""
    v = np.asarray(values, dtype="float64")
    b = np.asarray(batches)
    if v.size == 0 or v.shape != b.shape:
        raise ValueError("need one batch id per value and at least one value")
    if not 0 < q <= 100:
        raise ValueError(f"q must be in (0, 100], got {q}")
    order = np.sort(v)
    value = float(order[math.ceil(q / 100.0 * v.size) - 1])
    above = v > value
    return Percentile(
        q=q,
        value=value,
        rows=int(v.size),
        batches=int(np.unique(b).size),
        rows_beyond=int(above.sum()),
        batches_beyond=int(np.unique(b[above]).size),
    )


def highest_supported(values, batches, grid=(50, 75, 90, 95, 99)) -> Percentile | None:
    """The highest percentile in ``grid`` that is supported, or None."""
    best = None
    for q in grid:
        p = row_percentile(values, batches, q)
        if p.supported:
            best = p
    return best
