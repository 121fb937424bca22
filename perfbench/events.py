"""Seeded event streams for the streaming workloads.

Every event carries ``key``, ``value``, ``ts`` (event time) and ``due_us``
(the epoch-µs instant the generator was due to create it). Event ``i`` is
due at ``start_us + i * 1e6 / rate``; its event time trails the due time by
a uniform disorder in ``[0, disorder_us]``, so arrival order and event-time
order differ by at most ``disorder_us``. Keys follow a Zipf law over
``n_keys`` keys. The same seed, salt and chunking give the same keys,
values and disorder for any start time.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass(frozen=True)
class Traffic:
    """Traffic properties of one streaming workload."""

    rate: int  # open-loop events per second
    n_keys: int
    zipf_s: float  # P(key rank r) ∝ 1 / r^s
    disorder_us: int  # max event-time lag behind the due time
    value_type: str  # "long" or "double" (the pipeline's value column)

    def hottest_share(self) -> float:
        w = 1.0 / np.arange(1, self.n_keys + 1) ** self.zipf_s
        return float(w[0] / w.sum())


def _key_cdf(t: Traffic) -> np.ndarray:
    w = 1.0 / np.arange(1, t.n_keys + 1) ** t.zipf_s
    return np.cumsum(w) / w.sum()


def make_events(t: Traffic, seed: int, salt: int, first: int, count: int, start_us: int) -> pa.Table:
    """Events ``first .. first+count-1`` of the stream named by (seed, salt).

    Each chunk is drawn from its own generator seeded by (seed, salt,
    first), so a file's contents depend only on its position in the stream.
    """
    rng = np.random.default_rng([seed, salt, first])
    u_key = rng.random(count)
    vals = rng.integers(0, 1000, count)
    lag = rng.integers(0, t.disorder_us + 1, count)
    n = first + count
    idx = np.arange(first, n, dtype="int64")
    due = start_us + (idx * 1_000_000) // t.rate
    keys = np.minimum(np.searchsorted(_key_cdf(t), u_key, side="right"), t.n_keys - 1)
    value = vals.astype("float64") if t.value_type == "double" else vals.astype("int64")
    return pa.table({
        "key": keys.astype("int64"),
        "value": value,
        "ts": pa.array(due - lag, pa.int64()).cast(pa.timestamp("us", tz="UTC")),
        "due_us": due,
    })


def write_atomic(table: pa.Table, directory: str, name: str) -> int:
    """Write ``table`` as ``directory/name`` so a reader never sees a partial
    file: write under a dot-name (Spark's file source skips those), then
    rename. Returns the file size in bytes."""
    tmp = os.path.join(directory, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(directory, name))
    return os.path.getsize(os.path.join(directory, name))
