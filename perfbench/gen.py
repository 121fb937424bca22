"""Open-loop load generator, run as its own process.

File ``k`` holds the events due in ``[start + k*interval, start + (k+1)*interval)``
and is due at the end of that slot. The schedule is absolute: a slow write
or a stalled consumer never moves a later slot, so a late file is followed
by files written back-to-back until the generator is on schedule again.
The generator reports how late it ran, which bounds how much of the
measured latency it caused itself.

Usage: python3 perfbench/gen.py --out DIR --seed N --workload NAME
       --seconds S --report FILE

Once imported, the generator prints ``ready`` and reads the schedule's
start (epoch µs) as one line from standard input, so its start-up cost
never makes the first slot late.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import events, spec  # noqa: E402

INTERVAL_US = 100_000


def run_schedule(
    n_slots: int,
    start_us: int,
    interval_us: int,
    write: Callable[[int], None],
    now_us: Callable[[], int],
    sleep: Callable[[float], None],
) -> list[int]:
    """Call ``write(k)`` once slot ``k`` is due; return each slot's lateness
    in µs (write return time minus due time)."""
    late = []
    for k in range(n_slots):
        due = start_us + (k + 1) * interval_us
        wait = due - now_us()
        if wait > 0:
            sleep(wait / 1e6)
        write(k)
        late.append(now_us() - due)
    return late


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--workload", required=True, choices=sorted(spec.STREAMING))
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--report", required=True)
    a = ap.parse_args(argv)

    traffic = spec.STREAMING[a.workload].traffic
    per_slot = traffic.rate * INTERVAL_US // 1_000_000
    n_slots = int(a.seconds * 1_000_000 // INTERVAL_US)
    os.makedirs(a.out, exist_ok=True)
    # one throw-away write loads the parquet writer's lazy code paths, so the
    # first slot is not late; Spark's file source skips dot-names
    probe = events.make_events(traffic, a.seed, spec.OPEN_LOOP_SALT, 0, per_slot, 0)
    events.write_atomic(probe, a.out, ".probe.parquet")
    os.remove(os.path.join(a.out, ".probe.parquet"))
    print("ready", flush=True)
    start_us = int(sys.stdin.readline())

    def write(k: int) -> None:
        tbl = events.make_events(
            traffic, a.seed, spec.OPEN_LOOP_SALT, k * per_slot, per_slot, start_us
        )
        events.write_atomic(tbl, a.out, f"slot-{k:06d}.parquet")

    late = run_schedule(
        n_slots, start_us, INTERVAL_US, write,
        lambda: time.time_ns() // 1000, time.sleep,
    )
    report = {
        "events": n_slots * per_slot,
        "files": n_slots,
        "late_ms_max": max(late) / 1000.0 if late else 0.0,
        "late_ms_p50": sorted(late)[len(late) // 2] / 1000.0 if late else 0.0,
        "late_slot_max": late.index(max(late)) if late else -1,
    }
    tmp = a.report + ".tmp"
    with open(tmp, "w") as f:
        json.dump(report, f)
    os.rename(tmp, a.report)
    return 0


if __name__ == "__main__":
    sys.exit(main())
