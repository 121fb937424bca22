import json
import os
import subprocess
import sys
import time

import pyarrow.parquet as pq

from perfbench import events, gen, spec


class FakeClock:
    def __init__(self, t_us=0):
        self.t_us = t_us
        self.sleeps = []

    def now(self):
        return self.t_us

    def sleep(self, s):
        self.sleeps.append(s)
        self.t_us += int(round(s * 1e6))


def test_schedule_is_absolute_when_a_write_stalls():
    """A consumer stall that blocks one write (here slot 2, for 350 ms) makes
    that and the next slots late, but moves no later due time: the generator
    writes back-to-back until it is on schedule again."""
    clock = FakeClock()
    written = []

    def write(k):
        written.append((k, clock.now()))
        if k == 2:
            clock.t_us += 350_000

    late = gen.run_schedule(8, 0, 100_000, write, clock.now, clock.sleep)
    assert [k for k, _ in written] == list(range(8))
    due = [(k + 1) * 100_000 for k in range(8)]
    # slots 3..5 were overdue after the stall and were written without waiting
    assert [t for _, t in written] == [due[0], due[1], due[2], 650_000, 650_000, 650_000, due[6], due[7]]
    assert late == [0, 0, 350_000, 250_000, 150_000, 50_000, 0, 0]
    # the run ends on the original schedule: the stall is not added to it
    assert clock.now() == due[-1]


def test_schedule_never_waits_for_the_writer_to_catch_up():
    clock = FakeClock()
    late = gen.run_schedule(5, 0, 100_000, lambda k: None, clock.now, clock.sleep)
    assert late == [0] * 5 and sum(clock.sleeps) == 0.5


def test_events_are_seeded_and_stamped_with_due_time():
    t = spec.STREAMING["window_zipf"].traffic
    a = events.make_events(t, 7, 2, 500, 500, 1_000_000)
    b = events.make_events(t, 7, 2, 500, 500, 9_000_000)
    assert a["key"].to_pylist() == b["key"].to_pylist()
    due = a["due_us"].to_pylist()
    assert due[0] == 1_000_000 + 500 * 1_000_000 // t.rate
    assert due == sorted(due)
    lag = [d - x for d, x in zip(due, a["ts"].cast("int64").to_pylist())]
    assert 0 <= min(lag) and max(lag) <= t.disorder_us
    c = events.make_events(t, 8, 2, 500, 500, 1_000_000)
    assert c["key"].to_pylist() != a["key"].to_pylist()


def test_generator_process_keeps_its_schedule_while_nobody_reads(tmp_path):
    """Run gen.py as a process and stall the consumer (read nothing) for the
    whole run: every slot's file still lands, atomically, with its events
    stamped on the fixed schedule."""
    out, report = tmp_path / "land", tmp_path / "gen.json"
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with subprocess.Popen([
        sys.executable, os.path.join(root, "perfbench", "gen.py"), "--out", str(out),
        "--seed", "3", "--workload", "pystate_reduce", "--seconds", "1", "--report", str(report),
    ], stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True) as p:
        try:
            assert p.stdout.readline().strip() == "ready"
            start_us = time.time_ns() // 1000 + 100_000
            p.stdin.write(f"{start_us}\n")
            p.stdin.close()
            assert p.wait(timeout=60) == 0
        finally:
            if p.poll() is None:
                p.kill()
    rep = json.loads(report.read_text())
    t = spec.STREAMING["pystate_reduce"].traffic
    per_slot = t.rate * gen.INTERVAL_US // 1_000_000
    files = sorted(os.listdir(out))
    assert len(files) == rep["files"] == 10
    assert not [f for f in files if f.startswith(".")]  # no partial files left
    assert rep["events"] == 10 * per_slot and rep["late_ms_max"] >= 0
    for k, f in enumerate(files):
        due = pq.read_table(out / f)["due_us"].to_pylist()
        assert len(due) == per_slot
        slot_start = start_us + k * gen.INTERVAL_US
        assert slot_start <= min(due) and max(due) < slot_start + gen.INTERVAL_US
        # the file landed no earlier than its slot was due
        assert os.stat(out / f).st_mtime_ns // 1000 >= slot_start + gen.INTERVAL_US - 1_000
