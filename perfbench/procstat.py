"""CPU time and resident memory of the engine's process tree, from /proc.

The tree is the benchmark's own process (the Spark driver), the JVM it
launched, and the Python workers the JVM forks. Processes are sorted into
roles: ``driver`` (this process), ``jvm`` (the ``java`` process and any
wrapper above it), ``pyworker`` (Python processes below ``java``) and
``fork`` (any other process below ``java``: short-lived commands, which
right after ``fork()`` still map the whole JVM). A fork's CPU counts as
``jvm``; its memory is not counted, since it shares the JVM's pages. The
load generator is excluded by pid, with its children.
"""

from __future__ import annotations

import os
import threading

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _read_stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # comm may contain spaces; it is wrapped in the first '(' and last ')'
    head, tail = raw.split("(", 1)
    comm, rest = tail.rsplit(")", 1)
    return [head.strip(), comm] + rest.split()


def process_start_epoch(pid: int | None = None) -> float:
    """Wall-clock start time of ``pid`` (default: this process)."""
    st = _read_stat(pid or os.getpid())
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + int(st[21]) / _CLK


def _snapshot() -> dict[int, tuple[int, str, float, int]]:
    """pid -> (ppid, comm, cpu seconds incl. reaped children, rss kB)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _read_stat(int(name))
        if st is None:
            continue
        ticks = sum(int(x) for x in st[13:17])  # utime stime cutime cstime
        out[int(name)] = (int(st[3]), st[1], ticks / _CLK, int(st[23]) * _PAGE_KB)
    return out


class ProcTree:
    """Roles and usage of the processes below ``root``."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()
        self.excluded: set[int] = set()

    def exclude(self, pid: int) -> None:
        self.excluded.add(pid)

    def _roles(self, snap) -> dict[int, str]:
        children: dict[int, list[int]] = {}
        for pid, (ppid, *_rest) in snap.items():
            children.setdefault(ppid, []).append(pid)
        roles = {self.root: "driver"}
        stack = [(c, "jvm") for c in children.get(self.root, [])]
        while stack:
            pid, role = stack.pop()
            if pid in self.excluded:
                continue
            comm = snap[pid][1]
            if role == "below_java":
                role = "pyworker" if comm.startswith("python") else "fork"
            roles[pid] = role
            below = "below_java" if role != "jvm" or comm == "java" else "jvm"
            stack.extend((c, below) for c in children.get(pid, []))
        return roles

    def cpu(self) -> dict[str, float]:
        """CPU seconds per role, summed over the live processes."""
        snap = _snapshot()
        out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
        for pid, role in self._roles(snap).items():
            out["jvm" if role == "fork" else role] += snap[pid][2]
        return out

    def cpu_total(self) -> float:
        return sum(self.cpu().values())

    def rss_mb(self) -> dict[str, float]:
        """Resident MB per role, summed over the live processes but forks."""
        snap = _snapshot()
        out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
        for pid, role in self._roles(snap).items():
            if role != "fork":
                out[role] += snap[pid][3] / 1024.0
        return out

    def pids(self) -> list[int]:
        """Every live process below the root, excluding the root."""
        snap = _snapshot()
        return [p for p in self._roles(snap) if p != self.root]


class RssSampler:
    """Samples the tree's RSS on a thread. ``peak_mb`` is the highest
    total seen; ``peak_by_role`` the highest seen per role."""

    def __init__(self, tree: ProcTree, period_s: float = 0.1):
        self.tree = tree
        self.period_s = period_s
        self.peak_mb = 0.0
        self.peak_by_role: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        by_role = self.tree.rss_mb()
        self.peak_mb = max(self.peak_mb, sum(by_role.values()))
        for role, mb in by_role.items():
            self.peak_by_role[role] = max(self.peak_by_role.get(role, 0.0), mb)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
