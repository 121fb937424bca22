"""Session lifecycle and the result every workload returns."""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time
from dataclasses import dataclass, field

from perfbench.procstat import ProcTree
from perfbench.trace import Tracer


@dataclass
class Result:
    end_to_end: dict[str, float]
    per_layer: dict[str, float]
    attempted: int
    failed: int
    summary: dict = field(default_factory=dict)  # sample counts and diagnostics


class Engine:
    """Starts and finally stops the Spark session through
    ``windflow_spark.session``, keeping every file Spark writes under
    ``work``."""

    def __init__(self, work: str, cores: int, tracer: Tracer, tree: ProcTree):
        self.work = work
        self.cores = cores
        self.tracer = tracer
        self.tree = tree
        self.spark = None
        self.get_spark_s = 0.0
        for d in ("tmp", "local", "warehouse"):
            os.makedirs(os.path.join(work, d), exist_ok=True)
        tmp = os.path.join(work, "tmp")
        os.environ["TMPDIR"] = tmp
        # every JVM the launcher starts: temp files under ``work``, and no
        # hsperfdata file, which HotSpot would otherwise write to /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
        os.environ["SPARK_GRAFT_CPUS"] = str(cores)
        os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
        os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
        # Python workers must run the interpreter that runs the driver
        os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

    def start(self):
        """Start the session, which launches the JVM."""
        from windflow_spark.session import get_spark

        t0 = time.time()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                "perfbench",
                extra_conf={"spark.ui.showConsoleProgress": "false"},
            )
        self.get_spark_s = time.time() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for every process the
        session started (JVM and Python workers) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        pids = self.tree.pids()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        try:
            self.spark.stop()
        finally:
            if gateway is not None:
                gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=10)
            _wait_gone(pids, 15.0)
        self.spark = None


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().split(")")[-1].split()[0] != "Z"
    except OSError:
        return False


def _wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait for ``pids`` to exit; SIGKILL whatever is left at the deadline."""
    deadline = time.time() + timeout_s
    killed = False
    while any(_alive(p) for p in pids):
        if time.time() > deadline:
            if killed:
                return
            for p in pids:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed, deadline = True, time.time() + 5.0
        time.sleep(0.05)
