"""Benchmark entry point: run one workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. The last line of
standard output is the result: ``{"correct", "attempted", "failed",
"metrics"}``; with ``--trace 0`` the metrics are the end-to-end metrics,
with ``--trace 1`` the per-layer metrics of a traced run (spans are written
to ``.perfbench_work/trace-<workload>-s<seed>.json``). The line before it
holds sample counts and diagnostics. Exits 2 without a result when the
program under test cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import spec  # noqa: E402
from perfbench.procstat import ProcTree, process_start_epoch  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

WORKLOADS = ("window_zipf", "pystate_reduce", "batch_registry")

# the metrics BENCHMARK.json bounds: CPU time, unlike wall time, does not
# stretch when the host gives the VM less CPU, so these stay steady from run
# to run
END_TO_END = {
    "setup_s": "s",
    "throughput_per_cpu_s": "1/cpu_s",
    "cpu_s": "s",
}

# every per-layer metric; a workload that does not run a layer reports 0.
# The wall.* group is the user's wall-clock view of the run, recorded but not
# gated: it moves with the host's load by up to 30 % between runs.
PER_LAYER = {
    "wall.throughput_per_s": "1/s",
    "wall.lat_p50_ms": "ms",
    "wall.lat_p90_ms": "ms",
    "wall.peak_rss_mb": "MB",
    "session.get_spark_s": "s",
    "tables.load_table_s": "s",
    "gen.late_ms_max": "ms",
    "gen.events": "count",
    "sources.offset_ms": "ms",
    "sources.get_batch_ms": "ms",
    "sources.backlog_files_end": "count",
    "sources.read_lag_ms": "ms",
    "checkpoint.wal_commit_ms": "ms",
    "checkpoint.commit_offsets_ms": "ms",
    "ops.query_planning_ms": "ms",
    "ops.batches": "count",
    "ops.build_ms": "ms",
    "ops.add_batch_ms": "ms",
    "ops.rows_in": "count",
    "ops.rows_out": "count",
    "ops.trigger_ms_p50": "ms",
    "ops.trigger_ms_p90": "ms",
    "state.rows_total": "count",
    "state.rows_updated": "count",
    "state.rows_removed": "count",
    "state.memory_bytes": "bytes",
    "state.commit_ms": "ms",
    "state.update_ms": "ms",
    "state.removal_ms": "ms",
    "state.dropped_late": "count",
    "state.dropped_late_ratio": "1",
    "cpu.jvm_s": "s",
    "cpu.pyworker_s": "s",
    "cpu.driver_s": "s",
    "sinks.fn_ms": "ms",
    "sinks.rows_written": "count",
    "sinks.bytes_written": "bytes",
    **{
        f"{prefix}.{m}": unit
        for prefix in ("batch",) + tuple(f"batch.{g}" for g in spec.BATCH_GROUPS)
        for m, unit in (("build_s", "s"), ("exec_s", "s"), ("spark_jobs", "count"))
    },
    **{f"{layer}.self_s": "s" for layer in
       ("session", "tables", "sources", "checkpoint", "ops", "sinks", "batch")},
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=4, help="Spark local[N] parallelism")
    a = ap.parse_args(argv)
    proc_start = process_start_epoch()

    try:
        import __spark_entry__  # noqa: F401
        import tools.check_correctness  # noqa: F401
        import windflow_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test from {ROOT}: {e}", file=sys.stderr)
        return 2

    from perfbench.common import Engine

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{a.workload}-s{a.seed}-{os.getpid()}")
    os.makedirs(work)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tracer = Tracer(bool(a.trace))
    tree = ProcTree()
    engine = Engine(work, a.cores, tracer, tree)
    try:
        if a.workload == "batch_registry":
            from perfbench.batch import BatchRun

            run = BatchRun(a.seed, a.seconds, work, engine, tracer, tree)
        else:
            from perfbench.streaming import StreamingRun

            run = StreamingRun(a.workload, a.seed, a.seconds, work, engine, tracer, tree)
        result = run.run(proc_start)
    finally:
        engine.shutdown()
        shutil.rmtree(work, ignore_errors=True)

    if a.trace:
        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers.update(result.per_layer)
        layers["session.get_spark_s"] = engine.get_spark_s
        for layer, t in tracer.layer_self_s().items():
            if f"{layer}.self_s" in layers:
                layers[f"{layer}.self_s"] = t
        tracer.write(os.path.join(work_root, f"trace-{a.workload}-s{a.seed}.json"))
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": result.end_to_end[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "end_to_end": result.end_to_end, "samples": result.summary,
    }))
    print(json.dumps({
        "correct": result.failed == 0,
        "attempted": int(result.attempted),
        "failed": int(result.failed),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
