"""batch_registry: a fixed cross-section of the query registry.

The star schema is generated from the seed. The warm-up pass builds every
query in ``spec.BATCH_QUERIES``, collects its result and compares it with
the query's ``oracle_sql()`` twin in DuckDB (``tools/check_correctness``).
Timed passes then build each query (``queries()[name](spark, dir)``) and
execute it into the ``noop`` sink; each query runs under its own Spark job
group so its jobs can be counted.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import duckdb

from perfbench import spec, starschema, stats
from perfbench.common import Engine, Result
from perfbench.procstat import ProcTree, RssSampler
from perfbench.trace import Tracer


class BatchRun:
    def __init__(self, seed: int, seconds: float, work: str,
                 engine: Engine, tracer: Tracer, tree: ProcTree):
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.engine = engine
        self.tracer = tracer
        self.tree = tree
        self.n_groups = 0

    def load(self, data: str) -> float:
        """load_table every table; returns the seconds it took."""
        from windflow_spark.tables import load_table

        t0 = time.time()
        for t in starschema.TABLES:
            with self.tracer.span("tables.load_table", table=t):
                load_table(self.engine.spark, t, data)
        return time.time() - t0

    def execute(self, name: str, data: str, qfns) -> tuple[float, float, int]:
        """Build and run one query into the noop sink: (build s, exec s, jobs)."""
        sc = self.engine.spark.sparkContext
        self.n_groups += 1
        group = f"perfbench-{self.n_groups}"
        sc.setJobGroup(group, name)
        try:
            with self.tracer.span("batch.query", query=name, group=spec.BATCH_QUERIES[name]):
                t0 = time.time()
                with self.tracer.span("batch.build"):
                    df = qfns[name](self.engine.spark, data)
                t1 = time.time()
                with self.tracer.span("batch.exec"):
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.time()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        return t1 - t0, t2 - t1, jobs

    def run(self, proc_start: float) -> Result:
        import __spark_entry__ as entry
        from tools.check_correctness import compare

        with self.tracer.span("bench.launch"):
            spark = self.engine.start()
        launch_s = time.time() - proc_start
        launch_cpu = self.tree.cpu_total()
        data = os.path.join(self.work, "star")
        with self.tracer.span("bench.stage"):
            t0, c0 = time.time(), self.tree.cpu_total()
            starschema.generate(data, self.seed, spec.STAR_SF)
            stage_s, stage_cpu = time.time() - t0, self.tree.cpu_total() - c0
        rounds, round_cpu = [], []
        for r in range(spec.SETUP_ROUNDS):
            # a fresh copy per round, so load_table's per-path cache misses
            copy = shutil.copytree(data, f"{data}-{r}")
            with self.tracer.span("bench.setup_round", round=r):
                c0 = self.tree.cpu_total()
                rounds.append(self.load(copy))
                round_cpu.append(self.tree.cpu_total() - c0)
        data = copy
        qfns, oracles = entry.queries(), entry.oracle_sql()
        names = list(spec.BATCH_QUERIES)

        # warm-up pass: every query once, result checked against DuckDB; only
        # the Spark side counts towards set-up time
        con = duckdb.connect()
        for t in starschema.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        warmup_s, warmup_cpu, bad = 0.0, 0.0, []
        with self.tracer.span("bench.warmup"):
            for name in names:
                t0, c0 = time.time(), self.tree.cpu_total()
                try:
                    got = qfns[name](spark, data).toPandas()
                    warmup_s += time.time() - t0
                    warmup_cpu += self.tree.cpu_total() - c0
                    problems = compare(name, got, con.execute(oracles[name]).df())
                except Exception as e:  # a failing query is a result, not a crash
                    problems = [f"{type(e).__name__}: {e}"]
                if problems:
                    bad.append((name, problems))
        con.close()
        # a query that failed its check is not timed; each skipped run counts as failed
        names = [n for n in names if n not in dict(bad)]
        setup_wall_s = launch_s + stage_s + statistics.median(rounds) + warmup_s
        setup_cpu_s = launch_cpu + stage_cpu + statistics.median(round_cpu) + warmup_cpu

        passes = []  # per pass: {name: (build, exec, jobs)} and the pass's cpu
        walls = []  # per pass: summed build + exec seconds
        with RssSampler(self.tree) as rss:
            # as many whole passes as fit in ``seconds``, and at least two
            t_start = time.time()
            while len(passes) < 2 or time.time() - t_start + walls[-1] <= self.seconds:
                c0 = self.tree.cpu()
                with self.tracer.span("bench.pass", index=len(passes)):
                    per = {n: self.execute(n, data, qfns) for n in names}
                c1 = self.tree.cpu()
                passes.append((per, {k: c1[k] - c0[k] for k in c0}))
                walls.append(sum(b + e for b, e, _j in per.values()))

        # a query's latency is its fastest build + execute time over the
        # passes: contention from outside the run only ever adds time, so the
        # minimum is the steadiest estimate of what the code costs
        best = {n: min(per[n][0] + per[n][1] for per, _c in passes) for n in names}
        lat_ms = [1e3 * t for t in best.values()]
        p50 = stats.row_percentile(lat_ms, range(len(lat_ms)), 50)
        p90 = stats.row_percentile(lat_ms, range(len(lat_ms)), 90)
        cpu = min((c for _p, c in passes), key=lambda c: sum(c.values()))  # the cheapest pass
        e2e = {
            "setup_s": setup_cpu_s,
            "throughput_per_cpu_s": len(names) / sum(cpu.values()),
            "cpu_s": sum(cpu.values()),
        }
        wall = {
            "wall.throughput_per_s": len(names) / sum(best.values()),
            "wall.lat_p50_ms": p50.value,
            "wall.lat_p90_ms": p90.value,
            "wall.peak_rss_mb": rss.peak_mb,
        }
        summary = {
            **wall,
            "setup_wall_s": setup_wall_s,
            "launch_s": launch_s, "stage_s": stage_s, "setup_rounds_s": rounds,
            "warmup_s": warmup_s, "peak_rss_mb_by_role": rss.peak_by_role,
            "launch_cpu_s": launch_cpu, "setup_rounds_cpu_s": round_cpu, "warmup_cpu_s": warmup_cpu,
            "passes": len(passes), "pass_wall_s": walls, "queries": len(names),
            "batch_wall_s": sum(best.values()),
            "lat_samples": p50.rows, "lat_p90_samples_beyond": p90.rows_beyond,
            "lat_p90_supported": p90.supported,
            "query_s": best,
            "failed_queries": {n: p[:2] for n, p in bad},
        }
        layers = {**wall, **self._layers(passes, cpu, statistics.median(rounds))} if self.tracer.enabled else {}
        attempted = len(spec.BATCH_QUERIES) * (1 + len(passes))
        return Result(e2e, layers, attempted, len(bad) * (1 + len(passes)), summary)

    def _layers(self, passes, cpu, load_s) -> dict[str, float]:
        def med(vals):
            return float(statistics.median(vals))

        out = {
            "tables.load_table_s": load_s,
            "cpu.jvm_s": cpu["jvm"],
            "cpu.pyworker_s": cpu["pyworker"],
            "cpu.driver_s": cpu["driver"],
        }
        for group in (None,) + spec.BATCH_GROUPS:
            names = [n for n, g in spec.BATCH_QUERIES.items() if group in (None, g) and n in passes[0][0]]
            prefix = "batch" if group is None else f"batch.{group}"
            out[f"{prefix}.build_s"] = med([sum(per[n][0] for n in names) for per, _c in passes])
            out[f"{prefix}.exec_s"] = med([sum(per[n][1] for n in names) for per, _c in passes])
            out[f"{prefix}.spark_jobs"] = med([sum(per[n][2] for n in names) for per, _c in passes])
        return out

